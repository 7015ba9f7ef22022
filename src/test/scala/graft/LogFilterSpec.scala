package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The test session silences one known-benign scheduler message and
  * nothing else on that logger. */
class LogFilterSpec extends SparkSpec {

  test("DAGScheduler drops only the accumulator-update ERROR; others stay loud") {
    spark // the session installs the log scoping
    val name = TestSession.DAGSchedulerLogger
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration.getLoggerConfig(name)
    assert(cfg.getName == name, "the scheduler logger has its own config")
    val seen = new ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("log-filter-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val additive = cfg.isAdditive
    cfg.addAppender(probe, null, null)
    cfg.setAdditive(false) // keep the probe lines off the console
    ctx.updateLoggers()
    try {
      // through slf4j, the way Spark logs
      val log = org.slf4j.LoggerFactory.getLogger(name)
      log.error("Failed to update accumulator 7 (probe) for task 0",
        new IllegalStateException("attempted to access non-existent accumulator 7"))
      log.error("Job 7 failed: a real scheduler error (probe)")
    } finally {
      cfg.removeAppender(probe.getName)
      cfg.setAdditive(additive)
      ctx.updateLoggers()
      probe.stop()
    }
    assert(seen.asScala.toSeq === Seq("Job 7 failed: a real scheduler error (probe)"))
  }
}
