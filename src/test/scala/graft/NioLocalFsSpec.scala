package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.engine.NioLocalFs
import graft.streaming.Streams
import Streams.{BoardRow, Passage}

/** The engine's fork-free local `file:` filesystem: the streaming
  * board runs without starting a child process, keeps Hadoop's
  * local-filesystem semantics, and still recovers from its
  * checkpoint. */
class NioLocalFsSpec extends SparkSpec with TransitFixtures {

  /** Commands of the child processes that Hadoop code started while
    * `body` ran. Spark's own probes and deferred cleanups (`getconf
    * PAGESIZE`, `rm -rf` of other suites' RocksDB and artifact dirs)
    * also fork in the shared test JVM, but never through Hadoop. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def fileContext(conf: Configuration) =
    FileContext.getFileContext(new URI("file:///"), conf)

  private def hadoopConf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def graftConf(umask: String): Configuration = {
    val c = hadoopConf(umask)
    c.set(NioLocalFs.ImplKey, classOf[NioLocalFs].getName)
    c
  }

  private def write(fc: FileContext, p: Path, bytes: Array[Byte],
      perm: FsPermission = null): Unit = {
    val opts = Option(perm).map(Options.CreateOpts.perms).toSeq
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), opts: _*)
    try out.write(bytes) finally out.close()
  }

  private def posix(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("delayBoard micro-batches fork no filesystem child process; file: resolves to NioLocalFs") {
    // control: the stock LocalFs forks chmod for a created file, so the
    // recording below would see the checkpoint writes if they forked
    val ctl = Files.createTempDirectory("fork-control")
    val seen = hadoopForks(write(fileContext(hadoopConf("022")),
      new Path(ctl.resolve("f").toString), Array[Byte](1)))
    assert(seen.nonEmpty, "the stock local filesystem should fork chmod")

    val s = spark
    import s.implicits._
    val ckpt = Files.createTempDirectory("fork-ckpt")
    val mem = MemoryStream[Passage](101, spark, None)
    val board = Streams.delayBoard(mem.toDS(), boardSched())
    var batches = 0
    val forks = hadoopForks {
      val q = board.writeStream.format("memory").queryName("t_fork_board")
        .option("checkpointLocation", ckpt.toUri.toString)
        .outputMode("update").start()
      try {
        boardCycles().foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        batches = q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    assert(batches >= 5, s"only $batches micro-batches ran")
    assert(forks.size == 0, s"child processes: ${forks.take(5)}")
    // the checkpoint really went through the local filesystem
    assert(Files.exists(ckpt.resolve("commits").resolve("0")))
    val fc = FileContext.getFileContext(ckpt.toUri,
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("NioLocalFs keeps Hadoop's permission bits, rename guard, .crc sidecars and symlinks") {
    val root = Files.createTempDirectory("niolocalfs")
    val umask = "027"
    val stock = fileContext(hadoopConf(umask))
    val graftFc = fileContext(graftConf(umask))
    assert(graftFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(!stock.getDefaultFileSystem.isInstanceOf[NioLocalFs])

    // create/mkdir permission bits equal the stock stack's after umask
    val perms = Seq(None, Some(new FsPermission("750")),
      Some(new FsPermission("777")), Some(new FsPermission("604")))
    for ((fc, side) <- Seq(stock -> "stock", graftFc -> "graft");
         (perm, i) <- perms.zipWithIndex) {
      val dir = new Path(root.resolve(s"$side/d$i/sub").toString)
      fc.mkdir(dir, perm.getOrElse(FsPermission.getDirDefault), true)
      write(fc, new Path(dir, "f"), Array[Byte](1, 2, 3), perm.orNull)
    }
    for (i <- perms.indices; rel <- Seq(s"d$i", s"d$i/sub", s"d$i/sub/f")) {
      val (a, b) = (root.resolve(s"stock/$rel"), root.resolve(s"graft/$rel"))
      assert(posix(a) == posix(b), s"$rel: stock ${posix(a)} vs graft ${posix(b)}")
    }
    assert(posix(root.resolve("graft/d1/sub")) == "rwxr-x---")
    assert(posix(root.resolve("graft/d3/sub/f")) == "rw-------")

    // rename without overwrite onto an existing file still fails (the
    // metadata-log writer's guard); with OVERWRITE it replaces it and
    // carries the .crc sidecar along
    val a = new Path(root.resolve("graft/a").toString)
    val b = new Path(root.resolve("graft/b").toString)
    write(graftFc, a, "first".getBytes("UTF-8"))
    write(graftFc, b, "second".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](graftFc.rename(a, b))
    graftFc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!Files.exists(root.resolve("graft/a")))
    assert(!Files.exists(root.resolve("graft/.a.crc")))
    assert(Files.exists(root.resolve("graft/.b.crc")))
    // the sidecar matches the stock stack's byte for byte, and Hadoop's
    // checksummed reader verifies the data against it
    write(stock, new Path(root.resolve("stock/b").toString), "first".getBytes("UTF-8"))
    assert(Files.readAllBytes(root.resolve("graft/.b.crc")).sameElements(
      Files.readAllBytes(root.resolve("stock/.b.crc"))))
    val local = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())
    def readChecked(): String = {
      val in = local.open(b)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(readChecked() == "first")
    Files.write(root.resolve("graft/b"), "firsT".getBytes("UTF-8"))
    intercept[ChecksumException](readChecked())

    // a symlink reports as a link, exactly as the stock stack reports it
    val target = root.resolve("graft/d0/sub/f")
    val link = Files.createSymbolicLink(root.resolve("graft/link"), target)
    val viaGraft = graftFc.getFileLinkStatus(new Path(link.toString))
    val viaStock = stock.getFileLinkStatus(new Path(link.toString))
    assert(viaGraft.isSymlink && viaStock.isSymlink)
    assert(viaGraft.getSymlink == viaStock.getSymlink)
    assert(viaGraft.getSymlink.toUri.getPath == target.toString)
    val plain = graftFc.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)
    intercept[java.io.FileNotFoundException](
      graftFc.getFileLinkStatus(new Path(root.resolve("graft/missing").toString)))
  }

  test("delayBoard restarted from its checkpoint mid-day reproduces the batch board") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("board-src").toString
    val ckpt = Files.createTempDirectory("board-ckpt").toString
    val cs = boardCycles()
    // stop right before the late train's no-news 12:05 re-poll: it stays
    // silent after the restart only if the board state was recovered
    val k = cs.indexWhere(_.exists(_.request_time == "12:05"))
    assert(k > 0 && k < cs.size - 1)
    val sch = boardSched()
    val schema = Encoders.product[Passage].schema
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[BoardRow]()
    def start() = Streams.delayBoard(
        spark.readStream.schema(schema).parquet(s"$src/c*").as[Passage], sch)
      .writeStream
      .foreachBatch((b: Dataset[BoardRow], _: Long) => b.collect().foreach(emitted.add))
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    def run(range: Range): Unit = {
      val q = start()
      try range.foreach { i =>
        cs(i).toDS().coalesce(1).write.parquet(f"$src/c$i%02d")
        q.processAllAvailable()
      } finally q.stop()
    }
    run(0 until k)
    val beforeRestart = emitted.size
    run(k until cs.size)
    // one update per matched train, plus the late train's second delay
    assert(emitted.size == 6,
      s"expected 6 updates ($beforeRestart before the restart), got ${emitted.size}")
    val streamed = finalBoard(emitted.asScala.toSeq)
    val batch = batchBoard()
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "restarted stream board diverged from the batch board")
    assert(streamed.count() == 5)
    assert(Files.exists(Paths.get(ckpt, "state")))
  }
}
