package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The hour/day stream monitors share one ordered bucket fold,
  * `Streams.bucketFold`: it alone cuts event time into fixed buckets,
  * holds the open-bucket sentinel, throws the replay-order violation
  * and closes a bucket when a later one opens. A second member of
  * Streams.scala that both buckets event time and throws a
  * replay-order violation fails here, as does a truncating
  * `getTime /` division anywhere in graft.streaming (it puts a
  * pre-1970 event in the bucket after its own; batch `date_trunc`
  * floors), or a truncating `unix_timestamp(` in the transit domain
  * and TransitOps. */
class StreamFoldOnceSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/streaming")

  /** Each top-level `def` of a file, as (name, text up to the next). */
  private def members(text: String): Seq[(String, String)] = {
    val starts = """(?m)^  (?:private )?def (\w+)""".r.findAllMatchIn(text).toSeq
    starts.zip(starts.drop(1).map(_.start) :+ text.length)
      .map { case (m, end) => (m.group(1), text.substring(m.start, end)) }
  }

  test("Streams.scala holds one open-bucket close: bucketFold") {
    val text = Files.readString(dir.resolve("Streams.scala"))
    // floor division of an event time by anything but a second (the
    // epoch-second conversion is not a bucket)
    val bucketing = """floorDiv\(\w+\.ts\.getTime,\s*(?!1000L\))\w+\)""".r
    val closes = members(text).collect {
      case (name, body) if bucketing.findFirstIn(body).isDefined &&
        body.contains("replay-order violation") => name
    }
    assert(closes == Seq("bucketFold"),
      s"route these through bucketFold: ${closes.filterNot(_ == "bucketFold").mkString(", ")}")
  }

  test("graft.streaming has no truncating getTime division outside delayBoard's delay seconds") {
    assert(Files.isDirectory(dir), s"$dir not found")
    val walk = Files.walk(dir)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      p <- files
      (name, body) <- members(Files.readString(p))
      if """getTime(\(\))?\s*/""".r.findFirstIn(body).isDefined
    } yield s"${p.getFileName}:$name"
    assert(hits.isEmpty, s"use Math.floorDiv: ${hits.mkString(", ")}")
  }

  test("the transit domain and TransitOps convert times with unix_seconds, never unix_timestamp") {
    // Spark's unix_timestamp truncates a pre-1970 sub-second time toward
    // zero; unix_seconds floors it, as the stream board does
    val domain = Paths.get("src/main/scala/graft/domain")
    val ops = Paths.get("src/main/scala/graft/queries/TransitOps.scala")
    assert(Files.isDirectory(domain) && Files.isRegularFile(ops))
    val walk = Files.walk(domain)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = (ops :: files).filter(p => Files.readString(p).contains("unix_timestamp("))
    assert(hits.isEmpty, s"use unix_seconds: ${hits.map(_.getFileName).mkString(", ")}")
  }
}
