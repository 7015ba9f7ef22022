package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Each session sink is one declared `graft.queries.Sink`: its name,
  * bucket count and build live in the declaration, and its gate and
  * its oracle's pinned `n_files` column derive from it. A hand-written
  * sink read, part-file gate, bucket constant or file-count literal in
  * graft.queries fails here. */
class SinkOnceSpec extends AnyFunSuite {

  test("no hand-written sink read, gate, bucket constant or n_files literal is left in graft.queries") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"$dir not found")
    val walk = Files.walk(dir)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val shapes = Seq(
      "sessionSink call" -> """sessionSink\(""".r,
      "partFileGate call" -> """partFileGate\(""".r,
      "bucket constant" -> """val \w+Buckets\s*=\s*\d""".r)
    // the write-path compaction operators pin a compaction TARGET, not
    // a sink's bucket count; every other oracle takes Sink.nFiles
    val compactionTargets = Set("sink_compact", "sink_versioned")
    val owner = """QueryDef\(\s*"(\w+)"|(\w+)\.query\(""".r
    val hits = for {
      p <- files if p.getFileName.toString != "Sink.scala"
      text = Files.readString(p)
      hit <- shapes.flatMap { case (what, re) =>
          re.findAllMatchIn(text).map(m => (what, m.start)) } ++
        "AS n_files".r.findAllMatchIn(text).map(m => ("n_files literal", m.start))
          .filterNot { case (_, at) =>
            owner.findAllMatchIn(text.take(at)).toSeq.lastOption
              .exists(o => compactionTargets(o.group(1)))
          }
    } yield {
      val line = text.take(hit._2).count(_ == '\n') + 1
      s"${p.getFileName}:$line ${hit._1}"
    }
    assert(hits.isEmpty, s"declare these through Sink: ${hits.mkString(", ")}")
  }
}
