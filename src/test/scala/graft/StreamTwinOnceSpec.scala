package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A stateless stream panel applies its batch twin's own row rule:
  * each rule below is written once in Spark under src/main/scala/graft,
  * in the batch object, and the panel calls it. A Spark copy is the
  * rule in Scala column form anywhere, or in SQL text form under
  * graft/streaming (which holds no DuckDB oracle strings, so SQL text
  * there is a Spark expression). The oracles' SQL copies are not
  * counted. */
class StreamTwinOnceSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources(dir: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(dir), s"$dir not found")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("each stream panel's batch row rule has exactly one Spark copy under src/main") {
    val all = sources(root)
    val streaming = all.filter(_._1.startsWith(root.resolve("streaming")))
    // (rule, Scala column form, SQL text form counted under streaming/)
    val shapes = Seq(
      ("Poisson ladder", """when\(col\("u16"\) < 24109""", Some("""u16 < 24109""")),
      ("graftte: split", """lit\("graftte:"\)""", Some("""'graftte:'""")),
      ("code keyword list", """"def",\s*"return"""", Some("""'def',\s*'return'""")),
      ("stopword list", """"the",\s*"a",\s*"of"""", Some("""'the',\s*'a',\s*'of'""")),
      ("gopher r_rep rule", """lit\(5\) \* col\("max_word_cnt"\) <= col\("n_words"\)""",
        Some("""5 \* max_word_cnt <= n_words""")),
      ("word rule", """length\(col\("word"\)\) >= 2""", Some("""length\(word\) >= 2""")),
      ("char spelling", """regexp_replace\((col\("word"\)|\w+), "\(\.\)"""",
        Some("""regexp_replace\(word, '\(\.\)'""")),
      ("char-pair transform", """i -> substring\(word, i, 2\)""", None),
      ("quarantine DDL", """page INT, station STRING, num STRING, delay_min INT""", None))
    def count(files: Seq[(Path, String)], re: String) =
      files.map { case (_, t) => re.r.findAllMatchIn(t).size }.sum
    val bad = for {
      (what, scala, sql) <- shapes
      n = count(all, scala) + sql.fold(0)(count(streaming, _)) if n != 1
    } yield s"$what: $n copies"
    assert(bad.isEmpty, bad.mkString("", "; ", "; want exactly 1 of each"))
  }

  test("Streams.scala calls no md5: a hashed split, draw or bucket is its batch twin's") {
    val f = root.resolve("streaming/Streams.scala")
    assert(Files.isRegularFile(f), s"$f not found")
    val n = """md5\(""".r.findAllMatchIn(Files.readString(f)).size
    assert(n == 0, s"Streams.scala: $n md5( calls")
  }
}
