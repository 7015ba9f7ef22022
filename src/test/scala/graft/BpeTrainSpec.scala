package graft

import graft.queries.CorpusOps

/** BPE training on planted word tables: the replace fixpoint recovers
  * the merges a single pass skips, and a round with nothing left to
  * merge fails loudly. */
class BpeTrainSpec extends SparkSpec {

  test("bpeTrain: the replace fixpoint merges both adjacent occurrences of the crowned pair") {
    import spark.implicits._
    val (merges, sym) = CorpusOps.bpeTrain(Seq(("abab", 1L)).toDF("word", "f"), 1)
    assert(merges == Seq((1, "a b", "ab", 2L)))
    // one replace pass gives 'ab a b'; the second recovers 'ab ab'
    assert(sym.select("sym").as[String].collect().toSeq == Seq("ab ab"))
  }

  test("bpeTrain fails loudly, naming the round, once no adjacent pair is left") {
    import spark.implicits._
    val wf = Seq(("ab", 1L)).toDF("word", "f")
    val err = intercept[IllegalArgumentException](CorpusOps.bpeTrain(wf, 2))
    assert(err.getMessage.contains("BPE round 2: no adjacent symbol pair left to merge"))
  }
}
