package graft

import graft.queries.LmQueries

/** Supervised token classifier ([[LmQueries.langClassifyLedger]]):
  * learns when the corpus has signal. The DRIVER-gated entry runs over
  * the synthetic fixture whose `lang` label is deliberately uncorrelated
  * with tokens (measured lift ≈ 1 for every frequent token) — there the
  * oracle pins determinism, not skill. This spec plants a corpus where
  * classes own exclusive vocabulary and asserts the classifier actually
  * recovers the labels, plus the ledger edge cases.
  */
class LangClassifySpec extends SparkSuite {

  // 3 classes × 25 docs; each doc: 6 class-exclusive words + 6 shared
  // filler words. Holdout = doc_id % 5 == 0 (the operator's split).
  private lazy val ledger = {
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    val langs = Seq("aa", "bb", "cc")
    val docs = (0 until 75).map { i =>
      val lang = langs(i % 3)
      val excl = (0 until 6).map(k => s"${lang}_w${(i + k) % 9}").mkString(" ")
      val shared = (0 until 6).map(k => s"fill${(i + k) % 7}").mkString(" ")
      (i.toLong, lang, s"$excl $shared")
    } :+ ((75L, "aa", "unseen1 unseen2 unseen3")) // holdout doc, no trained tokens
    LmQueries.langClassifyLedger(docs.toDF("doc_id", "lang", "text")).cache()
  }

  test("holdout accuracy is perfect when classes own exclusive vocabulary") {
    val hold = ledger.filter(ledger("doc_id") =!= 75L).collect()
    assert(hold.nonEmpty)
    val acc = hold.count(_.getBoolean(4)).toDouble / hold.length
    info(f"planted-corpus holdout accuracy = $acc%.3f over ${hold.length} docs")
    assert(acc == 1.0, s"classifier failed to learn a separable corpus: $acc")
  }

  test("the ledger is total over the holdout and only the holdout") {
    val ids = ledger.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L to 75L).filter(_ % 5 == 0))
  }

  test("a holdout doc with only unseen tokens predicts 'none' with score 0") {
    val r = ledger.filter(ledger("doc_id") === 75L).collect().head
    assert(r.getString(2) == "none" && r.getLong(3) == 0L && !r.getBoolean(4))
  }
}
