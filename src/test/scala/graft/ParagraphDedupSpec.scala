package graft

import graft.queries.DedupQueries

/** Paragraph-level exact dedup semantics
  * ([[DedupQueries.paragraphDedupLedger]], 20-token disjoint blocks) on a
  * planted corpus: a boilerplate block recurring across docs keeps only
  * its corpus-wide first occurrence (min doc_id, then min block index),
  * unique blocks always keep, short docs form one short block, and the
  * token accounting (n_tokens / kept_tokens / retained_frac) is exact.
  *
  * Fixture: B is a 20-word "license header" block planted at various
  * block-aligned positions; filler words are unique per doc.
  */
class ParagraphDedupSpec extends SparkSuite {

  private val B = (0 until 20).map(i => s"lic$i").mkString(" ")

  private def filler(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  private lazy val ledger = {
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      // doc 0: B + 20 unique words → 2 blocks, both keep (first occurrence)
      (0L, s"$B ${filler("a", 20)}"),
      // doc 1: 20 unique words + B → B lands block-aligned at index 1
      // and drops (doc 0 owns the hash); the filler block keeps
      (1L, s"${filler("b", 20)} $B"),
      // doc 2: B twice → block 0 drops (doc 0 owns it) AND block 1 drops
      // (same hash, later pack) — within-doc repeat
      (2L, s"$B $B"),
      // doc 3: 7 words only → one short block, unique, keeps
      (3L, filler("c", 7)),
      // doc 4: B NOT block-aligned (shifted by 10 filler words) → its
      // blocks hash differently and all keep — paragraph dedup is
      // boundary-sensitive by design (span_dedup covers shifted text)
      (4L, s"${filler("d", 10)} $B ${filler("e", 10)}"))
      .toDF("doc_id", "text")
    DedupQueries.paragraphDedupLedger(docs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
  }

  test("the ledger is total and the first occurrence keeps everything") {
    assert(ledger.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(ledger(0L) == ((2L, 0L, 40L, 40L, 1.0)))
  }

  test("a later doc's block-aligned repeat drops exactly that block") {
    val (n1, d1, t1, k1, f1) = ledger(1L)
    assert(n1 == 2 && d1 == 1 && t1 == 40 && k1 == 20, s"doc 1: $n1/$d1/$t1/$k1")
    assert(math.abs(f1 - 0.5) < 1e-12)
  }

  test("within-doc repeats drop both later occurrences") {
    assert(ledger(2L) == ((2L, 2L, 40L, 0L, 0.0)))
  }

  test("a short doc forms one short unique block and keeps it") {
    assert(ledger(3L) == ((1L, 0L, 7L, 7L, 1.0)))
  }

  test("an unaligned repeat does NOT dedup (boundary-sensitive by design)") {
    val (n4, d4, t4, k4, f4) = ledger(4L)
    assert(n4 == 2 && d4 == 0 && t4 == 40 && k4 == 40 && f4 == 1.0,
      s"doc 4: $n4/$d4/$t4/$k4/$f4")
  }
}
