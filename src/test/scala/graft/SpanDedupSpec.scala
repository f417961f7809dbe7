package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Span-level exact dedup semantics ([[DedupQueries.spanDedupLedger]]) on a
  * planted corpus: first global occurrence keeps, later occurrences drop,
  * within-doc repeats drop, short docs produce zero spans, and the ledger
  * is total (one row per doc).
  *
  * Fixture: an 8-word span S repeated verbatim across docs and within a
  * doc; w0..w15 are otherwise-unique filler words per doc.
  */
class SpanDedupSpec extends SparkSuite {

  private val S = (0 until 8).map(i => s"s$i").mkString(" ")

  private def doc(id: Long, words: String): (Long, String) = (id, words)

  private lazy val ledger = {
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      // doc 0: S once + 8 unique filler words → 9 spans, none dropped
      doc(0L, s"$S " + (0 until 8).map(i => s"a$i").mkString(" ")),
      // doc 1: S again (later doc → its S-span occurrences drop).
      // S at pos 1 plus the 7 bridge spans into the filler all contain
      // parts of S but only the exact 8-gram S repeats.
      doc(1L, s"$S " + (0 until 8).map(i => s"b$i").mkString(" ")),
      // doc 2: S twice in a row separated by nothing — within-doc repeat
      doc(2L, s"$S $S"),
      // doc 3: exactly 7 words — zero spans
      doc(3L, (0 until 7).map(i => s"c$i").mkString(" ")),
      // doc 4: unique words only — spans, zero drops
      doc(4L, (0 until 12).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    DedupQueries.spanDedupLedger(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("the ledger is total: one row per doc, including the short doc") {
    assert(ledger.keySet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("first global occurrence keeps; the later doc's repeat drops") {
    val (n0, d0, _) = ledger(0L)
    val (n1, d1, _) = ledger(1L)
    assert(n0 == 9 && d0 == 0, s"doc 0 (first occurrence) must keep all: $n0/$d0")
    // doc 1 has 9 spans; exactly the S-span (pos 1) duplicates doc 0's
    assert(n1 == 9 && d1 == 1, s"doc 1 must drop exactly its S span: $n1/$d1")
  }

  test("within-doc repeats drop all but the first occurrence") {
    val (n2, d2, frac) = ledger(2L)
    // 16 tokens → 9 spans; the S-at-pos-1 span dups doc 0's; S-at-pos-9
    // dups too; the 7 bridge spans s1..s0-style wrap-arounds are unique
    // except... the bridge spans of "S S" are s_k..s7 s0..s_k-1 patterns,
    // each unique in the corpus; so exactly 2 drops
    assert(n2 == 9 && d2 == 2, s"doc 2: $n2/$d2")
    assert(math.abs(frac - 2.0 / 9) < 1e-12)
  }

  test("docs shorter than the span width carry zero spans and zero fraction") {
    assert(ledger(3L) == ((0L, 0L, 0.0)))
  }

  test("a unique-word doc drops nothing") {
    val (n4, d4, frac) = ledger(4L)
    assert(n4 == 5 && d4 == 0 && frac == 0.0, s"doc 4: $n4/$d4/$frac")
  }
}
