package graft

import graft.queries.DedupQueries

/** Bloom pre-filter semantics ([[DedupQueries.bloomDedupLedger]]) on a
  * planted corpus: structural no-false-negative (an exact duplicate's k
  * positions are the corpus doc's own positions, so membership always
  * hits), ledger totality over the batch, and the false_pos column's
  * definitional consistency (bloom_hit AND NOT exact_dup).
  *
  * The split is the entry's own: doc_id % 5 == 0 → batch, else corpus.
  */
class BloomSpec extends SparkSuite {

  private lazy val ledger = {
    import spark.implicits._
    val docs = Seq(
      // corpus side (doc_id % 5 != 0)
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow"),
      (4L, "how vexingly quick daft zebras jump"),
      // batch side (doc_id % 5 == 0)
      (0L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (5L, "pack my box with five dozen liquor jugs"),     // dup of 2
      (10L, "a wholly novel sentence that matches nothing"),
      (15L, "another fresh unseen string of words entirely"))
      .toDF("doc_id", "text")
    DedupQueries.bloomDedupLedger(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
  }

  test("the ledger is total: one row per batch doc, corpus docs absent") {
    assert(ledger.keySet == Set(0L, 5L, 10L, 15L))
  }

  test("no false negatives: every exact duplicate bloom-hits") {
    val (hit0, dup0, _) = ledger(0L)
    val (hit5, dup5, _) = ledger(5L)
    assert(dup0 && dup5, "ground truth must mark the planted dups")
    assert(hit0 && hit5, "an exact dup MUST hit the filter (structural)")
  }

  test("novel batch docs are not exact dups; false_pos = hit && !dup") {
    for ((id, (hit, dup, fp)) <- ledger) {
      assert(fp == (hit && !dup), s"doc $id: false_pos inconsistent")
    }
    assert(!ledger(10L)._2 && !ledger(15L)._2, "novel docs are not dups")
  }

  test("at minimum filter size the planted novels do not collide") {
    // m = 2^16 bits with 16 corpus insertions → fill ≈ 2.4e-4; a false
    // positive needs all 4 probes set. md5 is deterministic, so this is
    // a fixed property of the fixture, not a flaky probabilistic one.
    assert(!ledger(10L)._1 && !ledger(15L)._1)
  }
}
