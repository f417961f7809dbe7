package graft

import graft.queries.DedupQueries

/** Maximal duplicated-range merge semantics
  * ([[DedupQueries.dupSpanMergeRanges]]) on a planted corpus: the keeper
  * occurrence never enters an island, separated duplicate regions stay
  * separate islands, touching covers coalesce, and the island carries the
  * count of spans it merged.
  *
  * Fixture: 8-word spans S and T; doc 0 owns the first occurrences, so
  * every island lives in a later doc.
  */
class DupSpanMergeSpec extends SparkSuite {

  private val S = (0 until 8).map(i => s"s$i").mkString(" ")
  private val T = (0 until 8).map(i => s"t$i").mkString(" ")

  private lazy val islands = {
    graft.expr.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      // doc 0: S, T, unique filler — the global first occurrences (keeps)
      (0L, s"$S $T " + (0 until 8).map(i => s"a$i").mkString(" ")),
      // doc 1: S ... gap ... T — two SEPARATED duplicate regions
      (1L, s"$S f0 f1 f2 f3 $T"),
      // doc 2: S S back to back — dropped spans at pos 1 and 9 TOUCH
      // ([1,8] and [9,16]) and must coalesce into one island
      (2L, s"$S $S"),
      // doc 3: unique words only — no islands
      (3L, (0 until 12).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    DedupQueries.dupSpanMergeRanges(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList
  }

  test("the keeper doc and the unique doc produce no islands") {
    assert(!islands.exists(i => i._1 == 0L || i._1 == 3L), islands.toString)
  }

  test("separated duplicate regions stay separate maximal intervals") {
    val d1 = islands.filter(_._1 == 1L)
    // doc 1: 20 tokens; the exact S 8-gram at pos 1 and exact T at pos 13
    // are the only corpus-repeated spans (bridge spans mix unique fillers)
    assert(d1 == List((1L, 1L, 8L, 8L, 1L), (1L, 13L, 20L, 8L, 1L)), d1.toString)
  }

  test("touching covers coalesce into one maximal interval") {
    val d2 = islands.filter(_._1 == 2L)
    // dropped spans [1,8] and [9,16] touch -> one island spanning the doc,
    // merging both spans
    assert(d2 == List((2L, 1L, 16L, 16L, 2L)), d2.toString)
  }

  test("output is sorted by (doc_id, island_s)") {
    assert(islands == islands.sortBy(i => (i._1, i._2)))
  }

  test("consistency law vs span_dedup on the real fixture: islands partition the dropped spans") {
    // Per doc, the sum of merged-island n_spans must equal span_dedup's
    // n_dropped (both entries derive from the same global span index),
    // islands must be disjoint and non-touching (maximality), and each
    // island's span count can't exceed what its token width can hold.
    graft.expr.GraftFunctions.register(spark)
    val docs = graft.fixtures.Fixtures.documents(spark, "/root/testdata/sf0.001")
    val merged = DedupQueries.dupSpanMergeRanges(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val droppedPerDoc = DedupQueries.spanDedupLedger(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val mergedPerDoc = merged.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(mergedPerDoc == droppedPerDoc.filter(_._2 > 0),
      "per-doc island span sums must equal span_dedup's n_dropped")
    for ((doc, isl) <- merged.groupBy(_._1)) {
      val sorted = isl.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 > a._3 + 1, s"doc $doc: islands $a and $b touch or overlap — not maximal")
        case _ => ()
      }
      sorted.foreach { i =>
        assert(i._4 == i._3 - i._2 + 1 && i._4 >= 8, s"doc $doc: bad island geometry $i")
        assert(i._5 <= i._4 - 7, s"doc $doc: island $i holds more spans than its width allows")
      }
    }
  }
}
