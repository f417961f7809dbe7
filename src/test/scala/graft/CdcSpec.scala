package graft

import graft.queries.DedupQueries

/** Content-defined chunking semantics ([[DedupQueries.cdcChunkLedger]]) on
  * a planted corpus. The test derives boundary words with the SAME hash
  * rule the operator uses (first 8 md5 hex chars as an int, % 8 == 0),
  * so the chunk structure of each fixture doc is known exactly — which
  * makes the CDC property assertable exactly: a prefix insertion
  * re-chunks only the first block, and every later block still matches
  * its twin.
  */
class CdcSpec extends SparkSuite {

  private def isBoundary(w: String): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % 8 == 0
  }

  // enough candidates to find boundary and plain words deterministically
  private val words = (0 until 400).map(i => s"t$i")
  private val bnd = words.filter(isBoundary)
  private val plain = words.filterNot(isBoundary)

  private lazy val ledger = {
    import spark.implicits._
    val p = plain
    val b = bnd
    // doc 0: [p0 p1 p2 B0][p3 p4 p5 B1][p6 p7 p8]  → 3 chunks
    val x = Seq(p(0), p(1), p(2), b(0), p(3), p(4), p(5), b(1), p(6), p(7), p(8))
    val docs = Seq(
      (0L, x.mkString(" ")),
      // doc 1: plain word prepended — first chunk grows, chunks 2..3
      // are bit-identical to doc 0's
      (1L, (p(9) +: x).mkString(" ")),
      // doc 2: exact copy of doc 0 — every chunk dups
      (2L, x.mkString(" ")),
      // doc 3: the same boundary-terminated block twice — within-doc dup
      (3L, Seq(p(10), p(11), b(2), p(10), p(11), b(2)).mkString(" ")))
      .toDF("doc_id", "text")
    graft.expr.GraftFunctions.register(spark) // cdc_chunks
    DedupQueries.cdcChunkLedger(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("fixture sanity: the hash rule yields boundary and plain words") {
    assert(bnd.size >= 3 && plain.size >= 12)
  }

  test("a clean doc chunks at its boundary words and drops nothing") {
    assert(ledger(0L) == ((3L, 0L)), s"doc 0: ${ledger(0L)}")
  }

  test("prefix insertion re-chunks ONLY the first block (CDC property)") {
    // 3 chunks; the first differs (absorbed the new word), 2 and 3
    // still match doc 0's — a fixed-width chunker would shift all three
    assert(ledger(1L) == ((3L, 2L)), s"doc 1: ${ledger(1L)}")
  }

  test("an exact copy duplicates every chunk") {
    assert(ledger(2L) == ((3L, 3L)), s"doc 2: ${ledger(2L)}")
  }

  test("a repeated block inside one doc drops its second occurrence") {
    assert(ledger(3L) == ((2L, 1L)), s"doc 3: ${ledger(3L)}")
  }
}
