package graft

import graft.ingest.Dedup
import graft.queries.DedupQueries

/** Loud-failure guards added in round 5 (advisor items): misuse of the
  * fixed-width packing, ragged quantized vectors, and the CC iteration
  * cap must FAIL, not silently corrupt or truncate.
  */
class GuardsSpec extends SparkSuite {
  import spark.implicits._

  test("lastWriteWinsColumnar packs valid short-ASCII columns losslessly") {
    val df = Seq((1L, "ab", 10.0, 1L), (1L, "cdE", 20.0, 2L), (2L, "x", 1.0, 3L))
      .toDF("k", "tag", "price", "seq")
    val got = Dedup.lastWriteWinsColumnar(df, Seq("k"), "seq", packCols = Set("tag"))
      .orderBy("k").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "cdE", 20.0), (2L, "x", 1.0)))
  }

  test("lastWriteWinsColumnar raises on a pack column value over 8 bytes") {
    val df = Seq((1L, "nineChars", 10.0, 1L)).toDF("k", "tag", "price", "seq")
    val ex = intercept[Exception] {
      Dedup.lastWriteWinsColumnar(df, Seq("k"), "seq", packCols = Set("tag")).collect()
    }
    assert(ex.getMessage.contains("not packable"), ex.getMessage)
  }

  test("lastWriteWinsColumnar raises on a non-ASCII pack column value") {
    val df = Seq((1L, "é", 10.0, 1L)).toDF("k", "tag", "price", "seq")
    val ex = intercept[Exception] {
      Dedup.lastWriteWinsColumnar(df, Seq("k"), "seq", packCols = Set("tag")).collect()
    }
    assert(ex.getMessage.contains("not packable"), ex.getMessage)
  }

  test("lastWriteWinsColumnar raises on empty and control-leading pack values") {
    // '' makes conv() NULL; a first byte < 0x10 makes hex(BIGINT) odd
    // length so unhex() yields NULL — both decoded to silent NULLs
    // before the guard covered them
    for (bad <- Seq("", "\tab")) {
      val df = Seq((1L, bad, 10.0, 1L)).toDF("k", "tag", "price", "seq")
      val ex = intercept[Exception] {
        Dedup.lastWriteWinsColumnar(df, Seq("k"), "seq", packCols = Set("tag")).collect()
      }
      assert(ex.getMessage.contains("not packable"), s"value '$bad': ${ex.getMessage}")
    }
  }

  test("vec_dot fails fast on ragged vectors instead of a prefix dot") {
    graft.expr.GraftFunctions.register(spark)
    val ex = intercept[Exception] {
      spark.sql(
        "SELECT vec_dot(array(CAST(1 AS BIGINT), 2, 3), array(CAST(1 AS BIGINT), 2))")
        .collect()
    }
    assert(ex.getMessage.contains("lengths differ")
      || Option(ex.getCause).exists(_.getMessage.contains("lengths differ")))
  }

  test("hyperplane_dots rejects a non-64-dim vector") {
    graft.expr.GraftFunctions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT hyperplane_dots(array(CAST(1 AS BIGINT), 2), 4)").collect()
    }
    assert(ex.getMessage.contains("64-dim")
      || Option(ex.getCause).exists(_.getMessage.contains("64-dim")))
  }

  test("pointer doubling converges a 30-node chain within the iteration cap") {
    // a pure chain 0-1-2-...-29: diameter 29 > MaxCcIters(10), so plain
    // per-round propagation would trip the require; doubling must not
    val nodes = (0L until 30L).toDF("node")
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = DedupQueries.minLabelComponents(nodes, pairs)
      .orderBy("node").collect()
    assert(labels.length == 30)
    assert(labels.forall(_.getLong(1) == 0L), "all chain nodes label to min id 0")
  }

  test("two components + an isolate get distinct minimal labels") {
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 99L).toDF("node")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("src", "dst")
    val got = DedupQueries.minLabelComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }
}
