package graft

/** Split-leakage audit consistency ([[graft.queries.DedupQueries.splitLeakage]]):
  * the audit composes the cluster machinery and the split rule their own
  * entries gate, so its rows must agree with both on the real fixture —
  * cluster inventory with `llm_dedup_clusters`, membership arithmetic with
  * `llm_split_assign`, and the leaky verdict with the split breakdown.
  */
class SplitLeakageSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("audit rows agree with dedup_clusters and split_assign; leaky iff multi-split") {
    graft.expr.GraftFunctions.register(spark)
    val audit = SparkEntry.queries("llm_split_leakage")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // cluster inventory: exactly the multi-doc clusters, with equal sizes
    val clusters = SparkEntry.queries("llm_dedup_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val multi = clusters.filter(_._3 > 1).groupBy(_._2)
    assert(audit.keySet == multi.keySet,
      "audit must cover exactly the multi-doc clusters")
    for ((cid, (size, nTr, nVa, nTe, leaky)) <- audit) {
      assert(size == multi(cid).head._3, s"cluster $cid size mismatch")
      assert(nTr + nVa + nTe == size, s"cluster $cid member counts must sum to size")
      assert(leaky == (Seq(nTr, nVa, nTe).count(_ > 0) > 1),
        s"cluster $cid leaky verdict must equal the multi-split fact")
    }
    // membership arithmetic: per-cluster split counts recomputed from the
    // audited split_assign entry joined to the cluster table
    val split = SparkEntry.queries("llm_split_assign")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val byCluster = clusters.filter(_._3 > 1).groupBy(_._2)
      .view.mapValues(_.map(m => split(m._1))).toMap
    for ((cid, splits) <- byCluster) {
      val (_, nTr, nVa, nTe, _) = audit(cid)
      assert((splits.count(_ == "train"), splits.count(_ == "val"),
        splits.count(_ == "test")) == ((nTr, nVa, nTe)),
        s"cluster $cid split breakdown mismatch")
    }
    // the fixture actually exercises the failure mode the audit exists for
    assert(audit.values.exists(_._5), "fixture must contain at least one leaky cluster")
  }
}
