package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Embed, Pq}

/** Product-quantization ANN: recall against exact brute force, code
  * compactness (the 128× compression claim rests on codes < K), plan
  * shape (broadcast codebook/distance table — the corpus never shuffles
  * against either), and training determinism.
  *
  * Like IvfSpec, recall is measured over a 50-query panel with the
  * codebook init disjoint from the query block.
  */
class PqSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val NQ = 50
  private val Shortlist = 10

  private lazy val emb = {
    graft.expr.GraftFunctions.register(spark)
    Embed.prepared(graft.fixtures.Fixtures.embeddings(spark, dir))
      .filter(col("nrm") > 0).cache()
  }
  private lazy val subn = Pq.subvecs(emb)
  private lazy val cb =
    Pq.lloydIter(subn, Pq.initCb(subn, NQ), NQ).cache()

  private lazy val bruteTop3: Set[(Long, Long)] = {
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    emb.filter(col("vec_id") >= NQ).join(broadcast(q), lit(true))
      .withColumn("cos_sim",
        expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def recallAt3(codebook: DataFrame, shortlist: Int): Double = {
    val got = Pq.search(emb, subn, codebook, NQ, shortlist, topN = 3)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (got & bruteTop3).size.toDouble / bruteTop3.size
  }

  test("recall@3 grows with the shortlist and clears 0.5 at width 50") {
    // 2-byte codes vs 256-byte vectors on a near-random corpus — the
    // worst case for any quantizer; chance is ≈3/|corpus| ≈ 0.7%.
    // Measured 0.22 / 0.39 / 0.61 at widths 10/25/50 (PERF_NOTES.md).
    val r = Seq(10, 25, 50).map(w => w -> recallAt3(cb, w))
    info(r.map { case (w, x) => f"recall@3[$w] = $x%.3f" }.mkString(", "))
    assert(r.sliding(2).forall { case Seq((_, a), (_, b)) => b >= a },
      s"recall not monotone in shortlist width: $r")
    assert(r.last._2 >= 0.5, f"recall@3 at width 50 collapsed: ${r.last._2}%.3f")
  }

  test("the Lloyd-trained codebook beats the init codebook (shortlist 50)") {
    val (r0, r1) = (recallAt3(Pq.initCb(subn, NQ), 50), recallAt3(cb, 50))
    info(f"init recall@3 = $r0%.3f, trained = $r1%.3f")
    assert(r1 >= r0, s"training regressed recall: $r1 < $r0")
  }

  test("codes are within [0, K) and every encoded vector carries exactly M codes") {
    val sc = subn.join(broadcast(cb), Seq("sub"))
      .withColumn("d", expr("svn + cvn - 2 * vec_dot(sv, cv)"))
      .withColumn("pk", expr(s"-(d * ${Pq.K} + code)"))
    val codes = sc.filter(col("vec_id") >= NQ)
      .groupBy("vec_id", "sub").agg(max_by(col("code"), col("pk")).as("code"))
    val bad = codes.filter(col("code") < 0 || col("code") >= Pq.K).count()
    assert(bad == 0, s"$bad codes outside [0, ${Pq.K})")
    val counts = codes.groupBy("vec_id").count()
      .filter(col("count") =!= Pq.M).count()
    assert(counts == 0, s"$counts vectors without exactly ${Pq.M} codes")
  }

  test("search plan broadcasts the codebook and the ADC table (corpus never shuffles against them)") {
    val plan = Pq.search(emb, subn, cb, NQ, Shortlist, 3)
      .queryExecution.executedPlan.toString
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    // at least: cb joins (codes + dtab derivations) and the dtab ADC join
    assert(broadcasts >= 2, s"expected >=2 broadcast exchanges, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian product in PQ search plan:\n$plan")
  }

  test("Lloyd step is deterministic, keeps <= K codes per subspace, exact norms") {
    def train() = Pq.lloydIter(subn, Pq.initCb(subn, NQ), NQ)
      .orderBy("sub", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toVector, r.getLong(3)))
    val (c1, c2) = (train(), train())
    assert(c1.toSeq == c2.toSeq, "two identical trainings diverged")
    val bySub = c1.groupBy(_._1)
    assert(bySub.keySet == (0 until Pq.M).toSet, s"missing subspaces: ${bySub.keySet}")
    bySub.values.foreach { cs =>
      assert(cs.length <= Pq.K && cs.nonEmpty)
      assert(cs.map(_._2).distinct.length == cs.length)
    }
    c1.foreach { case (_, _, cv, cvn) =>
      assert(cv.length == Pq.SubDim)
      assert(cvn == cv.map(x => x * x).sum)
    }
  }
}
