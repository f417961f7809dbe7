package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Embed, Ivf}

/** IVF coarse quantizer: assignment-plan shape, Lloyd-training quality
  * (the `llm_ann_ivf_trained` claim), and codebook determinism.
  *
  * Recall is measured over 50 queries (the 5-query entry is too noisy to
  * pin an inequality), with the codebook init DISJOINT from the query
  * block — a query that is also a centroid retrieves its own list
  * trivially, which is the artifact [[Ivf.initCent]]'s offset removes.
  */
class IvfSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val K = 16
  private val NQ = 50

  private lazy val emb = {
    graft.expr.GraftFunctions.register(spark) // vec_* kernels in Embed.prepared
    Embed.prepared(graft.fixtures.Fixtures.embeddings(spark, dir)).cache()
  }

  private def recallAt3(cent: DataFrame): Double = {
    val truth = bruteTop3
    val got = Ivf.search(emb, cent, K, NQ, nprobe = 2, topN = 3)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (got & truth).size.toDouble / truth.size
  }

  private lazy val bruteTop3: Set[(Long, Long)] = {
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("Lloyd training does not hurt recall@3 (50-query panel, disjoint init)") {
    val init = Ivf.initCent(emb, K, NQ)
    val trained = (1 to 2).foldLeft(init)((c, _) => Ivf.lloydIter(emb, c, K))
    val (r0, r2) = (recallAt3(init), recallAt3(trained))
    info(f"untrained recall@3 = $r0%.3f, trained (2 Lloyd iters) = $r2%.3f")
    assert(r2 >= r0, s"training regressed recall: $r2 < $r0")
  }

  test("searchScaled ≡ search below HierMinK (the degenerate two-level branch)") {
    // K = 16 < HierMinK: the two-level plan sets G = K and degenerates
    // to the flat argmax, so a search over it must return the flat
    // search's rows exactly (the r14 parity contract, which lets
    // assignHier run the flat plan at this K). Searches return their
    // rows unordered, so they are compared by (query_id, rank).
    val cent = Ivf.initCent(emb, K, NQ)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._1, r._4)).toSeq
    assert(rows(Ivf.searchWith(Ivf.assignTwoLevel(emb, cent, K), emb, cent, K, NQ, 2, 3)) ==
      rows(Ivf.search(emb, cent, K, NQ, 2, 3)))
  }

  test("Lloyd iteration is deterministic and keeps at most K centroids") {
    val init = Ivf.initCent(emb, K, NQ)
    def train() = Ivf.lloydIter(emb, Ivf.lloydIter(emb, init, K), K)
      .orderBy("cent_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toVector, r.getLong(2)))
    val (c1, c2) = (train(), train())
    assert(c1.toSeq == c2.toSeq, "two identical trainings diverged")
    assert(c1.length <= K && c1.length > 0)
    assert(c1.map(_._1).distinct.length == c1.length)
    // centroids are means of quantized vectors: components stay in range
    c1.foreach { case (_, cqv, cnrm) =>
      assert(cqv.length == Embed.Dim)
      assert(cnrm == cqv.map(x => x * x).sum)
    }
  }

  test("semantic dedup drops most planted twins, never a base vector") {
    // the llm_semdedup operator over the twinned fixture: every dropped
    // vector must be a twin (ids >= 100000 — cos 0.99 to its base; the
    // raw corpus maxes at 0.51), and the IVF cluster restriction should
    // still catch most twins (a miss = base and twin split across a
    // centroid boundary — the documented coarse-clustering trade)
    graft.expr.GraftFunctions.register(spark)
    val out = SparkEntry.queries("llm_semdedup")(spark, dir)
    val dropped = out.filter(col("dropped")).select("vec_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dropped.forall(_._1 >= 100000L),
      s"a base vector was dropped: ${dropped.filter(_._1 < 100000L).mkString(",")}")
    assert(dropped.forall { case (twin, of) => of == twin - 100000L },
      "a twin was deduped against something other than its base")
    assert(dropped.length >= 40, s"twin recall too low: ${dropped.length}/50")
  }

  test("assignment aggregate is a HashAggregate (no Window over the NxK stream)") {
    val plan = Ivf.search(emb, Ivf.initCent(emb, K, 5), K, 5, 2, 3)
      .queryExecution.executedPlan.toString
    // the only Window allowed is the final per-query top-N over the
    // bounded candidate set — the corpus-wide assignment must not sort
    // "Window [" matches WindowExec's print, not WindowGroupLimit's
    val windows = plan.linesIterator.count(_.contains("Window ["))
    assert(plan.contains("HashAggregate"), "assignment lost its hash aggregate")
    assert(windows <= 1, s"unexpected extra Window operators:\n$plan")
  }
}
