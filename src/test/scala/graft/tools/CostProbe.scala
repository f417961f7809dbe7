package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures
import graft.llm.{Embed, Ivf, SemDedup}

/** The cost models behind guarded semantic dedup, measured on synthetic
  * corpora whose size is an argument:
  *
  *  - two-level assignment: per corpus size N, K = chooseK(N, 35) and the
  *    flat O(N·K) [[Ivf.assign]] vs [[Ivf.assignHier]] — counted dot
  *    products (flat N·K; hier N·G coarse + Σ assigned cells' members +
  *    ~3·K·G codebook), wall time, and at the smallest N the agreement
  *    (share of vectors whose two-level cell is the flat argmax: the
  *    nprobe=1 approximation contract above Ivf.HierMinK). Two shapes,
  *    because cell quality is data-dependent: CLUSTERED (fixture vectors
  *    plus small per-id noise — the near-dup clumps dedup targets) and
  *    RANDOM (hash-derived, the adversarial floor).
  *  - post-cap regime: chooseK caps K at 2^20, so beyond N ≈ 2^20·target
  *    clusters outgrow the target and the split and capped routes must
  *    absorb the excess. Per overshoot x, 16 planted clusters of
  *    x·target members are assigned with K forced to 16; reported are the
  *    split and capped shares, the pair volume against the N·target/2
  *    budget and the rows the exact-dedup route takes.
  *
  * PERF_NOTES.md (*Round 14: two-level centroid assignment* and *Round
  * 16*) records the readings of `main`'s sizes.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<fixture dir> sbt "Test/runMain graft.tools.CostProbe"
  * }}}
  */
object CostProbe {
  val Target = 35

  def main(args: Array[String]): Unit = ProbeMain((spark, dir) =>
    run(spark, dir, hierSizes = Seq(70000, 700000), overshoots = Seq(1, 4, 16, 64, 128)))

  def run(spark: SparkSession, dir: String, hierSizes: Seq[Int],
      overshoots: Seq[Int]): Seq[String] = {
    graft.expr.GraftFunctions.register(spark) // vec_* kernels in Embed.prepared
    hier(spark, dir, hierSizes) ++ overshoots.map(postCap(spark, _))
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** splitmix-style finalizer of a seed. */
  private def mix(seed: Long): Long = {
    var z = (seed ^ (seed >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hier(spark: SparkSession, dir: String, sizes: Seq[Int]): Seq[String] = {
    import spark.implicits._
    val base = spark.sparkContext.broadcast(
      Embed.prepared(Fixtures.embeddings(spark, dir)).select("vec_id", "qv").collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Long](1).toArray))
    // clustered: vector i = base[i % nBase] + noise in [-20, 20] per
    // component (quantized components are ~1e3: a tight cone per clump)
    def clustered(n: Int): DataFrame = spark.range(n).as[Long].map { i =>
      val b = base.value
      val v = b((i % b.length).toInt)
      (i, v.indices.map(j =>
        v(j) + mix(i * 0x9e3779b97f4a7c15L + j * 0xbf58476d1ce4e5b9L) % 41L - 20L): Seq[Long])
    }.toDF("vec_id", "qv")
    // random: every component an independent hash in [-1000, 1000]
    def random(n: Int): DataFrame = spark.range(n).as[Long].map { i =>
      (i, (0 until Embed.Dim).map(j =>
        mix((i + 1) * 0x9e3779b97f4a7c15L + (j + 7) * 0x94d049bb133111ebL) % 2001L - 1000L): Seq[Long])
    }.toDF("vec_id", "qv")

    for (shape <- Seq("clustered", "random"); n <- sizes) yield {
      val corpus = if (shape == "clustered") clustered(n) else random(n)
      val e = corpus.withColumn("nrm", expr(Embed.normExprOf("qv"))).cache()
      e.count()
      val k = SemDedup.chooseK(n, Target)
      val g = Ivf.hierG(k).toLong
      val cent = Ivf.initCent(e, k, 0)
      val agree = if (n != sizes.min) -1.0 else {
        val both = Ivf.assign(e, cent, k).withColumnRenamed("cent_id", "cf")
          .join(Ivf.assignHier(e, cent, k).withColumnRenamed("cent_id", "ch"),
            Seq("vec_id"), "full")
        both.filter(col("cf") === col("ch")).count().toDouble / both.count()
      }
      val fineDots = Ivf.hierCellCosts(e, cent, k).agg(sum("cell_n")).first().getLong(0)
      val nValid = e.filter(col("nrm") > 0).count()
      val (flatDots, hierDots) = (nValid * k, nValid * g + fineDots + 3L * k * g)
      val tFlat = (1 to 2).map(_ => time(noop(Ivf.assign(e, cent, k)))).min
      val tHier = (1 to 2).map(_ => time(noop(Ivf.assignHier(e, cent, k)))).min
      e.unpersist()
      f"[cost] hier shape=$shape n=$n k=$k g=$g agree=$agree%.4f flat_dots=$flatDots " +
        f"hier_dots=$hierDots dot_ratio=${flatDots.toDouble / hierDots}%.1f " +
        f"flat_s=$tFlat%.2f hier_s=$tHier%.2f speedup=${tFlat / tHier}%.2f"
    }
  }

  /** One overshoot x: cluster c points along dims (2c, 2c+1) of a 40-dim
    * space with member jitter on dims 34..39, integer-valued doubles (the
    * repo's exactness rule), so the forced-K assignment reconstructs the
    * plant and the sub-quantizer has structure to split on.
    */
  private def postCap(spark: SparkSession, x: Int): String = {
    val (clusters, maxSz) = (16, 550) // 550: the registered entry's bound, ~16× target
    val n = clusters * x * Target
    val emb = Embed.prepared(spark.range(n.toLong).selectExpr(
        "id AS vec_id", s"CAST(id % $clusters AS INT) AS c", s"CAST(id DIV $clusters AS INT) AS m")
      .selectExpr("vec_id",
        s"""transform(sequence(0, 39), i ->
           |  CAST(CASE WHEN i = 2 * c THEN 100 + (m % 7)
           |            WHEN i = 2 * c + 1 THEN 50
           |            WHEN i = 34 + (m % 6) THEN 1 + (m % 11)
           |            ELSE 0 END AS DOUBLE)) AS embedding""".stripMargin,
        "'x' AS label")).cache()
    emb.count()
    val t0 = System.nanoTime()
    val assignment = SemDedup.guardedAssignWithK(emb, clusters, Target, maxSz).cache()
    val total = assignment.count()
    val split = assignment.filter(col("split")).count()
    val capped = assignment.filter(col("capped")).count()
    val pairs = SemDedup.guardedPairs(emb, assignment, 0.5).count()
    val exactRows = SemDedup.cappedExactDedup(emb, assignment).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val refined = assignment.groupBy("cluster_key").count()
      .agg(max("count"), avg("count")).first()
    val budget = n.toLong * Target / 2
    assignment.unpersist(); emb.unpersist()
    f"[cost] postcap x=$x n=$n exp_cluster=${x * Target} " +
      f"split_share=${split.toDouble / total}%.3f capped_share=${capped.toDouble / total}%.3f " +
      f"max_refined=${refined.getLong(0)} avg_refined=${refined.getDouble(1)}%.1f " +
      f"pairs=$pairs pair_budget=$budget pair_ratio=${pairs.toDouble / budget}%.3f " +
      f"exact_route_rows=$exactRows wall_s=$secs%.1f"
  }
}
