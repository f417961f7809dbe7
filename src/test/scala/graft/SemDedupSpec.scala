package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.llm.SemDedup

/** Pins the round-6 semantic-dedup scale guards ([[graft.llm.SemDedup]]):
  * K derived from the corpus size, oversized clusters split by the
  * second-level quantizer, unsplittable (identical-vector) clusters
  * flagged `capped` and excluded from the quadratic pair stage — on a
  * deliberately skewed fixture where one direction owns half the corpus.
  *
  * Fixture geometry (dim 4, quantized ints): 5 seed vectors (ids 0-4,
  * which initCent makes the coarse centroids), a 51-member skewed group on
  * the d0 axis in three separable sub-variants A/B/C, and 52 IDENTICAL
  * vectors on the d2 axis. target=25, max=50 → K = ceil(108/25) = 5; the
  * d0 cluster (52 members) must SPLIT into ≥3 bounded sub-clusters; the
  * identical d2 cluster (53) cannot split (all cosines tie) and must come
  * out `capped`.
  */
class SemDedupSpec extends SparkSuite {

  private val A = Seq(1000L, 300L, 0L, 0L)
  private val B = Seq(1000L, -300L, 0L, 0L)
  private val C = Seq(1000L, 0L, 300L, 0L)

  private lazy val emb = {
    graft.expr.GraftFunctions.register(spark)
    val seeds: Seq[(Long, Seq[Long])] = Seq(
      0L -> Seq(1000L, 0L, 0L, 0L),
      1L -> Seq(0L, 1000L, 0L, 0L),
      2L -> Seq(0L, 0L, 1000L, 0L),
      3L -> Seq(0L, 0L, 0L, 1000L),
      4L -> Seq(0L, 700L, 700L, 0L))
    val skew = (5L to 55L).map(i => i -> Seq(A, B, C)((i - 5).toInt % 3))
    val ident = (56L to 107L).map(i => i -> Seq(0L, 0L, 1000L, 0L))
    // one all-zero vector: no cosine geometry — must surface flagged,
    // never vanish
    val zero = Seq(108L -> Seq(0L, 0L, 0L, 0L))
    import spark.implicits._
    (seeds ++ skew ++ ident ++ zero).toDF("vec_id", "qv")
      .withColumn("nrm", expr(graft.llm.Embed.normExprOf("qv")))
      .cache()
  }

  private lazy val assignment =
    SemDedup.guardedAssign(emb, targetClusterSize = 25, maxClusterSize = 50).cache()

  test("chooseK scales with the corpus and matches the fixture entry's K") {
    assert(SemDedup.chooseK(550, 35) == 16) // the oracled entry's shape
    assert(SemDedup.chooseK(108, 25) == 5)
    assert(SemDedup.chooseK(1, 25) == 4) // floor
    assert(SemDedup.chooseK(1000000000L, 1000) == 1000000)
    assert(SemDedup.chooseK(Long.MaxValue / 4, 1000) == (1 << 20)) // cap
  }

  test("every vector is assigned exactly once — including the zero-norm one") {
    val ids = assignment.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L to 108L))
    val z = assignment.filter(col("vec_id") === 108L).collect()
    assert(z.length == 1 && z(0).getLong(1) == -1L && z(0).getBoolean(3),
      "zero-norm vector must land in the reserved capped cluster -1")
  }

  test("the skewed d0 cluster splits into bounded, variant-pure sub-clusters") {
    val rows = assignment.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    val skewIds = (0L +: (5L to 55L)).toSet // seed 0 rides with its group
    val skewRows = rows.filter(r => skewIds.contains(r._1))
    assert(skewRows.forall(_._3), "d0 members must be marked split")
    assert(skewRows.forall(!_._4), "d0 sub-clusters must not be capped")
    val keys = skewRows.map(_._2).distinct
    assert(keys.length >= 3, s"expected >=3 sub-clusters, got ${keys.toSeq}")
    // bounded: no refined non-capped cluster exceeds the max
    val bySize = rows.filterNot(_._4).groupBy(_._2).map(_._2.length)
    assert(bySize.forall(_ <= 50), s"oversized non-capped cluster: $bySize")
    // variant-pure: each A/B/C variant lands in ONE sub-cluster
    def keyOf(ids: Seq[Long]): Set[Long] =
      skewRows.filter(r => ids.contains(r._1)).map(_._2).toSet
    val aIds = (5L to 55L).filter(i => (i - 5) % 3 == 0)
    val bIds = (5L to 55L).filter(i => (i - 5) % 3 == 1)
    val cIds = (5L to 55L).filter(i => (i - 5) % 3 == 2)
    assert(keyOf(aIds).size == 1 && keyOf(bIds).size == 1 && keyOf(cIds).size == 1)
    assert(Set(keyOf(aIds), keyOf(bIds), keyOf(cIds)).size == 3)
  }

  test("the identical-vector cluster cannot split and is flagged capped — loudly") {
    val identRows = assignment.filter(
      (col("vec_id") >= 56 && col("vec_id") <= 107) || col("vec_id") === 2)
      .collect().map(r => (r.getLong(1), r.getBoolean(3)))
    assert(identRows.forall(_._2), "identical d2 cluster must be capped")
    assert(identRows.map(_._1).distinct.length == 1)
    val capped = SemDedup.cappedClusters(assignment).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.size == 2, s"identical cluster + zero-norm reserve: $capped")
    assert(capped(-1L) == 1L && capped.values.toSeq.contains(53L))
  }

  test("cappedExactDedup collapses the identical capped cluster and keeps the zero vector") {
    val verdicts = SemDedup.cappedExactDedup(emb, assignment).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // every capped member — the identical d2 cluster (seed 2 + 56..107)
    // and the zero-norm reserve — gets a verdict, nobody else does
    assert(verdicts.keySet == (56L to 107L).toSet + 2L + 108L)
    // the identical vectors collapse to the lowest id (seed 2), which is kept
    assert(verdicts(2L)._2 == -1L && !verdicts(2L)._3)
    for (i <- 56L to 107L)
      assert(verdicts(i) == ((verdicts(2L)._1, 2L, true)), s"member $i")
    // the zero vector is alone in its qv group: kept, never dropped
    assert(verdicts(108L) == ((-1L, -1L, false)))
  }

  /** Parity pins for the round-14 two-level assignment
    * ([[graft.llm.Ivf.assignHier]], r13 verdict item 1): BELOW
    * [[graft.llm.Ivf.HierMinK]] the two-level plan sets G = K and must
    * return ROW-IDENTICAL output to the flat N×K argmax — the fact that
    * lets assignHier run the flat plan there, and that the driver gate at
    * sf0.001/sf0.01 checks against the two-level DuckDB twin. The
    * two-level plan is called directly, since assignHier itself now
    * dispatches to [[graft.llm.Ivf.assign]] at these K.
    */
  private def assertHierParity(e: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val flat = graft.llm.Ivf.assign(e, graft.llm.Ivf.initCent(e, k, 0), k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val hier = graft.llm.Ivf.assignTwoLevel(e, graft.llm.Ivf.initCent(e, k, 0), k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(hier == flat, s"hier/flat assignment diverged at K=$k")
  }

  test("assignHier ≡ assign below HierMinK on the skewed fixture — identical " +
      "vectors merge direction-preservingly") {
    // the 52 identical d2 vectors tie EVERY cosine: they merge into one
    // coarse cell whose trained mean is the same vector, and the fine
    // stage resolves with the global packed key — flat-identical
    assertHierParity(emb, SemDedup.chooseK(109, 25))
  }

  test("assignHier ≡ assign below HierMinK on the real embedding fixture") {
    graft.expr.GraftFunctions.register(spark)
    val real = graft.llm.Embed.prepared(
      graft.fixtures.Fixtures.embeddings(spark, "/root/testdata/sf0.001")).cache()
    for (k <- Seq(4, 16, 23)) assertHierParity(real, k)
    real.unpersist()
  }

  test("assignHier above HierMinK: deterministic, total, valid cells, and " +
      "near-dup twins CO-ASSIGN like flat (the contract that matters for dedup)") {
    graft.expr.GraftFunctions.register(spark)
    // sf0.1 near-dup fixture: the oracled entry's own corpus shape at the
    // SF where K = chooseK ≥ HierMinK = 32 selects the trained branch
    val real = graft.llm.Embed.prepared(
      graft.fixtures.Fixtures.embeddingsNearDup(spark, "/root/testdata/sf0.1")).cache()
    val n = real.count()
    val k = SemDedup.chooseK(n, 35)
    assert(k >= graft.llm.Ivf.HierMinK, s"fixture regressed below the trained branch: K=$k")
    val cent = graft.llm.Ivf.initCent(real, k, 0)
    def run() = graft.llm.Ivf.assignHier(real, cent, k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val a = run()
    // deterministic: two plans, same result
    assert(a == run(), "two-level assignment must be deterministic")
    // total: every nonzero-norm vector assigned exactly once, to a valid cell
    val nValid = real.filter(col("nrm") > 0).count()
    assert(a.length == nValid, s"expected $nValid assignments, got ${a.length}")
    assert(a.map(_._1).distinct.length == a.length)
    assert(a.forall(x => x._2 >= 0 && x._2 < k))
    // THE semdedup contract: the planted cos≈0.99 twins (vec v twinned as
    // v+100000 for v < 50) land in the SAME cell. A boundary vector and
    // its twin drift TOGETHER under nprobe=1 (their coarse scores are
    // near-identical), so co-assignment must track the flat argmax's —
    // per-vector cell agreement with flat is NOT the contract and may be
    // low on an isotropic corpus (info'd for the record).
    val hierMap = a.toMap
    val flat = graft.llm.Ivf.assign(real, cent, k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    def coAssign(m: Map[Long, Int]): Int =
      (0L until 50L).count(v => m.get(v).exists(c => m.get(v + 100000L).contains(c)))
    val (coH, coF) = (coAssign(hierMap), coAssign(flat))
    val agree = a.count { case (v, c) => flat(v) == c }
    info(f"K=$k: twin co-assignment hier=$coH/50 flat=$coF/50, " +
      f"per-vector flat agreement $agree/${a.length}")
    assert(coH >= coF - 2,
      s"two-level broke twin co-assignment: $coH/50 vs flat $coF/50")
    real.unpersist()
  }

  /** The physical plan of every SQL execution `body` starts, the eager
    * checkpoints included (the returned frame's plan no longer shows
    * what they ran).
    */
  private def plansOf(body: => Unit): Seq[SparkPlanInfo] = {
    val sc = spark.sparkContext
    val sentinel = s"semdedup-plans-${System.nanoTime()}"
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull == sentinel)
          sentinelSeen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      // listener events arrive in order: once the sentinel job is seen,
      // every execution the body started has been recorded
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    plans.asScala.toSeq
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** The split path's shape in `plans`: the count of Window operators and
    * of sub-centroid joins (equi-joins on cent_id with a Window below).
    */
  private def splitShape(plans: Seq[SparkPlanInfo]): (Int, Int) = {
    val all = plans.flatMap(nodes)
    val subJoins = all.count(n => n.nodeName.endsWith("Join") &&
      n.simpleString.contains("[cent_id#") && nodes(n).exists(_.nodeName == "Window"))
    (all.count(_.nodeName == "Window"), subJoins)
  }

  test("guardedAssign without an oversized cluster runs no Window and no " +
      "sub-centroid join (sf0.001 near-dup corpus)") {
    graft.expr.GraftFunctions.register(spark)
    val real = graft.llm.Embed.prepared(
      graft.fixtures.Fixtures.embeddingsNearDup(spark, "/root/testdata/sf0.001")).cache()
    var rows = Array.empty[org.apache.spark.sql.Row]
    val plans = plansOf {
      rows = SemDedup.guardedAssign(real, targetClusterSize = 35, maxClusterSize = 550)
        .collect()
    }
    assert(rows.length == real.count())
    assert(rows.forall(r => !r.getBoolean(2) && !r.getBoolean(3)),
      "nothing is oversized on this corpus, so nothing splits or caps")
    assert(splitShape(plans) == ((0, 0)),
      plans.map(_.simpleString).mkString("\n"))
    real.unpersist()
  }

  test("guardedAssign on the skewed fixture still runs the split path's Window " +
      "and sub-centroid join") {
    val plans = plansOf {
      SemDedup.guardedAssign(emb, targetClusterSize = 25, maxClusterSize = 50).collect()
    }
    val (windows, subJoins) = splitShape(plans)
    assert(windows >= 1 && subJoins >= 1, s"windows=$windows, sub-centroid joins=$subJoins")
  }

  test("guardedPairs covers the split clusters and excludes the capped quadratic") {
    val pairs = SemDedup.guardedPairs(emb, assignment, threshold = 0.99).cache()
    // within-variant cosines are exactly 1.0: C(17,2) pairs per variant
    assert(pairs.count() == 3 * 17 * 16 / 2)
    // nothing from the capped cluster sneaks into the pair stage
    val cappedIds = (56L to 107L).toSet + 2L
    val touched = pairs.select("a").unionAll(pairs.select("b"))
      .collect().map(_.getLong(0)).toSet
    assert(touched.intersect(cappedIds).isEmpty)
  }

  test("guardedAssign rejects maxClusterSize < targetClusterSize before any Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, sentinel) = ("semdedup-fail-fast", "semdedup-fail-fast-sentinel")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `sentinel` => sentinelSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      val uncached = emb.filter(col("vec_id") >= 0) // a count would run a job
      sc.setJobGroup(group, group)
      val e = intercept[IllegalArgumentException](
        SemDedup.guardedAssign(uncached, targetClusterSize = 50, maxClusterSize = 25))
      assert(e.getMessage.contains("maxClusterSize (25) must be >= targetClusterSize (50)"))
      // listener events arrive in order: once the sentinel job is seen,
      // any job the call started has been counted
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, s"${jobs.get} Spark job(s) ran before the argument check")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
