package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftExtensions]] installs the full SQL function surface through the
  * standard `withExtensions` hook — a fresh session (no
  * GraftFunctions.register call anywhere) must resolve every function.
  * Uses newSession()-independent config: the extensions object is applied
  * at builder time, so this suite builds its own SparkSession instead of
  * the shared one.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("a session built with GraftExtensions resolves the whole function surface") {
    // getOrCreate() would silently return an existing default session and
    // never apply withExtensions — clear both slots so a REAL extensions
    // session is built (sharing the JVM's SparkContext), and restore the
    // shared suite session afterwards.
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // prove the extensions really took: this must NOT be a reused session
    assert(SparkSession.getDefaultSession.contains(spark))
    try {
      val r = spark.sql(
        """SELECT
          |  to_start_of_interval(timestamp'2024-12-06 10:03:45', 300) AS bucket,
          |  char_ngrams('abcdef', 3, false) AS cg,
          |  word_ngrams(array('a', 'b', 'c'), 2, true) AS wg,
          |  vec_normsq(array(CAST(3 AS BIGINT), -4)) AS nrm,
          |  vec_dot(array(CAST(1 AS BIGINT), 2), array(CAST(10 AS BIGINT), 20)) AS dot,
          |  size(hyperplane_dots(array_repeat(CAST(1 AS BIGINT), 64), 8)) AS nh,
          |  graft_topk(x, 2) AS tk
          |FROM VALUES ('a'), ('a'), ('b') AS t(x)
          |""".stripMargin).collect().head
      assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-12-06 10:00:00"))
      assert(r.getSeq[String](1) == Seq("abc", "bcd", "cde", "def"))
      assert(r.getSeq[String](2) == Seq("a b", "b c"))
      assert(r.getLong(3) == 25L)
      assert(r.getLong(4) == 50L)
      assert(r.getInt(5) == 8)
      assert(r.getSeq[String](6).headOption.contains("a"))
      // every name of the registrar table resolves, also the ones the
      // query above does not call
      graft.expr.GraftFunctions.Surface.foreach(f =>
        assert(spark.catalog.functionExists(f.name), s"${f.name} is not installed"))
      // the planner strategy came through the SAME extensions hook: the
      // custom as-of logical node must plan (and run) in this session
      // without AsOf.join's runtime extraStrategies fallback
      import spark.implicits._
      val l = Seq((1, 10L, 7L)).toDF("k", "t", "payload")
      val r2 = Seq((1, 5L, 9L, 42.0)).toDF("k", "t", "seq", "v")
      val lplan = l.queryExecution.analyzed
      val rplan = r2.queryExecution.analyzed
      val attr = org.apache.spark.sql.catalyst.expressions
        .AttributeReference("v_asof", org.apache.spark.sql.types.DoubleType)()
      val asof = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        graft.plans.AsOfJoinPlan(lplan, rplan, Seq("k"), "t", "t", "seq", "v", attr))
      assert(asof.collect().map(x => (x.getInt(0), x.getDouble(3))).toSeq == Seq((1, 42.0)))
    } finally {
      // the shared SparkSuite session and this one coexist (same JVM,
      // different SparkSessions over one SparkContext); don't stop the
      // context other suites are using — restore the previous default
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
