package graft

/** Plan-audit utility: prints the formatted physical plan of the named
  * queries (default: every registered entry, in sorted order) against
  * SPARK_GRAFT_SF_DIR. Used to keep the scale checklist honest: pushed
  * filters reach the scan, dims broadcast, aggregates stay partial/final,
  * sorts only where the query semantics demand order; and, diffed with
  * `tools/plan_diff.py`, to show a refactor left every plan as it was.
  *
  * Note (r15 ADVICE): builders that materialize intermediates eagerly
  * (the localCheckpoint / Fixtures.derived plan-truncation class, and
  * the ≤G-row LocalRelation collects) EXECUTE those stages at DataFrame
  * construction time — so explaining such an entry runs real Spark jobs
  * and its printed plan shows `Scan ExistingRDD` where the truncated
  * derivation ran. Expected and acceptable for this audit tool (and for
  * ScaleShapeSpec's plan pins); per-action timing that wanted to EXCLUDE
  * builder time would undercount exactly these entries — the bench times
  * builders inside the rep, so it does not.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Mains.localSession(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
