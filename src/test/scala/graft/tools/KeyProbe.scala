package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-15 generic single-key timing probe: run the NAMED entries under
  * the bench's exact warm protocol (clearDerivedCache; rep1; rep2 →
  * min-of-2) and cold protocol (clear before EACH rep, min-of-2), for
  * `SPARK_GRAFT_PROBE_ROUNDS` rounds (default 3), in one JVM under the
  * bench session config — the measure-first tool of the optimization
  * rounds (guide §1): a per-key before/after reading with the same
  * methodology as the committed bench, without paying a 188-entry run per
  * iteration.
  *
  * Run with:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "Test/runMain graft.tools.KeyProbe <entry> [<entry2> ...]"
  */
object KeyProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KeyProbe <entryName> [more...]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val keys = args.toSeq
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: $unknown")

    def run(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warmup pass (JIT/codegen + memoized base tables), like the bench
    keys.foreach { n => try run(n) catch { case _: Throwable => () } }

    for (r <- 1 to rounds) {
      for (n <- keys) {
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val w1 = run(n); val w2 = run(n)
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val c1 = run(n)
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val c2 = run(n)
        println(f"[keyprobe] round=$r $n%-32s warm=${math.min(w1, w2)}%6.2f " +
          f"(reps $w1%5.2f/$w2%5.2f) cold=${math.min(c1, c2)}%6.2f " +
          f"(reps $c1%5.2f/$c2%5.2f)")
      }
    }
    spark.stop()
  }
}
