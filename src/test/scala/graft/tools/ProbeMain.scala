package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Mains

/** What the four probe mains share: a [[Mains.localSession]] on
  * `SPARK_GRAFT_CPUS` cores (default 4, as in Verify), the fixture
  * directory named by `SPARK_GRAFT_SF_DIR`, and the probe's report
  * printed line by line once it has run.
  */
private[tools] object ProbeMain {
  def apply(report: (SparkSession, String) => Seq[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a fixture directory"))
    val spark = Mains.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try report(spark, dir).foreach(println) finally spark.stop()
  }
}
