package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.fixtures.Fixtures

/** Planted-pair recall of `llm_embed_neardup`'s corpus-adaptive signature
  * width, at a fixture and at its 10× replica (made by
  * [[ScaleProbe.materialize]], so the width grows with the corpus). The
  * near-dup fixture plants 50 cos≈0.99 twins (vec_id < 50 ↔ vec_id +
  * 100000, in replica 0 only), so recall is directly countable at both
  * sizes. PERF_NOTES.md (*Second wave* of the 10× scale probe) records
  * 50/50 at 8 bits (sf0.1) and 50/50 at 11 bits (its 10× replica).
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<fixture dir> sbt "Test/runMain graft.tools.RecallProbe"
  * }}}
  */
object RecallProbe {
  val Planted = 50

  def main(args: Array[String]): Unit =
    ProbeMain((spark, dir) => run(spark, dir, ScaleProbe.DefaultOut))

  /** One line per size: planted pairs found, their recall and all pairs. */
  def run(spark: SparkSession, base: String, out: String): Seq[String] = {
    val scaled = ScaleProbe.materialize(spark, base, ScaleProbe.scaledDir(out, 10), 10,
      Seq("embeddings"))
    for (dir <- Seq(base, scaled)) yield {
      Fixtures.clearDerivedCache(spark)
      val pairs = SparkEntry.queries("llm_embed_neardup")(spark, dir)
      val planted = pairs.where("vec_a < 50 AND vec_b = vec_a + 100000").count()
      f"[recall] dir=$dir planted=$planted recall=${planted.toDouble / Planted}%.2f " +
        s"pairs=${pairs.count()}"
    }
  }
}
