package graft

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.LlmQueries

/** The recall entries join their top-10 hits on one packed BIGINT key
  * ([[LlmQueries.hitKey]]). A broadcast build on one integral key is a
  * `LongHashedRelation`; a STRING or two-column key builds an
  * `UnsafeHashedRelation`, whose map takes a whole memory page however
  * few rows it holds, and a held result's plan keeps that page alive.
  * Pinned on the executed plans, and the packing is checked to be exact
  * on the fixture.
  */
class RecallKeySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Every broadcast hash join of an executed plan, looking through the
    * adaptive wrapper, its query stages, cached relations and subqueries.
    */
  private def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    val here = p match {
      case j: BroadcastHashJoinExec => Seq(j)
      case _ => Nil
    }
    here ++ (p.children ++ inner ++ p.subqueries).flatMap(broadcastJoins)
  }

  for (name <- Seq("llm_ann_ledger", "llm_mrl_recall", "llm_sq_recall"))
    test(s"$name: every broadcast hash join builds on one integral key") {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.collect().nonEmpty)
      val joins = broadcastJoins(df.queryExecution.executedPlan)
      assert(joins.nonEmpty, s"the hit join must broadcast:\n${df.queryExecution.executedPlan}")
      // the key the build side is hashed on, after Spark packs integral
      // keys that fit into one long: LongType is a LongHashedRelation
      val builds = joins.map(j => if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys)
      val wide = builds.filterNot(k => HashJoin.rewriteKeyExpr(k).map(_.dataType) == Seq(LongType))
      assert(wide.isEmpty, s"${wide.size} broadcast builds on a non-integral or multi-column key:\n" +
        wide.map(_.map(k => s"$k: ${k.dataType.simpleString}").mkString(", ")).mkString("\n"))
    }

  test("the packed hit key is injective on the fixture's candidate pairs") {
    val ids = graft.fixtures.Fixtures.embeddingsNearDup(spark, dir).select("vec_id").distinct()
    val pairs = ids.crossJoin(ids.filter(col("vec_id") < LlmQueries.NumQueries)
        .select(col("vec_id").as("query_id")))
      .select(col("query_id"), col("vec_id"), LlmQueries.hitKey.as("hit_key"))
      .cache()
    try {
      val n = pairs.count()
      assert(n == ids.count() * LlmQueries.NumQueries)
      assert(pairs.select("query_id", "vec_id").distinct().count() == n)
      assert(pairs.select("hit_key").distinct().count() == n)
    } finally pairs.unpersist()
  }
}
