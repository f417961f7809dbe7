package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * its DuckDB oracle twin run by the driver (Verify.scala contract).
  * Column names of `fn`'s result and `oracle`'s SELECT list must match —
  * the driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, withFunctions(fn), Some(oracle))
  // every query sees the engine's SQL function surface (registration is
  // idempotent per session)
  private def withFunctions(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => { graft.expr.GraftFunctions.register(spark); fn(spark, dir) }
}
