package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-group ranking shared by the query families: the one Spark spelling
  * of `row_number() OVER (PARTITION BY … ORDER BY …)` and its top-k cut.
  * The DuckDB twins keep their own text.
  */
private[queries] object Ranked {

  /** 1-based row number within each `by` group under `order`. */
  def rowNumber(by: String*)(order: Column*): Column =
    row_number().over(Window.partitionBy(by.map(col): _*).orderBy(order: _*))

  /** `df` plus the rank column `as`, keeping ranks 1..`k`. */
  def topK(df: DataFrame, as: String, k: Int)(rank: Column): DataFrame =
    df.withColumn(as, rank).filter(col(as) <= k)
}
