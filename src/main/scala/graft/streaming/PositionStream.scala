package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One row of the collapsing correction feed on the wire (the streaming
  * form of [[graft.fixtures.Fixtures.tradesCollapsing]]'s columns the
  * position tracker needs).
  */
case class CollapseRow(secid: Int, price: Double, quantity: Long, sign: Int)

/** CollapsingMergeTree's no-FINAL read as a STREAM — the position
  * tracker: `sum(metric · sign)` per security in update mode. This is
  * the whole point of the sign-column design at 100 TB streaming scale:
  * the running aggregate nets cancels against states inside the ordinary
  * aggregation state (one fixed-width buffer per key — ~60 here), so
  * corrections arriving hours after the original state need NO
  * keyed-row-store lookback, no watermark, no per-key collapse pass.
  * Batch/stream parity is exact because the aggregate is a commutative
  * fold — CollapseSpec replays the fixture through an in-memory stream and
  * asserts equality with the batch `qx_collapsing_turnover` numbers.
  */
object PositionStream {

  def positions(df: DataFrame): DataFrame =
    df.groupBy("secid")
      .agg(sum(col("quantity") * col("sign")).as("net_lots"),
        sum(col("price") * col("quantity") * col("sign")).as("net_turnover"),
        sum(col("sign")).as("net_trades"))
}
