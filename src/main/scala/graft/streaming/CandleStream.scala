package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ingest.CandleCore
import graft.schema.{Candle, Tick}
import graft.sources.Sinks

/** A1/A5/A16 streaming slice — the reference IS a streaming ETL
  * (/root/reference/process.go:15-67): typed tick stream → per-security
  * keyed state → candle append sink.
  *
  * Scale notes: state is one tiny fixed-size [[CandleCore.CandleState]]
  * per security (the reference's `map[int]commands.Candle`, main.go:26) —
  * thousands of keys, bytes each, far under any state-store pressure;
  * the shuffle is on secId only. The parquet sink appends per micro-batch
  * (at-least-once, like the reference's fire-and-forget AsyncInsert,
  * db.go:12); exactly-once end state comes from the ReplacingMergeTree
  * dedup read path downstream, same as the reference.
  */
object CandleStream {

  /** [[candles]]' state bound: live SECURITIES, one fixed-size state row
    * each. The reference subscribes ~60 (SURVEY §2.A). Key-sized shards
    * are the fast configuration: the r9 bench measured 48 k rows/s at
    * machine-parallelism shards vs 105 k key-sized.
    */
  val StateKeys: Long = 64

  /** [[candlesWindowed]]' state bound: LIVE WINDOWS, securities × open
    * 1-minute windows inside the `delay` horizon (~hundreds at reference
    * scale). At machine-parallelism shards the r11 bench showed this port
    * commit-bound: state_commit 233.6 s vs the exact port's 1.7 s on the
    * same feed, a 4× rows/s gap that is shard arithmetic, not operator
    * cost.
    */
  val WindowedStateKeys: Long = 256

  /** Exact port of the Go state machine as keyed streaming state. Works on
    * both a streaming and a batch `Dataset[Tick]` (Spark runs
    * flatMapGroupsWithState on batch with empty initial state).
    *
    * MEMORY BOUND: the `it.toSeq.sortBy` below buffers ONE security's slice
    * of ONE micro-batch on the heap to restore (ts, tickNo) order — fine at
    * micro-batch scale (the reference buffers the same way per gRPC batch),
    * but do NOT route a full-history batch replay through this operator:
    * that is what [[candlesBatch]]'s external-sort + lazy replay is for.
    */
  def candles(ticks: Dataset[Tick], today: java.time.LocalDate): Dataset[Candle] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.secId)
      .flatMapGroupsWithState[CandleCore.CandleState, Candle](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[Tick], state: GroupState[CandleCore.CandleState]) =>
          var cur: Option[CandleCore.CandleState] = state.getOption
          val out = ArrayBuffer.empty[Candle]
          // The wire guarantees per-security arrival order; group iterators
          // don't, so restore (ts, tickNo) order within the micro-batch.
          it.toSeq.sortBy(t => (t.ts.getTime, t.tickNo)).foreach { t =>
            val (next, candle) = CandleCore.step(cur, t, today)
            cur = Some(next)
            out ++= candle
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** The same state machine in BATCH form with streaming-shaped memory:
    * co-locate each security's history (`repartition(secId)`), order it
    * with a spillable external sort (`sortWithinPartitions`), then replay
    * lazily per partition, resetting state at security boundaries. Peak
    * task memory is one fixed-size CandleState + the current tick —
    * independent of history length — where routing a batch through
    * [[candles]] buffered one security's ENTIRE history in an in-memory
    * Seq (fine for bounded micro-batches, OOM for a hot instrument's
    * full-history replay at scale). Emissions are identical: same
    * per-security (ts, tickNo) order, same step function, final open
    * candles unemitted in both forms.
    */
  def candlesBatch(ticks: Dataset[Tick], today: java.time.LocalDate): Dataset[Candle] = {
    import ticks.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    ticks
      .repartition(col("secId"))
      .sortWithinPartitions(col("secId"), col("ts"), col("tickNo"))
      .mapPartitions { it =>
        var curSec = Int.MinValue
        var st: Option[CandleCore.CandleState] = None
        it.flatMap { t =>
          if (t.secId != curSec) { curSec = t.secId; st = None }
          val (next, candle) = CandleCore.step(st, t, today)
          st = Some(next)
          candle
        }
      }
  }

  /** Third A16 port (SURVEY §2.B streaming rows): the idiomatic
    * Structured Streaming formulation — event-time WATERMARK + tumbling
    * 1-minute window aggregation in APPEND mode. The reference has no
    * explicit late-data policy: a tick arriving after its minute was
    * emitted just pollutes the NEXT candle's state (process.go:146-156).
    * This port makes the policy explicit and bounded: ticks more than
    * `delay` behind the stream's max event time are DROPPED, and a window
    * finalizes (appends downstream, state evicted) once the watermark
    * passes its end — so state is O(open windows), not O(history).
    *
    * Measures mirror [[graft.ingest.CandleBuilder.batchCandles]] (the
    * idiomatic batch port, boundary-bug-free), including its packed
    * DECIMAL(38,0) arrival order for open/close min_by/max_by — all five
    * aggregates stay on the fixed-width HASH fast path, partial-
    * aggregated per micro-batch before the keyed state store update.
    * StreamingSpec pins: late ticks drop, on-time windows ≡ batchCandles.
    */
  def candlesWindowed(ticks: Dataset[Tick], delay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = when(col("last") > 0, expr(
      "CAST(CAST(unix_seconds(ts) AS DECIMAL(38,0)) * 100000000000000000 + tickNo AS DECIMAL(38,0))"))
    ticks.toDF()
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 minute"), col("secId"), col("secCode"))
      .agg(
        min_by(col("last"), ord).as("open"),
        max_by(col("last"), ord).as("close"),
        max(when(col("last") > 0, col("last"))).as("high"),
        min(when(col("last") > 0, col("last"))).as("low"),
        sum(col("quantity")).as("volume"))
      .filter(col("open").isNotNull)
      .select(col("window.start").as("date"), col("secId"), col("secCode"),
        lit(1).as("period"), col("open"), col("close"), col("high"),
        col("low"), col("volume"))
  }

  /** A5 analog: micro-batch append sink, started with [[StateKeys]]-sized
    * state shards.
    */
  def sinkToParquet(candles: Dataset[Candle], path: String,
      checkpoint: String): StreamingQuery =
    StreamTuning.start(candles.sparkSession, StateKeys)(
      Sinks.streamAppend(candles, path, checkpoint))
}
