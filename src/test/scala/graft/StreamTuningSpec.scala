package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.schema.Tick
import graft.streaming.{CandleStream, DocStream, EnrichJoin, SessionEvent, SessionStream,
  StreamTuning}

/** The round-10 state-shard sizing rule: floor for small state, one
  * shard per KeysPerShard live rows, capped at the parallelism bound —
  * and at 100 TB cardinalities it turns the knob the other way (shards
  * far above core count), which is the claim the scaladoc makes.
  *
  * Where the rule applies: a query's shard count is sized when it starts
  * ([[StreamTuning.start]]); building a plan leaves the session conf as
  * it was, and starting one restores it.
  */
class StreamTuningSpec extends SparkSuite {

  private val Shuffle = "spark.sql.shuffle.partitions"
  // differs from every sized count on four cores, so a conf left at a
  // sized value cannot pass for the session's own
  private val SessionValue = "5"

  private def withSessionShuffle(v: Option[String])(body: => Unit): Unit = {
    val prev = spark.conf.getAll.get(Shuffle)
    v.fold(spark.conf.unset(Shuffle))(spark.conf.set(Shuffle, _))
    try body
    finally prev.fold(spark.conf.unset(Shuffle))(spark.conf.set(Shuffle, _))
  }

  private def tick(sec: Int, min: Int, no: Long): Tick = {
    val t = Timestamp.valueOf(f"2024-12-06 10:$min%02d:00")
    Tick(sec, s"SEC$sec", t, f"10:$min%02d:00", 100.0 + no, 100.0, 1L, no)
  }

  test("shardsFor floors, scales with cardinality, and caps at the bound") {
    assert(StreamTuning.shardsFor(0L, 128) == StreamTuning.MinShards)
    assert(StreamTuning.shardsFor(1L, 128) == StreamTuning.MinShards)
    assert(StreamTuning.shardsFor(StreamTuning.KeysPerShard, 128) == StreamTuning.MinShards)
    assert(StreamTuning.shardsFor(8 * StreamTuning.KeysPerShard, 128) == 8)
    // partial shard rounds UP (ceil division)
    assert(StreamTuning.shardsFor(8 * StreamTuning.KeysPerShard + 1, 128) == 9)
    assert(StreamTuning.shardsFor(1L << 30, 128) == 128)
    // the 100 TB direction: a billion live keys wants ~15 k shards on a
    // big enough cluster, far above any single machine's core count
    assert(StreamTuning.shardsFor(1000000000L, 20000) == 15259)
  }

  test("building the five streaming plans leaves the session's shuffle partitions alone") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withSessionShuffle(Some(SessionValue)) {
      val ticks = MemoryStream[Tick].toDS()
      val docs = MemoryStream[(Long, Timestamp, String, String)].toDS()
        .toDF("doc_id", "ts", "lang", "text")
      val plans = Seq(
        "candles" -> (() => CandleStream.candles(ticks, java.time.LocalDate.of(2024, 12, 6))),
        "candlesWindowed" -> (() => CandleStream.candlesWindowed(ticks, "2 minutes")),
        "sessions" -> (() => SessionStream.sessions(MemoryStream[SessionEvent].toDS())),
        "curationGate" -> (() => DocStream.curationGate(docs, "ts", "10 minutes")),
        "tradeQuoteWindow" -> (() => EnrichJoin.tradeQuoteWindow(ticks.toDF(),
          MemoryStream[Tick].toDF(), "30 SECONDS", "1 minute")))
      for ((name, build) <- plans) {
        build()
        assert(spark.conf.get(Shuffle) == SessionValue, s"$name changed the session conf")
      }
    }
  }

  test("both parquet sinks start with StateKeys-sized shards and restore the conf") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one batch through a started query, then its state operator's shard count
    def shardsAfterOneBatch(q: StreamingQuery)(feed: => Unit): Long =
      try { feed; q.processAllAvailable(); q.lastProgress.stateOperators(0).numShufflePartitions }
      finally q.stop()
    def dir(p: String) = Files.createTempDirectory(p).toString
    withSessionShuffle(Some(SessionValue)) {
      val ticks = MemoryStream[Tick]
      val candles = shardsAfterOneBatch(CandleStream.sinkToParquet(
        CandleStream.candles(ticks.toDS(), java.time.LocalDate.of(2024, 12, 6)),
        dir("tuning_candles"), dir("tuning_candles_ck"))) {
        ticks.addData(Seq(tick(1, 0, 1), tick(2, 0, 2), tick(1, 1, 3)))
      }
      assert(candles == StreamTuning.shards(spark, CandleStream.StateKeys))
      assert(spark.conf.get(Shuffle) == SessionValue)

      val events = MemoryStream[SessionEvent]
      val sessions = shardsAfterOneBatch(SessionStream.sinkToParquet(
        SessionStream.sessions(events.toDS()),
        dir("tuning_sessions"), dir("tuning_sessions_ck"))) {
        events.addData(Seq(SessionEvent(1L, Timestamp.valueOf("2024-12-06 10:00:00"))))
      }
      assert(sessions == StreamTuning.shards(spark, SessionStream.StateKeys))
      assert(spark.conf.get(Shuffle) == SessionValue)
    }
  }

  test("start holds the sized count for its body only, also when the body throws") {
    for (before <- Seq(Some(SessionValue), None)) withSessionShuffle(before) {
      var seen = ""
      val e = intercept[IllegalStateException](StreamTuning.start(spark, EnrichJoin.StateKeys) {
        seen = spark.conf.get(Shuffle)
        throw new IllegalStateException("injected at start")
      })
      assert(e.getMessage == "injected at start")
      assert(seen == StreamTuning.shards(spark, EnrichJoin.StateKeys).toString)
      assert(spark.conf.getAll.get(Shuffle) == before, "conf not restored (unset where unset)")
    }
  }
}
