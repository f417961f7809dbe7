package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fixtures.Fixtures
import graft.ingest.Parse
import graft.schema.{Candle, Tick}
import graft.sources.Sinks
import graft.streaming.CandleStream

/** A trade as it arrives on the wire: `time_str` in the exporter's
  * `dd.MM.yyyy HH:mm:ss` layout, parsed by `Parse.trades`.
  */
final case class WireTrade(time_str: String, secid: Int, sec_code: String,
    trade_no: Long, board: String, price: Double, quantity: Long,
    buy_sell: String, open_interest: Int, period: String)

/** The embedded Derby store the exactly-once sink writes into. */
final class Store(ctx: Ctx) {
  val url = s"jdbc:derby:${ctx.run}/derby/store;create=true"
  val props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def exec(sqls: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try { val st = c.createStatement(); sqls.foreach(st.executeUpdate); st.close() }
    finally c.close()
  }

  /** The reference exporter's trades DDL (as in `E2eQueries`) plus a
    * candle table shaped like `graft.schema.Candle`.
    */
  def create(): Unit = {
    exec(
      """CREATE TABLE transaq_trades (
        |  "time" TIMESTAMP, "secid" INT, "sec_code" VARCHAR(16),
        |  "trade_no" BIGINT PRIMARY KEY, "board" VARCHAR(8),
        |  "price" DOUBLE, "quantity" BIGINT, "buy_sell" VARCHAR(1),
        |  "open_interest" INT, "period" VARCHAR(1))""".stripMargin,
      """CREATE TABLE bench_candles (
        |  "date" TIMESTAMP, "secId" INT, "secCode" VARCHAR(16), "period" INT,
        |  "open" DOUBLE, "close" DOUBLE, "high" DOUBLE, "low" DOUBLE,
        |  "volume" BIGINT)""".stripMargin)
    Sinks.ensureEpochLedger(url, props)
  }

  def truncate(): Unit = exec("TRUNCATE TABLE transaq_trades", "TRUNCATE TABLE bench_candles")

  /** count(*), sum(quantity), max(trade_no) of the stored trades. */
  def tradeStats(): Seq[Long] = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT COUNT(*), SUM("quantity"), MAX("trade_no") FROM transaq_trades""")
      rs.next()
      Seq(rs.getLong(1), rs.getLong(2), rs.getLong(3))
    } finally c.close()
  }

  def tradeCount(): Long = tradeStats().head

  def candles(): DataFrame = ctx.spark.read.jdbc(url, "bench_candles", props)
}

/** The two wire feeds in wire order, collected once from the fixtures. */
final class Feed(ctx: Ctx) {
  import ctx.spark.implicits._
  val trades: IndexedSeq[WireTrade] = Fixtures.tradesWire(ctx.spark, ctx.dir)
    .withColumn("_t", to_timestamp(col("time_str"), "dd.MM.yyyy HH:mm:ss"))
    .orderBy("_t", "trade_no").drop("_t").as[WireTrade].collect().toIndexedSeq
  val ticks: IndexedSeq[Tick] = Fixtures.ticks(ctx.spark, ctx.dir).selectExpr(
      "secid AS secId", "sec_code AS secCode", "ts", "time",
      "last", "open", "quantity", "tick_no AS tickNo")
    .as[Tick].collect().sortBy(t => (t.ts.getTime, t.tickNo)).toIndexedSeq
}

object Feed {
  val Tables: Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Seq(Fixtures.tradesWire, Fixtures.ticks)
  val Day: java.time.LocalDate = java.time.LocalDate.of(2024, 12, 6)
  val SourceParts = 8

  /** Fixed-size chunks, so every seed replays the same number of
    * micro-batches (each pays the fixed per-batch floor).
    */
  def chunks[T](rows: Seq[T], size: Int): Seq[Seq[T]] = rows.grouped(size).toSeq
}

/** The two ingest streams of one episode: wire trades through
  * `Parse.trades`, ticks through `CandleStream.candles`, each into the
  * store through `Sinks.jdbcBatchIdempotent` from `foreachBatch` (what
  * `jdbcStreamAppendIdempotent` does), so each sink call can be timed.
  * Every `ReplayEvery`-th trade batch is delivered a second time under
  * the same batch id, as after a reconnect.
  */
final class Streams(ctx: Ctx, store: Store, episode: String) {
  import ctx.spark.implicits._
  private implicit val sqlCtx: SQLContext = ctx.spark.sqlContext

  val trades = MemoryStream[WireTrade](Feed.SourceParts)
  val ticks = MemoryStream[Tick](Feed.SourceParts)
  /** sink-commit time (nanoTime) per (stream, batch id) */
  val commitNs = Map("trades" -> new ConcurrentHashMap[Long, Long](),
    "ticks" -> new ConcurrentHashMap[Long, Long]())
  val sinkMs = new ConcurrentLinkedQueue[Double]()
  val replays = new AtomicLong()
  val replaysSkipped = new AtomicLong()
  private var queries: Seq[StreamingQuery] = Nil

  /** One sink call per micro-batch, each an attempted operation; an error
    * propagates and fails the query, as in `jdbcStreamAppendIdempotent`.
    */
  private def sink(stream: String, table: String, df: DataFrame, batchId: Long): Unit = {
    ctx.attempted.incrementAndGet()
    val req = s"$episode/$stream/$batchId"
    val t0 = System.nanoTime()
    Tracer.span(ctx.tracer, ctx.spark, s"$req/sink", "", req, "sources", table) {
      Sinks.jdbcBatchIdempotent(df, store.url, table, store.props, s"$stream-$episode", batchId)
    }
    val t1 = System.nanoTime()
    sinkMs.add(Stats.ms(t1 - t0))
    commitNs(stream).put(batchId, t1)
    if (stream == "trades" && batchId % Streams.ReplayEvery == Streams.ReplayEvery - 1) {
      val before = store.tradeCount()
      Tracer.span(ctx.tracer, ctx.spark, s"$req/replay", s"$req/sink", req, "sources", table) {
        Sinks.jdbcBatchIdempotent(df, store.url, table, store.props, s"$stream-$episode", batchId)
      }
      replays.incrementAndGet()
      if (store.tradeCount() == before) replaysSkipped.incrementAndGet()
      else ctx.fail(s"$req: a replayed batch wrote rows")
    }
  }

  def start(): Unit = {
    val ck = s"${ctx.run}/ck/$episode"
    val prev = ctx.spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val qt = Parse.trades(trades.toDS().toDF()).repartition(1).writeStream
        .option("checkpointLocation", s"$ck/trades")
        .foreachBatch { (b: DataFrame, id: Long) => sink("trades", "transaq_trades", b, id) }
        .start()
      val qk = CandleStream.candles(ticks.toDS(), Feed.Day).writeStream
        .option("checkpointLocation", s"$ck/ticks")
        .foreachBatch { (b: Dataset[Candle], id: Long) =>
          sink("ticks", "bench_candles", b.toDF().repartition(1), id)
        }
        .start()
      queries = Seq(qt, qk)
    } finally ctx.spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def query(stream: String): StreamingQuery = if (stream == "trades") queries.head else queries(1)

  def stop(): Unit = queries.foreach(_.stop())

  /** (batch id, rows) per micro-batch, from the query's progress reports. */
  def batches(stream: String): Seq[(Long, Long)] =
    query(stream).recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.numInputRows))
}

object Streams {
  /** Trade batches between two redeliveries. */
  val ReplayEvery = 4
}

/** Untimed output checks of an ingest episode. */
object IngestChecks {
  /** The store's trades against the first `nTrades` parquet trades in
    * wire order (count, sum(quantity), max(trade_no)); checked in DuckDB.
    */
  def store(ctx: Ctx, store: Store, episode: String, nTrades: Int): Unit =
    ctx.check(Map("kind" -> "store", "name" -> s"store-$episode",
      "sql" -> Fixtures.withCtes(
        s"""SELECT count(*), sum(quantity), max(trade_no) FROM
           |(SELECT * FROM trades ORDER BY time, trade_no LIMIT $nTrades) f""".stripMargin,
        Fixtures.tradesCte),
      "got" -> store.tradeStats()))

  /** The streamed candles against `CandleStream.candlesBatch`. */
  def candles(ctx: Ctx, store: Store, episode: String, fedTicks: Seq[Tick]): Unit = {
    import ctx.spark.implicits._
    ctx.attempt(s"candles-$episode") {
      val cols = Seq("date", "secId", "secCode", "period", "open", "close", "high", "low", "volume")
      val streamed = store.candles().selectExpr(cols: _*)
      val batch = CandleStream.candlesBatch(ctx.spark.createDataset(fedTicks), Feed.Day)
        .toDF().selectExpr(cols: _*)
      val extra = streamed.exceptAll(batch).count()
      val missing = batch.exceptAll(streamed).count()
      ctx.layers("ingest.candles_out") = streamed.count().toDouble
      require(extra == 0 && missing == 0,
        s"streamed candles differ from candlesBatch: $extra extra, $missing missing")
    }
  }
}

/** Closed-loop feeding: one chunk per micro-batch, next chunk only after
  * the previous one is committed; one client thread per stream. A failed
  * stream is recorded as a failed operation.
  */
object ClosedLoop {
  def feed(ctx: Ctx, streams: Streams, tradeChunks: Seq[Seq[WireTrade]],
      tickChunks: Seq[Seq[Tick]]): Unit = {
    def client(name: String)(body: => Unit) = new Thread(() => {
      try body
      catch { case NonFatal(e) => ctx.fail(s"$name stream: ${e.getMessage}") }
    })
    val threads = Seq(
      client("trades")(tradeChunks.foreach { c =>
        streams.trades.addData(c); streams.query("trades").processAllAvailable()
      }),
      client("ticks")(tickChunks.foreach { c =>
        streams.ticks.addData(c); streams.query("ticks").processAllAvailable()
      }))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** Backlog replay after a reconnect (closed loop, max rate). Every
  * episode truncates the store and starts both streams fresh; the first
  * half of the feed is the cold backlog (new queries), the second half
  * the warm backlog on the running queries. All rows of a backlog are
  * due at the instant it starts.
  */
class Catchup extends Workload {
  private var feed: Feed = _
  private var store: Store = _
  private var episodes = 0
  private val sinkMs = ArrayBuffer.empty[Double]
  private var replays = 0L
  private var skipped = 0L

  def setupRep(ctx: Ctx): Unit = {
    ctx.clear()
    ctx.build(Feed.Tables)
  }

  /** Collect the feed, create the store, and replay one batch's worth of
    * rows (half a batch per backlog), so the measured episodes start
    * JIT-warm.
    */
  def warmup(ctx: Ctx): Unit = {
    feed = new Feed(ctx)
    store = new Store(ctx)
    store.create()
    val n = math.min(feed.trades.length, Catchup.BatchRows)
    episode(ctx, new Phase, feed.trades.take(n), feed.ticks.take(n), check = false)
  }

  private def episode(ctx: Ctx, p: Phase, trades: Seq[WireTrade], ticks: Seq[Tick],
      check: Boolean): Unit = {
    episodes += 1
    val ep = s"c$episodes"
    store.truncate()
    val st = new Streams(ctx, store, ep)
    st.start()
    try {
      val (ta, tb) = trades.splitAt(trades.length / 2)
      val (ka, kb) = ticks.splitAt(ticks.length / 2)
      for ((t, k, cold) <- Seq((ta, ka, true), (tb, kb, false))) {
        val done = Map("trades" -> st.commitNs("trades").keySet().asScala.toSet,
          "ticks" -> st.commitNs("ticks").keySet().asScala.toSet)
        val t0 = System.nanoTime()
        ClosedLoop.feed(ctx, st, Feed.chunks(t, Catchup.BatchRows), Feed.chunks(k, Catchup.BatchRows))
        val sec = Stats.sec(System.nanoTime() - t0)
        if (cold) p.cold += sec else p.pass += sec
        p.work += t.length + k.length
        p.workSec += sec
        for (s <- Seq("trades", "ticks"); (id, rows) <- st.batches(s) if !done(s).contains(id))
          p.addLat(Stats.ms(st.commitNs(s).get(id) - t0), rows)
      }
    } finally st.stop()
    if (ctx.tracer.isDefined) {
      sinkMs ++= st.sinkMs.asScala
      replays += st.replays.get()
      skipped += st.replaysSkipped.get()
    }
    if (check) IngestChecks.store(ctx, store, ep, trades.length)
    ctx.layers("ingest.rows_in") = (trades.length + ticks.length).toDouble
    ctx.layers("ingest.rows_out") = store.tradeCount().toDouble
    Main.settle(ctx)
  }

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    val t0 = System.nanoTime()
    var episodeSec = 0.0
    while (Main.another(t0, seconds, p.pass.length, episodeSec)) {
      val e0 = System.nanoTime()
      episode(ctx, p, feed.trades, feed.ticks, check = true)
      episodeSec += Stats.sec(System.nanoTime() - e0)
    }
    p
  }

  /** The candle check replays the full feed through `candlesBatch`, so it
    * runs once, on the store the last episode left.
    */
  def finish(ctx: Ctx): Unit = {
    IngestChecks.candles(ctx, store, s"c$episodes", feed.ticks)
    if (ctx.tracer.isDefined) {
      ctx.layers("sources.sink_ms") = Main.nz(Stats.median(sinkMs))
      ctx.layers("sources.sink_calls") = sinkMs.length.toDouble
      ctx.layers("sources.replays") = replays.toDouble
      ctx.layers("sources.replays_skipped") = skipped.toDouble
    }
  }
}

object Catchup {
  /** Rows per micro-batch: large and fixed, as a replay after a reconnect,
    * and large enough that per-row work outweighs the per-batch floor
    * (see perfbench/README.md, "Batch size").
    */
  val BatchRows = 40000
}
