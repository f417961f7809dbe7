package graft.schema

import org.apache.spark.sql.types._

/** Explicit schemas for the five reference tables (no inference — the
  * reference declares fixed DDL at startup, /root/reference/main.go:61-65).
  *
  * Type mapping per SURVEY.md §1.3: ClickHouse unsigned ints widen to the
  * next signed Spark type; Float32 → FloatType at rest but ALWAYS cast to
  * double before aggregation (SURVEY §7.5.3); LowCardinality/FixedString are
  * storage hints → plain StringType (Parquet dictionary encoding is the
  * analog); DateTime('Europe/Moscow') → TimestampType with session TZ UTC
  * (Moscow is display-only, SURVEY §7.5.2).
  */
object Schemas {

  /** transaq_trades — central fact (db.go:50-62). */
  val trades: StructType = StructType(Seq(
    StructField("time", TimestampType, nullable = false),
    StructField("secid", IntegerType, nullable = false),
    StructField("sec_code", StringType, nullable = false),
    StructField("trade_no", LongType, nullable = false),
    StructField("board", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false), // Float32 at rest; double in-engine
    StructField("quantity", LongType, nullable = false), // UInt32 → Long (no overflow)
    StructField("buy_sell", StringType, nullable = false), // 'B' | 'S'
    StructField("open_interest", IntegerType, nullable = false),
    StructField("period", StringType, nullable = false)
  ))

  /** ReplacingMergeTree ORDER BY key of transaq_trades (db.go:62). */
  val tradesKey: Seq[String] =
    Seq("secid", "board", "sec_code", "trade_no", "time", "buy_sell")

  /** transaq_securities — instrument dimension (db.go:34-48). */
  val securities: StructType = StructType(Seq(
    StructField("secid", IntegerType, nullable = false),
    StructField("seccode", StringType, nullable = false),
    StructField("instrclass", StringType, nullable = false),
    StructField("board", StringType, nullable = false),
    StructField("market", IntegerType, nullable = false),
    StructField("shortname", StringType, nullable = false),
    StructField("decimals", IntegerType, nullable = false),
    StructField("minstep", DoubleType, nullable = false),
    StructField("lotsize", IntegerType, nullable = false),
    StructField("point_cost", DoubleType, nullable = false),
    StructField("sectype", StringType, nullable = false),
    StructField("quotestype", IntegerType, nullable = false),
    StructField("active", StringType, nullable = false) // wire-side field (main.go:141)
  ))

  /** transaq_candles — OHLCV bars (db.go:22-32). */
  val candles: StructType = StructType(Seq(
    StructField("date", TimestampType, nullable = false),
    StructField("sec_code", StringType, nullable = false),
    StructField("period", IntegerType, nullable = false),
    StructField("open", DoubleType, nullable = false),
    StructField("close", DoubleType, nullable = false),
    StructField("high", DoubleType, nullable = false),
    StructField("low", DoubleType, nullable = false),
    StructField("volume", LongType, nullable = false)
  ))

  /** transaq_quotes — order-book snapshots (db.go:96-108). */
  val quotes: StructType = StructType(Seq(
    StructField("time", TimestampType, nullable = false),
    StructField("secid", IntegerType, nullable = false),
    StructField("board", StringType, nullable = false),
    StructField("sec_code", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("yield", IntegerType, nullable = false),
    StructField("buy", IntegerType, nullable = false),
    StructField("sell", IntegerType, nullable = false)
  ))

  val quotesKey: Seq[String] = Seq("sec_code", "board", "price", "source")

  /** transaq_securities_info — full bond/derivative metadata surface
    * (db.go:64-94). The DDL declares 28 columns; the reference's INSERT
    * statement has only 27 placeholders and its Go append pushes 29 values
    * (CouponPeriod is appended twice, db.go:160-162), so positional inserts
    * land one slot off from accruedint onward. We implement the DDL's
    * INTENDED schema (SURVEY §7.5.6) — the three DateTime columns are
    * midnight timestamps parsed from `dd.MM.yyyy` wire strings
    * (db.go:14,140-142).
    */
  val securitiesInfo: StructType = StructType(Seq(
    StructField("secid", IntegerType, nullable = false), // UInt16
    StructField("sec_name", StringType, nullable = false),
    StructField("sec_code", StringType, nullable = false), // FixedString(16)
    StructField("market", IntegerType, nullable = false), // UInt8
    StructField("pname", StringType, nullable = false),
    StructField("mat_date", TimestampType, nullable = false),
    StructField("clearing_price", DoubleType, nullable = false), // Float32 at rest
    StructField("minprice", DoubleType, nullable = false),
    StructField("maxprice", DoubleType, nullable = false),
    StructField("buy_deposit", DoubleType, nullable = false),
    StructField("sell_deposit", DoubleType, nullable = false),
    StructField("bgo_c", DoubleType, nullable = false),
    StructField("bgo_nc", DoubleType, nullable = false),
    StructField("bgo_buy", DoubleType, nullable = false),
    StructField("accruedint", DoubleType, nullable = false),
    StructField("coupon_value", DoubleType, nullable = false),
    StructField("coupon_date", TimestampType, nullable = false),
    StructField("coupon_period", IntegerType, nullable = false), // UInt8
    StructField("facevalue", DoubleType, nullable = false),
    StructField("put_call", StringType, nullable = false), // FixedString(1)
    StructField("point_cost", DoubleType, nullable = false),
    StructField("opt_type", StringType, nullable = false), // FixedString(1)
    StructField("lot_volume", IntegerType, nullable = false), // UInt8
    StructField("isin", StringType, nullable = false),
    StructField("regnumber", StringType, nullable = false),
    StructField("buybackprice", DoubleType, nullable = false),
    StructField("buybackdate", TimestampType, nullable = false),
    StructField("currencyid", StringType, nullable = false)
  ))

  /** ReplacingMergeTree ORDER BY key of transaq_securities_info (db.go:94). */
  val securitiesInfoKey: Seq[String] = Seq("sec_code", "market", "regnumber", "isin")
}

/** Wire-side tick (commands.Quotation subset consumed at process.go:129-163). */
case class Tick(
    secId: Int,
    secCode: String,
    ts: java.sql.Timestamp, // full event timestamp (batch harness)
    time: String,           // "HH:mm:ss" wire string (process.go:131 suffix test)
    last: Double,
    open: Double,           // session-open wire field (process.go:148 reads q.Open)
    quantity: Long,
    tickNo: Long)

/** Output of the tick→1-minute-OHLCV builder (process.go:126-169). */
case class Candle(
    date: java.sql.Timestamp,
    secId: Int,
    secCode: String,
    period: Int,
    open: Double,
    close: Double,
    high: Double,
    low: Double,
    volume: Long)

/** Storage-shaped trade row (db.go:56-63 column set) — the encoder the
  * end-to-end streaming-ingest entries replay through
  * [[graft.streaming.Replay]]; field names match the engine's trades
  * table so `as[TradeRow]`/`toDF()` are column-exact round trips.
  */
case class TradeRow(
    time: java.sql.Timestamp,
    secid: Int,
    sec_code: String,
    trade_no: Long,
    board: String,
    price: Double,
    quantity: Long,
    buy_sell: String,
    open_interest: Int,
    period: String)
