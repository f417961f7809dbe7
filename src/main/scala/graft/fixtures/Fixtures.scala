package graft.fixtures

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.expr

/** Deterministic transaq-shaped tables derived from the driver's TPC-H-ish
  * parquet (TESTDATA.md). The SAME derivation is expressed twice:
  *
  *   - as Spark projections (the `DataFrame` builders below), and
  *   - as DuckDB CTE prefixes (`*Cte` strings) prepended to every
  *     `SparkEntry.oracleSql` entry,
  *
  * so the driver's hash-compare stays valid (FIXTURES.md). Rules that keep
  * the two sides bit-identical:
  *
  *   1. Arithmetic only — `%`, `*`, `+`, `floor`, `lpad`, `concat`, CASE,
  *      and md5 (hex string, identical in both engines). No engine-specific
  *      hash functions, no RAND.
  *   2. Every numeric that will be aggregated is an INTEGER-VALUED double or
  *      a bigint. Sums of integer-valued doubles below 2^53 are exact and
  *      order-independent, so Spark's partition-parallel sum and DuckDB's
  *      sequential sum agree bit-for-bit (SURVEY §7.5.3).
  *   3. Timestamps are whole seconds, TZ-naive UTC (SURVEY §7.5.2).
  *
  * Shape mirrors the reference deployment (/root/reference/db.go:22-108 DDL;
  * etc/transaq-clickhouse-exporter.service:19 = 60 subscribed sec codes;
  * main.go:106 boards): 60 securities, each on exactly one board so the
  * fact⋈dim join on (secid,board) or (sec_code,board) always hits.
  *
  * Time model (round 2): the reference dashboard queries ONE trading day
  * (GD:3888-3891, 2024-12-06 06:57:21 → 16:00:11) over a table holding
  * multiple days — the `timestamp_add(day, 1, time)` queries (GD:794)
  * compare yesterday against today. The fixture therefore spreads trades
  * over THREE consecutive days (2024-12-04/05/06) with second-granular
  * trade times inside 07:00-16:00, so that (a) raw-`time` groupings have
  * real same-second collisions like a live feed, and (b) the +1-day shift
  * moves 12-05 trades INTO the dashboard window. All lineitems of one order
  * trade in the same second (one aggressor order sweeping the book), which
  * is what makes Q4's same-second iceberg detection non-degenerate.
  */
object Fixtures {

  val NumSecs = 60

  // ---- shared expression fragments (valid in BOTH Spark SQL and DuckDB) ----
  private def secCode(n: String): String =
    s"concat('SEC', lpad(CAST($n AS STRING), 2, '0'))"
  private def board(n: String): String =
    s"CASE WHEN ($n) % 10 < 6 THEN 'TQBR' WHEN ($n) % 10 < 9 THEN 'TQTF' ELSE 'FUT' END"
  private def shortname(n: String): String =
    s"CASE WHEN ($n) % 7 = 0 THEN concat('BOND-', ${secCode(n)}, '-OFZ') ELSE concat('SN-', ${secCode(n)}) END"

  // =========================================================================
  // transaq_trades  (from lineitem; FIXTURES.md)
  // =========================================================================

  // second-of-day 07:00:00..15:59:59, one second per ORDER (all lineitems of
  // an order share it — same-second multi-trade sweeps)
  private val sodExprT = "(l_orderkey * 2741) % 32400 + 25200"
  // trading day: 2024-12-04 + orderkey % 3 (dashboard window is 12-06)
  private val dayOffT = "l_orderkey % 3"

  private val tradeColsSpark = Seq(
    s"timestampadd(SECOND, CAST($sodExprT AS INT), CAST(date_add(DATE '2024-12-04', CAST($dayOffT AS INT)) AS TIMESTAMP)) AS time",
    "CAST(l_partkey % 60 + 1 AS INT) AS secid",
    s"${secCode("l_partkey % 60")} AS sec_code",
    // unique per row at every SF (verified): the generator DUPLICATES
    // (orderkey, linenumber) pairs — price cents break the remaining ties
    "CAST((l_orderkey * 8 + l_linenumber) * 10000000000 + (l_partkey % 100000) * 100000 + (CAST(floor(l_extendedprice * 100) AS BIGINT) + l_suppkey) % 100000 AS BIGINT) AS trade_no",
    s"${board("l_partkey % 60")} AS board",
    // integer-valued double (rule 2): floor of the unit price
    "CAST(floor(l_extendedprice / l_quantity) AS DOUBLE) AS price",
    // 40% single-lot trades (iceberg slices for Q4), else the TPC-H quantity
    "CASE WHEN l_quantity % 5 < 2 THEN CAST(1 AS BIGINT) ELSE CAST(l_quantity AS BIGINT) END AS quantity",
    "CASE WHEN l_orderkey % 2 = 0 THEN 'B' ELSE 'S' END AS buy_sell",
    "CAST(l_partkey % 100 AS INT) AS open_interest",
    "'T' AS period"
  )

  // Derived base tables are memoized + cached per (session, dir): the
  // engine's post-ingest "tables". A deployment materializes these once
  // (time-partitioned, key-sorted — Sinks.batchAppend); recomputing the
  // wire projection per query would model re-ingesting on every read.
  // Session lifetime in the one cache owner ([[SessionCache]]), whose
  // build discipline lets a builder memoize ANOTHER table (e.g.
  // embeddingsRedelivered builds on embeddingsNearDup).
  private def memo(spark: SparkSession, dir: String, name: String,
      bytesPerPart: Long = 64L << 10)(
      build: => DataFrame): DataFrame =
    SessionCache(SessionCache.Session,
        "table#" + spark.sparkContext.applicationId + "#" + dir + "#" + name) {
      // Normalize cached-table parallelism (round 8): the driver fixtures
      // are single-file single-row-group parquet, so the scan — and the
      // partitioning every cached table hands its consumers — is ONE task
      // regardless of local[32]. That serialized the map-heavy stages of
      // every documents/trades consumer (the BPE replace chain, shingle
      // explodes, quality projections) at fixture scale; ScaleProbe's
      // second decade measured llm_bpe_apply running 2x FASTER on 10x the
      // data purely because the bigger corpus happened to be written as 32
      // files.
      //
      // The target is SIZE-PROPORTIONAL, not defaultParallelism flat: a
      // single-JVM interleaved A/B (PERF_NOTES.md, round 15) measured a
      // flat 32 costing +0.5–2 s warm on every multi-job consumer of a
      // 5k-row table (32 tasks re-deserializing large task binaries —
      // Bloom literals, broadcast stat tables — per job, every job). One partition per ~64 KB of plan-stats bytes,
      // clamped to [1, defaultParallelism]: tiny dims stay near-serial
      // (their per-task overhead dwarfs their work), the text corpus gets
      // enough tasks that a CPU-heavy derivation isn't single-threaded,
      // full-size tables cap at machine parallelism. On a real deployment
      // (file count >> cores) scans already exceed the clamp and the
      // branch never fires; this exists for single-file local fixtures.
      val df0 = build
      val bytes = df0.queryExecution.optimizedPlan.stats.sizeInBytes
      // clamp in BigInt space BEFORE converting: stats without column
      // histograms multiply child sizes, and a BigInt past 2^63 would
      // otherwise .toLong-wrap to an arbitrary (possibly negative)
      // target and silently skip normalization (round-8 review finding).
      val target = (bytes / BigInt(bytesPerPart))
        .min(BigInt(spark.sparkContext.defaultParallelism))
        .max(BigInt(1)).toInt
      val df = if (df0.rdd.getNumPartitions < target) df0.repartition(target) else df0
      df.cache()
    }

  /** Materialize a frame as in-engine blocks with lineage truncated.
    * `localCheckpoint()` is only safe where executor loss is impossible —
    * it is NOT fault-tolerant (lineage is gone, so losing a block's
    * executor fails the job) — so it is gated to local masters (this
    * repo's bench/driver shape, single JVM). Any other master falls back
    * to `.cache()`: recomputable under executor loss and dynamic
    * allocation, at the cost of the full lineage staying in consumer
    * plans (the r15 ADVICE gate).
    */
  def materialized(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint()
    else df.cache()

  /** Entry-internal derived-frame memo (round 16). The r15 plan-truncation
    * pass replaced several `.cache()` sites with `localCheckpoint()` —
    * which truncates lineage but, unlike `.cache()`, is NOT plan-keyed:
    * a builder re-invoked for the warm lane's second rep creates a FRESH
    * checkpoint and re-executes the whole derivation (KeyProbe r16:
    * llm_ann_ledger warm ≈ cold ≈ 4.1 s — zero steady-state reuse). And
    * plan-keyed `.cache()` reuse cannot help closure-bearing plans
    * (mapPartitions codecs): each builder invocation creates a new
    * closure instance, canonicalization misses, and every rep leaks a new
    * cached copy. This memo is the NAME-keyed twin of [[memo]] for
    * such frames: one materialization per (application, dir, name),
    * returned to every builder re-invocation, session lifetime in
    * [[SessionCache]] and so dropped by [[clearDerivedCache]] — the
    * single release owner the r14 verdict asked for (item 6): the bench
    * clears between keys, a production session composing entries calls
    * it once when its working set should drop.
    */
  def derived(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    SessionCache(SessionCache.Session,
      "derived#" + spark.sparkContext.applicationId + "#" + dir + "#" + name)(
      materialized(build))

  /** Drop every session-lifetime entry of [[SessionCache]] AND Spark's
    * block cache (which is keyed by canonicalized plan, so even
    * non-memoized `.cache()` calls inside query builders are reused
    * across invocations). Used by the bench's cold lane to measure the
    * real scan path, and the release owner for every session-scoped cache
    * a query builder creates (r14 verdict item 6): production callers
    * composing several entries call this once when the accumulated
    * working set should drop. Application-lifetime entries survive (the
    * lifetime table is in [[SessionCache]]'s scaladoc).
    */
  def clearDerivedCache(spark: SparkSession): Unit = {
    // the securities dim is dropped too (round 10): catalog.clearCache()
    // UNPERSISTS the dim frame, so a surviving memo entry would be a
    // half-state — the same DataFrame object, silently no longer
    // cache-marked. Queries built on it then inline the raw derivation
    // (filters push through the dim's distinct, join sides change shape —
    // RuntimeFilterSpec caught the drift), and the `.cache()` is never
    // re-applied for the lifetime of the app. Dropping the entry makes
    // the next access rebuild AND re-mark.
    SessionCache.clearSession()
    // Blocking release (round 14, r13 verdict items 2/6): catalog
    // .clearCache() unpersists every cached plan NON-blocking — the
    // storage blocks of the PREVIOUS key's caches are still being torn
    // down while the next key's reps run, and that async churn (block-
    // manager removal + the GC of freed pages) lands inside the warm
    // lane's timed window. Unpersist the registered RDDs blocking FIRST
    // so a clear actually returns with storage memory released.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Carry the reference DDL's fixed/short string widths as column
    * metadata ([[graft.ingest.Dedup.FixedBytesKey]]) so the dedup read
    * path can prove the payload BIGINT-packable and self-route to its
    * all-hash columnar plan (round 7).
    */
  private def declareFixedBytes(df: DataFrame, cols: (String, Long)*): DataFrame =
    cols.foldLeft(df) { case (d, (c, n)) =>
      d.withMetadata(c, new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(d.schema(c).metadata)
        .putLong(graft.ingest.Dedup.FixedBytesKey, n).build())
    }

  def trades(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "trades") {
      // period: LowCardinality(FixedString(1)), db.go:60
      declareFixedBytes(
        spark.read.parquet(s"$dir/lineitem.parquet").selectExpr(tradeColsSpark: _*),
        "period" -> 1L)
    }

  /** DuckDB twin of [[trades]] (date/interval dialect differs). */
  val tradesCte: String =
    s"""trades AS (SELECT
       |  DATE '2024-12-04' + CAST($dayOffT AS INT) + ($sodExprT) * INTERVAL '1 second' AS time,
       |  CAST(l_partkey % 60 + 1 AS INT) AS secid,
       |  ${secCode("l_partkey % 60")} AS sec_code,
       |  CAST((l_orderkey * 8 + l_linenumber) * 10000000000 + (l_partkey % 100000) * 100000 + (CAST(floor(l_extendedprice * 100) AS BIGINT) + l_suppkey) % 100000 AS BIGINT) AS trade_no,
       |  ${board("l_partkey % 60")} AS board,
       |  CAST(floor(l_extendedprice / l_quantity) AS DOUBLE) AS price,
       |  CASE WHEN l_quantity % 5 < 2 THEN CAST(1 AS BIGINT) ELSE CAST(l_quantity AS BIGINT) END AS quantity,
       |  CASE WHEN l_orderkey % 2 = 0 THEN 'B' ELSE 'S' END AS buy_sell,
       |  CAST(l_partkey % 100 AS INT) AS open_interest,
       |  'T' AS period
       |FROM lineitem)""".stripMargin

  // =========================================================================
  // versioned trades  (at-least-once re-delivery for the dedup read path):
  // every 10th trade is re-inserted with a bumped price and a later
  // ingest_seq — ReplacingMergeTree keeps the LAST row per key (db.go:61-62)
  // =========================================================================

  def tradesVersioned(spark: SparkSession, dir: String): DataFrame = {
    val base = trades(spark, dir).selectExpr("*", "CAST(1 AS BIGINT) AS ingest_seq")
    val redelivered = trades(spark, dir)
      .filter("trade_no % 10 = 0")
      .selectExpr("time", "secid", "sec_code", "trade_no", "board",
        "price + 1 AS price", "quantity", "buy_sell", "open_interest", "period",
        "CAST(2 AS BIGINT) AS ingest_seq")
    base.unionByName(redelivered)
  }

  val tradesVersionedCte: String =
    s"""trades_versioned AS (
       |  SELECT *, CAST(1 AS BIGINT) AS ingest_seq FROM trades
       |  UNION ALL
       |  SELECT time, secid, sec_code, trade_no, board, price + 1 AS price,
       |         quantity, buy_sell, open_interest, period,
       |         CAST(2 AS BIGINT) AS ingest_seq
       |  FROM trades WHERE trade_no % 10 = 0)""".stripMargin

  // =========================================================================
  // collapsing trades  (sign-column state stream for the Collapsing /
  // VersionedCollapsing MergeTree read paths): the correction discipline
  // writes, for every amended trade (every 10th), a cancel of the old
  // state (sign -1, same payload) plus the new state (sign +1, price+1,
  // version 2); every 100th trade is then FULLY cancelled (sign -1 of
  // the version-2 state) — its key must vanish from the FINAL read.
  // `ingest_seq` is arrival order (what CollapsingMergeTree trusts);
  // `version` is the logical state version (what VersionedCollapsing
  // pairs on, making the collapse arrival-order-free).
  // =========================================================================

  def tradesCollapsing(spark: SparkSession, dir: String): DataFrame = {
    val t = trades(spark, dir)
    val amendCols = Seq("time", "secid", "sec_code", "trade_no", "board",
      "price + 1 AS price", "quantity", "buy_sell", "open_interest", "period")
    val base = t.selectExpr(
      Seq("*", "CAST(1 AS INT) AS sign", "CAST(1 AS INT) AS version",
        "CAST(1 AS BIGINT) AS ingest_seq"): _*)
    val cancelV1 = t.filter("trade_no % 10 = 0").selectExpr(
      Seq("*", "CAST(-1 AS INT) AS sign", "CAST(1 AS INT) AS version",
        "CAST(2 AS BIGINT) AS ingest_seq"): _*)
    val stateV2 = t.filter("trade_no % 10 = 0").selectExpr(
      amendCols ++ Seq("CAST(1 AS INT) AS sign", "CAST(2 AS INT) AS version",
        "CAST(3 AS BIGINT) AS ingest_seq"): _*)
    val cancelV2 = t.filter("trade_no % 100 = 0").selectExpr(
      amendCols ++ Seq("CAST(-1 AS INT) AS sign", "CAST(2 AS INT) AS version",
        "CAST(4 AS BIGINT) AS ingest_seq"): _*)
    base.unionByName(cancelV1).unionByName(stateV2).unionByName(cancelV2)
  }

  /** DuckDB twin of [[tradesCollapsing]]. */
  val tradesCollapsingCte: String =
    s"""trades_collapsing AS (
       |  SELECT *, CAST(1 AS INT) AS sign, CAST(1 AS INT) AS version,
       |         CAST(1 AS BIGINT) AS ingest_seq FROM trades
       |  UNION ALL
       |  SELECT *, CAST(-1 AS INT), CAST(1 AS INT), CAST(2 AS BIGINT)
       |  FROM trades WHERE trade_no % 10 = 0
       |  UNION ALL
       |  SELECT time, secid, sec_code, trade_no, board, price + 1, quantity,
       |         buy_sell, open_interest, period, CAST(1 AS INT),
       |         CAST(2 AS INT), CAST(3 AS BIGINT)
       |  FROM trades WHERE trade_no % 10 = 0
       |  UNION ALL
       |  SELECT time, secid, sec_code, trade_no, board, price + 1, quantity,
       |         buy_sell, open_interest, period, CAST(-1 AS INT),
       |         CAST(2 AS INT), CAST(4 AS BIGINT)
       |  FROM trades WHERE trade_no % 100 = 0)""".stripMargin

  // =========================================================================
  // transaq_securities  (from part; one row per secid, single board)
  // =========================================================================

  private val securityCols = Seq(
    "sec_n + 1 AS secid",
    s"${secCode("sec_n")} AS seccode",
    "'E' AS instrclass",
    s"${board("sec_n")} AS board",
    "1 AS market",
    s"${shortname("sec_n")} AS shortname",
    "2 AS decimals",
    "CAST(0.01 AS DOUBLE) AS minstep",
    "CAST(1 + sec_n % 10 AS INT) AS lotsize", // >1 for most rows (FIXTURES.md)
    "CAST(1.0 AS DOUBLE) AS point_cost",
    "CASE WHEN sec_n % 7 = 0 THEN 'BOND' ELSE 'SHARE' END AS sectype",
    "0 AS quotestype",
    "CASE WHEN sec_n % 29 = 28 THEN 'false' ELSE 'true' END AS active"
  )

  // The 60-row dim is built via a distinct() shuffle of `part`; memoize the
  // cached plan per (session, dir) so repeated query invocations reuse one
  // in-memory copy instead of rescanning (VERDICT perf note). A plain
  // .cache(), outside [[memo]]'s normalization: under AQE,
  // `rdd.getNumPartitions` on the distinct() plan would run a job.
  def securities(spark: SparkSession, dir: String): DataFrame =
    SessionCache(SessionCache.Session,
      "securities#" + spark.sparkContext.applicationId + "#" + dir)(
      spark.read.parquet(s"$dir/part.parquet")
        .selectExpr("CAST(p_partkey % 60 AS INT) AS sec_n").distinct()
        .selectExpr(securityCols: _*)
        .cache())

  val securitiesCte: String =
    s"""securities AS (SELECT ${securityCols.mkString(",\n  ")}
       |FROM (SELECT DISTINCT CAST(p_partkey % 60 AS INT) AS sec_n FROM part))""".stripMargin

  // =========================================================================
  // ticks  (wire-shaped quotation stream for the candle builder, A16)
  // =========================================================================

  // second-of-day; l_linenumber % 3 = 0 rows land exactly on :00 (the
  // reference's emit trigger, process.go:131)
  private val sodExpr =
    "CASE WHEN l_linenumber % 3 = 0 THEN (l_orderkey % 1440) * 60 " +
      "ELSE (l_orderkey % 1440) * 60 + (l_linenumber * 7) % 60 END"

  private val tickInner = Seq(
    s"CAST($sodExpr AS INT) AS sod",
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_shipdate")

  private val tickCols = Seq(
    "CAST(l_partkey % 60 + 1 AS INT) AS secid",
    s"${secCode("l_partkey % 60")} AS sec_code",
    "CAST((l_orderkey * 8 + l_linenumber) * 10000000000 + (l_partkey % 100000) * 100000 + (CAST(floor(l_extendedprice * 100) AS BIGINT) + l_suppkey) % 100000 AS BIGINT) AS tick_no",
    // zero `last` rows exercise the open/low guards (process.go:147,153)
    "CASE WHEN l_suppkey % 17 = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(floor(l_extendedprice / l_quantity) AS DOUBLE) END AS last",
    // `open` wire field: the session open (process.go:148 reads q.Open)
    "CAST(floor(l_extendedprice / l_quantity) + 1 AS DOUBLE) AS open",
    "CAST(l_quantity AS BIGINT) AS quantity",
    "concat(lpad(CAST(CAST(floor(sod / 3600) AS INT) AS STRING), 2, '0'), ':', " +
      "lpad(CAST(CAST(floor((sod % 3600) / 60) AS INT) AS STRING), 2, '0'), ':', " +
      "lpad(CAST(sod % 60 AS STRING), 2, '0')) AS time"
  )

  def ticks(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "ticks") { ticksUncached(spark, dir) }

  /** [[ticks]] as typed wire records, unordered ([[wireTicks]] is the
    * replay feed).
    */
  def tickRecords(spark: SparkSession, dir: String): Dataset[graft.schema.Tick] = {
    import spark.implicits._
    ticks(spark, dir).selectExpr("secid AS secId", "sec_code AS secCode", "ts",
      "time", "last", "open", "quantity", "tick_no AS tickNo").as[graft.schema.Tick]
  }

  /** The tick feed in wire order, collected: sorted by (ts, tickNo), the
    * wire's per-security order.
    */
  def wireTicks(spark: SparkSession, dir: String): Seq[graft.schema.Tick] =
    tickRecords(spark, dir).collect().sortBy(t => (t.ts.getTime, t.tickNo)).toSeq

  /** [[ticks]] WITHOUT the memo cache: consumers that read a strict column
    * subset (e.g. the windowed candle agg — five of the eight columns) can
    * let Catalyst prune the unused wire derivations (the HH:mm:ss string
    * concat is the expensive one) all the way to the parquet scan, where
    * the cached form materializes every column on a cold cache (an
    * InMemoryRelation caches its full plan — caching defeats pruning).
    */
  def ticksUncached(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr(tickInner: _*)
      .selectExpr(tickCols :+
        "timestampadd(SECOND, sod, CAST(l_shipdate AS TIMESTAMP)) AS ts": _*)

  val ticksCte: String =
    s"""ticks AS (SELECT ${tickCols.mkString(",\n  ")},
       |  l_shipdate + sod * INTERVAL '1 second' AS ts
       |FROM (SELECT ${tickInner.mkString(", ")} FROM lineitem))""".stripMargin

  // =========================================================================
  // transaq_quotes  (from events; batch-envelope time, db.go:113)
  // =========================================================================

  private val quoteCols = Seq(
    // one shared envelope timestamp per micro-batch (minute)
    "CAST(date_trunc('minute', ts) AS TIMESTAMP) AS time",
    "CAST(user_id % 60 + 1 AS INT) AS secid",
    s"${board("user_id % 60")} AS board",
    s"${secCode("user_id % 60")} AS sec_code",
    "CAST(floor(value * 100) AS DOUBLE) AS price",
    "event_type AS source",
    "CAST(event_id % 20 AS INT) AS yield",
    "CAST(event_id % 7 AS INT) AS buy",
    "CAST(event_id % 11 AS INT) AS sell",
    // arrival-order analog (AsyncInsert has no ordering guarantee; the
    // dedup read path needs a deterministic last-writer)
    "CAST(event_id AS BIGINT) AS quote_seq"
  )

  /** events.parquet has shipped `ts` two ways across testdata generations:
    * INT64 TIMESTAMP(NANOS) — Spark surfaces a long under the
    * `nanosAsLong` config (see Verify/Bench/tests) and we rebuild a µs
    * timestamp — and INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    * Spark reads as TIMESTAMP_NTZ. Branch on the read schema so both
    * generations land on the same session-TZ timestamp; DuckDB reads
    * either physical type natively and both floor to whole µs, so derived
    * values agree.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case _ =>
        // NTZ→LTZ cast reads the wall clock in the SESSION time zone; the
        // nanos branch above lands on the UTC instant unconditionally. The
        // two generations only agree because every entry point (Verify,
        // Bench, specs) pins spark.sql.session.timeZone=UTC — make that
        // invariant explicit instead of silently shifting event times
        // under a non-UTC session (round-8 ADVICE).
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events NTZ branch requires spark.sql.session.timeZone=UTC " +
            "(parity with the nanos-as-long generation's UTC-instant semantics)")
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
    }
  }

  def quotes(spark: SparkSession, dir: String): DataFrame =
    // source: LowCardinality(String), db.go:102 — short enum-like values,
    // declared ≤ 8 bytes (the columnar pack's guard enforces it at runtime)
    declareFixedBytes(events(spark, dir).selectExpr(quoteCols: _*), "source" -> 8L)

  val quotesCte: String =
    s"quotes AS (SELECT ${quoteCols.mkString(",\n  ")}\nFROM events)"

  // =========================================================================
  // quotes_wire  (envelope-shaped, A13: quote items + their batch
  // envelope's timestamp, process.go:56-63)
  // =========================================================================

  /** One quote-batch ENVELOPE per minute of event time: every item in the
    * minute shares the envelope timestamp, which carries deterministic
    * seconds + sub-second millis (derived from the minute itself, so it is
    * constant within an envelope) — making the projection's truncation to
    * whole seconds (db.go:113 tableTimeLayout) a real operation.
    */
  private val envSecExpr = "(extract(minute FROM ts) * 59 + extract(hour FROM ts) * 13) % 53"
  private val envMsExpr = "(extract(minute FROM ts) * 997 + extract(day FROM ts) * 31) % 1000"

  private val quoteItemCols = Seq(
    "CAST(user_id % 60 + 1 AS INT) AS secid",
    s"${board("user_id % 60")} AS board",
    s"${secCode("user_id % 60")} AS sec_code",
    "CAST(floor(value * 100) AS DOUBLE) AS price",
    "event_type AS source",
    "CAST(event_id % 20 AS INT) AS yield",
    "CAST(event_id % 7 AS INT) AS buy",
    "CAST(event_id % 11 AS INT) AS sell")

  def quotesWire(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).selectExpr(
      s"""timestampadd(MILLISECOND, CAST($envMsExpr AS INT),
         |  timestampadd(SECOND, CAST($envSecExpr AS INT),
         |    date_trunc('minute', ts))) AS envelope_ts""".stripMargin
        +: quoteItemCols: _*)

  val quotesWireCte: String =
    s"""quotes_wire AS (SELECT
       |  date_trunc('minute', ts)
       |    + CAST($envSecExpr AS INT) * INTERVAL '1 second'
       |    + CAST($envMsExpr AS INT) * INTERVAL '1 millisecond' AS envelope_ts,
       |  ${quoteItemCols.mkString(",\n  ")}
       |FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, event_type, value FROM events) e)""".stripMargin

  // =========================================================================
  // secinfo_raw  (wire-shaped, dd.MM.yyyy date strings to parse; A14)
  // =========================================================================

  /** All 28 wire fields of the secinfo callback (commands.SecInfo consumed
    * at db.go:139-174), derived from supplier's 4 columns. Date fields are
    * `dd.MM.yyyy` wire STRINGS (the parse under test, A14); everything
    * else follows rules 1-2 (shared arithmetic, integer-valued doubles —
    * s_acctbal floors are exact in both engines, sign included).
    */
  private def secinfoCols(duck: Boolean): Seq[String] = {
    def dmy(base: String, off: String): String =
      if (duck) s"strftime(DATE '$base' + CAST($off AS INT), '%d.%m.%Y')"
      else s"date_format(date_add(DATE '$base', CAST($off AS INT)), 'dd.MM.yyyy')"
    Seq(
      "CAST(s_suppkey % 60 + 1 AS INT) AS secid",
      "s_name AS sec_name",
      s"${secCode("s_suppkey % 60")} AS sec_code",
      "CAST(s_suppkey % 3 + 1 AS INT) AS market",
      "concat('pt. ', CAST(s_suppkey % 5 AS STRING)) AS pname",
      s"${dmy("2025-01-01", "s_suppkey % 2000")} AS mat_date",
      "CAST(floor(s_acctbal / 2) AS DOUBLE) AS clearing_price",
      "CAST(floor(s_acctbal / 10) AS DOUBLE) AS minprice",
      "CAST(floor(s_acctbal * 2) AS DOUBLE) AS maxprice",
      "CAST(s_suppkey % 100 AS DOUBLE) AS buy_deposit",
      "CAST(s_suppkey % 90 AS DOUBLE) AS sell_deposit",
      "CAST(s_suppkey % 50 AS DOUBLE) AS bgo_c",
      "CAST(s_suppkey % 40 AS DOUBLE) AS bgo_nc",
      "CAST(s_suppkey % 30 AS DOUBLE) AS bgo_buy",
      "CAST(s_suppkey % 20 AS DOUBLE) AS accruedint",
      "CAST(floor(s_acctbal / 20) AS DOUBLE) AS coupon_value",
      s"${dmy("2024-06-01", "s_suppkey % 30")} AS coupon_date",
      "CAST(s_suppkey % 4 + 1 AS INT) AS coupon_period",
      "CAST(floor(s_acctbal) AS DOUBLE) AS facevalue",
      "CASE WHEN s_suppkey % 2 = 0 THEN 'P' ELSE 'C' END AS put_call",
      "CAST(1.0 AS DOUBLE) AS point_cost",
      "CASE WHEN s_suppkey % 3 = 0 THEN 'P' WHEN s_suppkey % 3 = 1 THEN 'C' ELSE 'M' END AS opt_type",
      "CAST(s_suppkey % 10 + 1 AS INT) AS lot_volume",
      "concat('RU000A', lpad(CAST(s_suppkey AS STRING), 4, '0')) AS isin",
      "concat('1-0', CAST(s_suppkey % 9 + 1 AS STRING), '-', lpad(CAST(s_suppkey AS STRING), 5, '0')) AS regnumber",
      "CAST(floor(s_acctbal / 3) AS DOUBLE) AS buybackprice",
      s"${dmy("2026-03-01", "s_suppkey % 60")} AS buybackdate",
      "CASE WHEN s_suppkey % 5 = 0 THEN 'USD' ELSE 'RUB' END AS currencyid"
    )
  }

  def secinfoRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
      .selectExpr(secinfoCols(duck = false): _*)

  val secinfoRawCte: String =
    s"""secinfo_raw AS (SELECT
       |  ${secinfoCols(duck = true).mkString(",\n  ")}
       |FROM supplier)""".stripMargin

  // =========================================================================
  // securities_wire  (A11: wide wire-typed securities awaiting downcasts —
  // the gRPC structs carry int/float64 fields that main.go:146-157 narrows)
  // =========================================================================

  private val secWireCols = Seq(
    "CAST(secid AS BIGINT) AS secid", "seccode", "instrclass", "board",
    "CAST(market AS BIGINT) AS market", "shortname",
    "CAST(decimals AS BIGINT) AS decimals", "minstep",
    "CAST(lotsize AS BIGINT) AS lotsize", "point_cost", "sectype",
    "CAST(quotestype AS BIGINT) AS quotestype", "active")

  def securitiesWire(spark: SparkSession, dir: String): DataFrame =
    securities(spark, dir).selectExpr(secWireCols: _*)

  val securitiesWireCte: String =
    s"securities_wire AS (SELECT ${secWireCols.mkString(",\n  ")}\nFROM securities)"

  // =========================================================================
  // candle_kinds  (CandleKind directory for A10; from nation — 25 kinds)
  // =========================================================================

  private val kindCols = Seq(
    "CAST(n_nationkey + 1 AS INT) AS kind_id",
    "n_name AS name",
    "CAST((n_nationkey + 1) * 60 AS INT) AS period" // seconds, like main.go:185
  )

  def candleKinds(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet").selectExpr(kindCols: _*)

  val candleKindsCte: String =
    s"candle_kinds AS (SELECT ${kindCols.mkString(",\n  ")}\nFROM nation)"

  // =========================================================================
  // trades_wire  (A12: trades with the dd.MM.yyyy HH:mm:ss wire string)
  // =========================================================================

  def tradesWire(spark: SparkSession, dir: String): DataFrame =
    trades(spark, dir).selectExpr(
      "date_format(time, 'dd.MM.yyyy HH:mm:ss') AS time_str",
      "secid", "sec_code", "trade_no", "board", "price", "quantity",
      "buy_sell", "open_interest", "period")

  val tradesWireCte: String =
    """trades_wire AS (SELECT
      |  strftime(time, '%d.%m.%Y %H:%M:%S') AS time_str,
      |  secid, sec_code, trade_no, board, price, quantity,
      |  buy_sell, open_interest, period
      |FROM trades)""".stripMargin

  // =========================================================================
  // history_raw  (A15: history-candle wire items; from orders)
  // =========================================================================

  private val histCols = Seq(
    "CAST(floor(o_totalprice / 100) AS DOUBLE) AS open",
    "CAST(floor(o_totalprice / 100) + 2 AS DOUBLE) AS high",
    "CAST(floor(o_totalprice / 200) AS DOUBLE) AS low",
    "CAST(floor(o_totalprice / 120) AS DOUBLE) AS close",
    "CAST(o_orderkey % 10000 AS BIGINT) AS volume"
  )

  def historyRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet").selectExpr(
      "date_format(o_orderdate, 'dd.MM.yyyy HH:mm:ss') AS date_str" +: histCols: _*)

  val historyRawCte: String =
    s"""history_raw AS (SELECT
       |  strftime(o_orderdate, '%d.%m.%Y %H:%M:%S') AS date_str,
       |  ${histCols.mkString(",\n  ")}
       |FROM orders)""".stripMargin

  // =========================================================================
  // position_updates  (A17: sparse per-field updates; from events — each
  // event type carries exactly one non-empty field, like the positions
  // sub-lists of process.go:74-101)
  // =========================================================================

  private val posCols = Seq(
    "CAST(user_id % 10 AS INT) AS account",
    "ts",
    "CAST(event_id AS BIGINT) AS event_id",
    "CASE WHEN event_type = 'signup' THEN CAST(floor(value * 100) AS DOUBLE) END AS united_limits",
    "CASE WHEN event_type = 'click' THEN CAST(floor(value * 10) AS DOUBLE) END AS sec_positions",
    "CASE WHEN event_type = 'purchase' THEN CAST(floor(value) AS DOUBLE) END AS forts_money",
    "CASE WHEN event_type = 'view' THEN CAST(floor(value * 2) AS DOUBLE) END AS money_position"
  )

  def positionUpdates(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).selectExpr(posCols: _*)

  val positionUpdatesCte: String =
    s"""position_updates AS (SELECT ${posCols.mkString(",\n  ")}
       |FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, event_type, value FROM events) e)""".stripMargin

  // =========================================================================
  // documents / embeddings  (LLM-pipeline tables, read as-is; oracles query
  // the raw parquet views directly — no CTE twin needed)
  // =========================================================================

  def documents(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "documents")(spark.read.parquet(s"$dir/documents.parquet"))

  /** Embedding tables size their partitions 8× wider than the text
    * tables (round 15, guide §1 "per-task work" + §2.2): an embedding
    * row's stats bytes are dominated by the 64-component array, while
    * its consumers' per-row work is a fused integer dot-product chain —
    * microseconds per row. At the 64 KB/partition text-table rule the
    * 2 k-row sf0.1 corpus cached as ~30 partitions, and every job of the
    * 15-entry ANN/semdedup family paid ~30 task launches per stage for
    * ~70 rows each (KeyProbe's job counts: 40+ jobs × 30–63 tasks on the
    * guarded entry). 512 KB/partition keeps the SAME size-proportional,
    * machine-capped rule (sf1 still fans out to ~20+ partitions; real
    * deployments' multi-file scans never enter the branch) while cutting
    * fixture-scale task-launch overhead ~8×. Text tables keep 64 KB —
    * their consumers (the BPE replace chains, shingle explodes) are
    * CPU-bound per row and measurably regress with fewer tasks.
    */
  private val EmbBytesPerPart = 512L << 10

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embeddings", EmbBytesPerPart)(
      spark.read.parquet(s"$dir/embeddings.parquet"))

  /** Base embeddings plus a deterministic perturbed TWIN of each vec_id<50
    * (twin id = vec_id + 100000): component i gets ±0.02 additive noise
    * `(((i*13 + vec_id) % 5) - 2) * 0.01` (components average |x| ≈ 0.1, so
    * cos(v, twin) ≈ 0.99). The raw table has NO near-duplicates (max
    * pairwise cosine 0.51), so the near-dup LSH operator would otherwise
    * be vacuously testing random collisions; the twins give it real
    * positives whose recall is measurable. Double arithmetic is identical
    * expression text in both engines (IEEE-deterministic).
    */
  private val twinNoise = "(((i * 13 + vec_id) % 5) - 2) * 0.01"

  def embeddingsNearDup(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embeddings_neardup", EmbBytesPerPart) {
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
      base.selectExpr("vec_id", "label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .unionAll(base.where("vec_id < 50").selectExpr(
          "vec_id + 100000 AS vec_id", "label",
          s"transform(sequence(1, 64), i -> CAST(element_at(embedding, i) AS DOUBLE) + $twinNoise) AS embedding"))
    }

  val embeddingsNearDupCte: String =
    s"""emb_nd AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, label,
       |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) + $twinNoise) AS embedding
       |  FROM embeddings WHERE vec_id < 50)""".stripMargin

  /** [[embeddingsNearDup]] plus an EXACT re-delivery of every 5th base
    * vector under a fresh id (+200000) — the embedding-table analog of
    * [[tradesVersioned]]: a re-crawled document re-embedded under a new
    * ingest id produces a bit-identical vector. Gives the capped-cluster
    * exact-dedup fold (`llm_semdedup_capped`) true positives: identical
    * embeddings quantize identically, so they collapse under the
    * hash-groupBy where the perturbed twins (≈0.99 cosine) do not.
    */
  def embeddingsRedelivered(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "embeddings_redelivered", EmbBytesPerPart) {
      embeddingsNearDup(spark, dir).unionAll(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .where("vec_id % 5 = 0")
          .selectExpr("vec_id + 200000 AS vec_id", "label",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"))
    }

  /** DuckDB twin of [[embeddingsRedelivered]] (expects `emb_nd` in scope). */
  val embeddingsRedeliveredCte: String =
    """emb_rd AS (
      |  SELECT * FROM emb_nd
      |  UNION ALL
      |  SELECT vec_id + 200000 AS vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      |  FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  /** Prepend CTEs to a query body: `withCtes(body, tradesCte, ...)`. */
  def withCtes(body: String, ctes: String*): String =
    s"WITH ${ctes.mkString(",\n")}\n$body"

  // ---- query-parameter constants shared by Spark queries and oracles ----

  /** `$sec_code` selection (TQBR-board codes; sec_n % 10 < 6). */
  val SelCodes = Seq("SEC03", "SEC12", "SEC21", "SEC45")

  /** `$sec_code_etf` (all TQTF-board codes: sec_n % 10 ∈ 6..8). */
  val EtfCodes: Seq[String] =
    (0 until NumSecs).filter(n => n % 10 >= 6 && n % 10 <= 8)
      .map(n => f"SEC$n%02d")

  /** Dashboard `$__fromTime` / `$__toTime` (GD:3888-3891, whole seconds). */
  val TimeFrom = "2024-12-06 06:57:21"
  val TimeTo = "2024-12-06 16:00:11"

  def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString("(", ",", ")")
}
