package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures._

/** The 22 dashboard queries (SURVEY.md §2.B; GD =
  * /root/reference/etc/grafana-dashboard-trades.json). Round 2: each is a
  * structural transliteration of the panel's `rawSql` — same joins, same
  * filters (incl. `sec_code NOT IN [$sec_code_etf]`, `board = 'TQBR'`,
  * inclusive `$__fromTime <= x <= $__toTime` bounds), same grouping keys,
  * same signed-notional measure `if(buy_sell=='S',-1,1) *
  * sum(price*quantity*lotsize)` — with the dashboard template variables
  * fixed to the constants in [[graft.fixtures.Fixtures]].
  *
  * Deliberate harness accommodations (documented, not semantic drift):
  *   - ASCII column aliases instead of the panels' Russian aliases.
  *   - a deterministic tiebreaker column appended to ORDER BY under LIMIT
  *     so the driver's hash-compare is stable.
  *   - Q22 adds an ORDER BY (the reference templating query has none; the
  *     compare sorts rows anyway).
  *
  * Scale notes (100 TB readiness):
  *   - securities is a tiny dim → always `broadcast()`; the fact side never
  *     shuffles for a join.
  *   - two-level aggregations keep the explicit inner `groupBy` (GD:113
  *     semantics); both levels are hash aggregates with map-side partial
  *     agg, and the outer level re-shuffles on a strictly coarser key.
  *   - top-10s compile to `TakeOrderedAndProject` (per-partition heap +
  *     driver merge of 10 rows, no global sort).
  *   - time-range filters sit directly on the scan when they apply to raw
  *     `time` (pushed to parquet row-group pruning on a time-sorted
  *     layout); alias-in-WHERE panels (GD:113,1069,2748) filter the BUCKET,
  *     which Catalyst still evaluates before the first shuffle.
  */
object TradeQueries {

  /** ClickHouse `toStartOfInterval(t, INTERVAL n)` = epoch-floor bucketing
    * (GD:113). Integer-only arithmetic → identical in DuckDB.
    */
  def bucket(c: Column, seconds: Int): Column =
    timestamp_seconds(unix_seconds(c) - pmod(unix_seconds(c), lit(seconds.toLong)))

  /** DuckDB twin of [[bucket]] — non-negative modulo like Spark's pmod, so
    * the twins agree even for pre-1970 timestamps (ADVICE round 1).
    */
  def bucketSql(col: String, seconds: Int): String = {
    val e = s"CAST(epoch($col) AS BIGINT)"
    s"make_timestamp(($e - (($e % $seconds) + $seconds) % $seconds) * 1000000)"
  }

  val IntervalSec = 300 // 5-minute grain from the dashboard options (GD:3783)

  private def tsLit(s: String): Column = lit(s).cast("timestamp")

  /** `x >= $__fromTime AND x <= $__toTime` — BOTH bounds inclusive, as in
    * every reference panel (GD:113 etc.).
    */
  private def timeRange(c: Column): Column =
    c >= tsLit(TimeFrom) && c <= tsLit(TimeTo)
  private def timeRangeSql(col: String): String =
    s"$col >= TIMESTAMP '$TimeFrom' AND $col <= TIMESTAMP '$TimeTo'"

  /** trades ⋈ securities on (sec_code, board) — GD:113 key variant. Tiny
    * dim → broadcast-hash join, fact side never shuffles.
    */
  private def joinedOnCode(spark: SparkSession, dir: String): DataFrame = {
    val t = trades(spark, dir).as("t")
    val s = securities(spark, dir).as("s")
    t.join(broadcast(s), col("t.sec_code") === col("s.seccode") && col("t.board") === col("s.board"))
  }

  /** trades ⋈ securities on (secid, board) — GD:136 key variant. */
  private def joinedOnId(spark: SparkSession, dir: String): DataFrame = {
    val t = trades(spark, dir).as("t")
    val s = securities(spark, dir).as("s")
    t.join(broadcast(s), col("t.secid") === col("s.secid") && col("t.board") === col("s.board"))
  }

  private val joinCodeSql =
    "trades t JOIN securities s ON t.sec_code = s.seccode AND t.board = s.board"
  private val joinIdSql =
    "trades t JOIN securities s ON t.secid = s.secid AND t.board = s.board"

  private val notional: Column = col("t.price") * col("t.quantity") * col("s.lotsize")
  private val sign: Column = when(col("buy_sell") === "S", lit(-1)).otherwise(lit(1))

  // =========================================================================

  /** Q1 (GD:113) — net-buy leaders. Inner: bucket to `minute`
    * (alias-in-WHERE → bucket first, then apply the time range to the
    * bucket), group by (minute, sec_code, buy_sell), vol =
    * `if(buy_sell=='S',-1,1) * sum(price*quantity*lotsize)` over
    * trades⋈securities(sec_code,board) with `sec_code NOT IN [$sec_code_etf]
    * AND board='TQBR'`. Outer: re-agg by sec_code, HAVING > 0, top-10.
    */
  val q01 = QueryDef.sql(
    "q01_netto_buy_topk",
    withCtes(
      s"""SELECT sec_code, netto FROM (
         |  SELECT sec_code, SUM(vol) AS netto FROM (
         |    SELECT minute, sec_code,
         |           (CASE WHEN buy_sell = 'S' THEN -1 ELSE 1 END) * SUM(price * quantity * lotsize) AS vol
         |    FROM (SELECT ${bucketSql("t.time", IntervalSec)} AS minute, t.sec_code, t.buy_sell,
         |                 t.price, t.quantity, s.lotsize
         |          FROM $joinCodeSql
         |          WHERE t.sec_code NOT IN ${sqlList(EtfCodes)} AND t.board = 'TQBR') b
         |    WHERE ${timeRangeSql("minute")}
         |    GROUP BY minute, sec_code, buy_sell) i
         |  GROUP BY sec_code) o
         |WHERE netto > 0
         |ORDER BY netto DESC, sec_code LIMIT 10""".stripMargin,
      tradesCte, securitiesCte)
  ) { (spark, dir) =>
    joinedOnCode(spark, dir)
      .filter(!col("t.sec_code").isin(EtfCodes: _*) && col("t.board") === "TQBR")
      .withColumn("minute", bucket(col("t.time"), IntervalSec))
      .filter(timeRange(col("minute"))) // alias-in-WHERE: range on the bucket
      .groupBy(col("minute"), col("t.sec_code").as("sec_code"), col("t.buy_sell").as("buy_sell"))
      .agg(sum(notional).as("gross"))
      .select(col("minute"), col("sec_code"), (sign * col("gross")).as("vol"))
      .groupBy(col("sec_code"))
      .agg(sum(col("vol")).as("netto"))
      .filter(col("netto") > 0) // HAVING
      .orderBy(col("netto").desc, col("sec_code"))
      .limit(10)
  }

  /** Q2 (GD:136) — net buys via UNION ALL of a buy leg and a negated sell
    * leg. Legs join on (secid, board), filter `NOT IN [$sec_code_etf] AND
    * board='TQBR' AND time range AND buy_sell`, and group by sec_code ONLY
    * (no time bucket — the reference's inner queries aggregate the whole
    * window per code).
    */
  private def unionLegs(spark: SparkSession, dir: String): DataFrame = {
    def leg(side: String, s: Int): DataFrame =
      joinedOnId(spark, dir)
        .filter(!col("t.sec_code").isin(EtfCodes: _*) && col("t.board") === "TQBR" &&
          timeRange(col("t.time")) && col("t.buy_sell") === side)
        .groupBy(col("t.sec_code").as("sec_code"))
        .agg((sum(notional) * s).as("vol"))
    leg("B", 1).unionAll(leg("S", -1))
  }

  private def legSql(side: String, sign: String): String =
    s"""SELECT sec_code, SUM(price * quantity * lotsize)$sign AS vol
       |FROM $joinIdSql
       |WHERE t.sec_code NOT IN ${sqlList(EtfCodes)} AND t.board = 'TQBR'
       |  AND ${timeRangeSql("t.time")} AND t.buy_sell = '$side'
       |GROUP BY sec_code""".stripMargin

  private def unionLegsSql: String = s"${legSql("B", "")}\nUNION ALL\n${legSql("S", " * -1")}"

  val q02 = QueryDef.sql(
    "q02_netto_buy_union",
    withCtes(
      s"""SELECT sec_code, SUM(vol) AS vol FROM ($unionLegsSql) legs
         |GROUP BY sec_code ORDER BY vol DESC, sec_code LIMIT 10""".stripMargin,
      tradesCte, securitiesCte)
  ) { (spark, dir) =>
    unionLegs(spark, dir)
      .groupBy(col("sec_code")).agg(sum(col("vol")).as("vol"))
      .orderBy(col("vol").desc, col("sec_code")).limit(10)
  }

  /** Q3 (GD:219) — net SELL leaders: same legs, outer `sum(vol) * -1`,
    * ordered by the negated alias (most-sold first).
    */
  val q03 = QueryDef.sql(
    "q03_netto_sell_union",
    withCtes(
      s"""SELECT sec_code, SUM(vol) * -1 AS vol FROM ($unionLegsSql) legs
         |GROUP BY sec_code ORDER BY vol DESC, sec_code LIMIT 10""".stripMargin,
      tradesCte, securitiesCte)
  ) { (spark, dir) =>
    unionLegs(spark, dir)
      .groupBy(col("sec_code")).agg((sum(col("vol")) * -1).as("vol"))
      .orderBy(col("vol").desc, col("sec_code")).limit(10)
  }

  /** Q4 (GD:374) — "icebergs": same-second runs of single-lot buys. Groups
    * by RAW time + sec_code with the dashboard time range; `topK(10)
    * (sec_code)` is the custom SpaceSaving aggregate [[graft.expr.TopK]]
    * (degenerate here — one code per group — which is exactly why the
    * oracle can state it as `sec_code`). The array is rendered via
    * concat_ws so the compared column is a plain string.
    */
  val q04 = QueryDef.sql(
    "q04_icebergs",
    withCtes(
      s"""SELECT time, sec_code AS sec, CAST(SUM(quantity) AS BIGINT) AS vol
         |FROM trades
         |WHERE quantity = 1 AND buy_sell = 'B' AND ${timeRangeSql("time")}
         |GROUP BY time, sec_code HAVING SUM(quantity) > 1
         |ORDER BY time, sec""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    trades(spark, dir)
      .filter(col("quantity") === 1 && col("buy_sell") === "B" && timeRange(col("time")))
      .groupBy(col("time"), col("sec_code"))
      .agg(expr("graft_topk(sec_code, 10)").as("sec_arr"), sum(col("quantity")).as("vol"))
      .filter(col("vol") > 1) // HAVING
      .select(col("time"), concat_ws(",", col("sec_arr")).as("sec"), col("vol"))
      .orderBy(col("time"), col("sec"))
  }

  /** Q5/Q6/Q13/Q14 (GD:643,794,2322,2473) — per-interval net notional:
    * inner agg by (minute, buy_sell) over trades⋈securities(sec_code,board)
    * with code filter + board='TQBR' + minute-range (alias-in-WHERE), vol =
    * signed sum(price*quantity*lotsize); outer re-agg by minute. The
    * "yesterday" variants bucket `timestamp_add(day, 1, time)` so the
    * previous session lands in today's window.
    */
  private def netNotional(spark: SparkSession, dir: String,
      codeFilter: Column, dayShift: Boolean): DataFrame = {
    val t = if (dayShift) col("t.time") + expr("INTERVAL 1 DAY") else col("t.time")
    joinedOnCode(spark, dir)
      .filter(codeFilter && col("t.board") === "TQBR")
      .withColumn("minute", bucket(t, IntervalSec))
      .filter(timeRange(col("minute")))
      .groupBy(col("minute"), col("t.buy_sell").as("buy_sell"))
      .agg(sum(notional).as("gross"))
      .select(col("minute"), (sign * col("gross")).as("vol"))
      .groupBy(col("minute")).agg(sum(col("vol")).as("net"))
      .orderBy(col("minute"))
  }

  private def netNotionalSql(codePred: String, dayShift: Boolean): String = {
    val timeExpr = if (dayShift) "(t.time + INTERVAL 1 DAY)" else "t.time"
    s"""SELECT minute, SUM(vol) AS net FROM (
       |  SELECT minute,
       |         (CASE WHEN buy_sell = 'S' THEN -1 ELSE 1 END) * SUM(price * quantity * lotsize) AS vol
       |  FROM (SELECT ${bucketSql(timeExpr, IntervalSec)} AS minute, t.buy_sell,
       |               t.price, t.quantity, s.lotsize
       |        FROM $joinCodeSql
       |        WHERE t.$codePred AND t.board = 'TQBR') b
       |  WHERE ${timeRangeSql("minute")}
       |  GROUP BY minute, buy_sell) i
       |GROUP BY minute ORDER BY minute""".stripMargin
  }

  val q05 = QueryDef.sql("q05_net_vol_interval",
    withCtes(netNotionalSql(s"sec_code IN ${sqlList(SelCodes)}", dayShift = false),
      tradesCte, securitiesCte)
  ) { (s, d) => netNotional(s, d, col("t.sec_code").isin(SelCodes: _*), dayShift = false) }

  val q06 = QueryDef.sql("q06_net_vol_interval_yday",
    withCtes(netNotionalSql(s"sec_code IN ${sqlList(SelCodes)}", dayShift = true),
      tradesCte, securitiesCte)
  ) { (s, d) => netNotional(s, d, col("t.sec_code").isin(SelCodes: _*), dayShift = true) }

  /** Q7 (GD:1069, FLAGSHIP) / Q8 (GD:1220) — per-interval buy/sell turnover
    * for the selected codes: join on (secid, board), `board='TQBR'`,
    * minute-range on the bucket (alias-in-WHERE), signed for the sell leg.
    */
  /** `grainSec` defaults to the dashboard's selected 5-minute grain; the
    * GrainSweepSpec drives it across all 14 user-selectable `$interval`
    * options (GD:3784-3860), hence `private[graft]`.
    */
  private[graft] def turnoverInterval(spark: SparkSession, dir: String, side: String,
      s: Int, grainSec: Int = IntervalSec): DataFrame =
    joinedOnId(spark, dir)
      .filter(col("t.sec_code").isin(SelCodes: _*) &&
        col("t.board") === "TQBR" && col("t.buy_sell") === side)
      .withColumn("minute", bucket(col("t.time"), grainSec))
      .filter(timeRange(col("minute")))
      .groupBy(col("minute"))
      .agg((sum(notional) * s).as("turnover"))
      .orderBy(col("minute"))

  private def turnoverIntervalSql(side: String, sign: Int): String =
    s"""SELECT minute, SUM(price * quantity * lotsize) * $sign AS turnover FROM (
       |  SELECT ${bucketSql("t.time", IntervalSec)} AS minute,
       |         t.price, t.quantity, s.lotsize
       |  FROM $joinIdSql
       |  WHERE t.sec_code IN ${sqlList(SelCodes)} AND t.board = 'TQBR'
       |    AND t.buy_sell = '$side') bucketed
       |WHERE ${timeRangeSql("minute")}
       |GROUP BY minute ORDER BY minute""".stripMargin

  val q07 = QueryDef.sql("q07_buy_turnover_interval",
    withCtes(turnoverIntervalSql("B", 1), tradesCte, securitiesCte)
  ) { (s, d) => turnoverInterval(s, d, "B", 1) }

  val q08 = QueryDef.sql("q08_sell_turnover_interval",
    withCtes(turnoverIntervalSql("S", -1), tradesCte, securitiesCte)
  ) { (s, d) => turnoverInterval(s, d, "S", -1) }

  /** Q9/Q10 (GD:1477,1628) — lots at raw (second) granularity for the
    * selected code list, inside the dashboard window.
    */
  private def lotsByTime(spark: SparkSession, dir: String, side: String, s: Int): DataFrame =
    trades(spark, dir)
      .filter(col("sec_code").isin(SelCodes: _*) && timeRange(col("time")) &&
        col("buy_sell") === side)
      .groupBy(col("time"))
      .agg((sum(col("quantity")) * s).as("lots"))
      .orderBy(col("time"))

  private def lotsByTimeSql(side: String, sign: Int): String =
    s"""SELECT time, CAST(SUM(quantity) * $sign AS BIGINT) AS lots FROM trades
       |WHERE sec_code IN ${sqlList(SelCodes)} AND ${timeRangeSql("time")}
       |  AND buy_sell = '$side'
       |GROUP BY time ORDER BY time ASC""".stripMargin

  val q09 = QueryDef.sql("q09_buy_lots_by_time",
    withCtes(lotsByTimeSql("B", 1), tradesCte))((s, d) => lotsByTime(s, d, "B", 1))
  val q10 = QueryDef.sql("q10_sell_lots_by_time",
    withCtes(lotsByTimeSql("S", -1), tradesCte))((s, d) => lotsByTime(s, d, "S", -1))

  /** Q11/Q12 (GD:1885,2036) — trade counts by raw time, same filters. */
  private def countByTime(spark: SparkSession, dir: String, side: String, s: Int): DataFrame =
    trades(spark, dir)
      .filter(col("sec_code").isin(SelCodes: _*) && timeRange(col("time")) &&
        col("buy_sell") === side)
      .groupBy(col("time"))
      .agg((count(col("price")) * s).as("trades_cnt"))
      .orderBy(col("time"))

  private def countByTimeSql(side: String, sign: Int): String =
    s"""SELECT time, CAST(COUNT(price) * $sign AS BIGINT) AS trades_cnt FROM trades
       |WHERE sec_code IN ${sqlList(SelCodes)} AND ${timeRangeSql("time")}
       |  AND buy_sell = '$side'
       |GROUP BY time ORDER BY time ASC""".stripMargin

  val q11 = QueryDef.sql("q11_buy_count_by_time",
    withCtes(countByTimeSql("B", 1), tradesCte))((s, d) => countByTime(s, d, "B", 1))
  val q12 = QueryDef.sql("q12_sell_count_by_time",
    withCtes(countByTimeSql("S", -1), tradesCte))((s, d) => countByTime(s, d, "S", -1))

  /** Q13/Q14 — IMOEX net interest: the NOT-IN-ETF variants of Q5/Q6. */
  val q13 = QueryDef.sql("q13_imoex_net_interval",
    withCtes(netNotionalSql(s"sec_code NOT IN ${sqlList(EtfCodes)}", dayShift = false),
      tradesCte, securitiesCte)
  ) { (s, d) => netNotional(s, d, !col("t.sec_code").isin(EtfCodes: _*), dayShift = false) }

  val q14 = QueryDef.sql("q14_imoex_net_interval_yday",
    withCtes(netNotionalSql(s"sec_code NOT IN ${sqlList(EtfCodes)}", dayShift = true),
      tradesCte, securitiesCte)
  ) { (s, d) => netNotional(s, d, !col("t.sec_code").isin(EtfCodes: _*), dayShift = true) }

  /** Q15/Q16 (GD:2748,2899) — IMOEX interval turnover WITHOUT the
    * securities join (`sum(price*quantity)`), NOT IN ETF + board='TQBR',
    * minute-range on the bucket, LIMIT 10000. Q17/Q18 (GD:3174,3325) — the
    * ETF variants: `sec_code IN [$sec_code_etf]`, NO board filter.
    */
  private def turnoverNoJoin(spark: SparkSession, dir: String,
      side: String, s: Int, codeFilter: Column, boardF: Option[String]): DataFrame =
    trades(spark, dir)
      .filter(codeFilter && col("buy_sell") === side &&
        boardF.map(col("board") === _).getOrElse(lit(true)))
      .withColumn("minute", bucket(col("time"), IntervalSec))
      .filter(timeRange(col("minute")))
      .groupBy(col("minute"))
      .agg((sum(col("price") * col("quantity")) * s).as("turnover"))
      .orderBy(col("minute"))
      .limit(10000)

  private def turnoverNoJoinSql(side: String, sign: Int, codePred: String,
      boardPred: String): String =
    s"""SELECT minute, SUM(price * quantity) * $sign AS turnover FROM (
       |  SELECT ${bucketSql("time", IntervalSec)} AS minute, price, quantity
       |  FROM trades WHERE $codePred AND buy_sell = '$side'$boardPred) bucketed
       |WHERE ${timeRangeSql("minute")}
       |GROUP BY minute ORDER BY minute ASC LIMIT 10000""".stripMargin

  val q15 = QueryDef.sql("q15_imoex_turnover_b",
    withCtes(turnoverNoJoinSql("B", 1, s"sec_code NOT IN ${sqlList(EtfCodes)}", " AND board = 'TQBR'"), tradesCte)
  ) { (s, d) => turnoverNoJoin(s, d, "B", 1, !col("sec_code").isin(EtfCodes: _*), Some("TQBR")) }

  val q16 = QueryDef.sql("q16_imoex_turnover_s",
    withCtes(turnoverNoJoinSql("S", -1, s"sec_code NOT IN ${sqlList(EtfCodes)}", " AND board = 'TQBR'"), tradesCte)
  ) { (s, d) => turnoverNoJoin(s, d, "S", -1, !col("sec_code").isin(EtfCodes: _*), Some("TQBR")) }

  val q17 = QueryDef.sql("q17_etf_turnover_b",
    withCtes(turnoverNoJoinSql("B", 1, s"sec_code IN ${sqlList(EtfCodes)}", ""), tradesCte)
  ) { (s, d) => turnoverNoJoin(s, d, "B", 1, col("sec_code").isin(EtfCodes: _*), None) }

  val q18 = QueryDef.sql("q18_etf_turnover_s",
    withCtes(turnoverNoJoinSql("S", -1, s"sec_code IN ${sqlList(EtfCodes)}", ""), tradesCte)
  ) { (s, d) => turnoverNoJoin(s, d, "S", -1, col("sec_code").isin(EtfCodes: _*), None) }

  /** Q19/Q20 (GD:3584,3735) — IMOEX turnover at raw time, window-filtered,
    * NO LIMIT (the reference panel has none).
    */
  private def turnoverByTime(spark: SparkSession, dir: String, side: String, s: Int): DataFrame =
    trades(spark, dir)
      .filter(timeRange(col("time")) && col("buy_sell") === side &&
        !col("sec_code").isin(EtfCodes: _*))
      .groupBy(col("time"))
      .agg((sum(col("price") * col("quantity")) * s).as("vol"))
      .orderBy(col("time"))

  private def turnoverByTimeSql(side: String, sign: Int): String =
    s"""SELECT time, SUM(price * quantity) * $sign AS vol FROM trades
       |WHERE ${timeRangeSql("time")} AND buy_sell = '$side'
       |  AND sec_code NOT IN ${sqlList(EtfCodes)}
       |GROUP BY time ORDER BY time ASC""".stripMargin

  val q19 = QueryDef.sql("q19_imoex_turnover_by_time_b",
    withCtes(turnoverByTimeSql("B", 1), tradesCte))((s, d) => turnoverByTime(s, d, "B", 1))
  val q20 = QueryDef.sql("q20_imoex_turnover_by_time_s",
    withCtes(turnoverByTimeSql("S", -1), tradesCte))((s, d) => turnoverByTime(s, d, "S", -1))

  /** Q21 (GD:3767) — templating: window-filtered distinct sec codes,
    * sorted, LIMIT 1000.
    */
  val q21 = QueryDef.sql("q21_sec_codes",
    withCtes(
      s"""SELECT sec_code FROM trades WHERE ${timeRangeSql("time")}
         |GROUP BY sec_code ORDER BY sec_code ASC LIMIT 1000""".stripMargin,
      tradesCte)
  ) { (s, d) =>
    trades(s, d).filter(timeRange(col("time")))
      .groupBy(col("sec_code")).agg(Map.empty[String, String])
      .orderBy(col("sec_code").asc).limit(1000)
  }

  /** Q22 (GD:3879) — templating: ETF codes via trades⋈securities on secid
    * ONLY, `board = 'TQTF'` (unqualified in the reference → left/fact
    * table's board, ClickHouse resolution) + time range, GROUP BY sec_code.
    */
  val q22 = QueryDef.sql("q22_etf_codes",
    withCtes(
      s"""SELECT sec_code FROM trades t
         |JOIN securities s ON t.secid = s.secid
         |WHERE t.board = 'TQTF' AND ${timeRangeSql("t.time")}
         |GROUP BY sec_code ORDER BY sec_code""".stripMargin,
      tradesCte, securitiesCte)
  ) { (spark, dir) =>
    val t = trades(spark, dir).as("t")
    val s = securities(spark, dir).as("s")
    t.join(broadcast(s), col("t.secid") === col("s.secid"))
      .filter(col("t.board") === "TQTF" && timeRange(col("t.time")))
      .groupBy(col("t.sec_code").as("sec_code")).agg(Map.empty[String, String])
      .orderBy(col("sec_code"))
  }

  /** §7.7 extension — the q19/q20-shaped whole-window turnover aggregation
    * in its HOT-KEY form: per-sec_code totals via
    * [[graft.ingest.Salt.saltedSum]]. Real trade flow concentrates on a
    * few index heavyweights, so the plain `groupBy(sec_code)` lands those
    * keys on single reducers; the salted two-stage form partial-aggregates
    * each key across 32 sub-keys at full parallelism, then re-aggregates
    * |keys|×32 tiny partials. The oracle is the UNSALTED plain GROUP BY —
    * passing proves the salting is semantically invisible (sums are
    * algebraic); SaltPlanSpec pins the two-stage plan shape.
    */
  val qxSaltedTurnover = QueryDef.sql(
    "qx_salted_turnover",
    withCtes(
      s"""SELECT sec_code, SUM(price * quantity) AS turnover
         |FROM trades
         |WHERE board = 'TQBR' AND ${timeRangeSql("time")}
         |GROUP BY sec_code
         |ORDER BY sec_code""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    saltedTurnover(spark, dir).orderBy("sec_code")
  }

  /** The salted aggregation itself, pre-ORDER BY (plan-asserted in
    * SaltPlanSpec).
    */
  def saltedTurnover(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.Salt.saltedSum(
        trades(spark, dir)
          .filter(col("board") === "TQBR" && timeRange(col("time")))
          .withColumn("t_term", col("price") * col("quantity")),
        keys = Seq("sec_code"), value = "t_term",
        entropy = col("trade_no"), buckets = 32)
      .select(col("sec_code"), col("sum_t_term").as("turnover"))

  /** AS-OF JOIN (beyond-reference, SURVEY §2.D round 4): each trade
    * joined to the PREVAILING quote — the latest order-book update for
    * its security at-or-before the trade's time (trade-vs-quote analysis
    * is the canonical consumer of the reference's trades+quotes tables).
    *
    * Spark-first shape (guide preference (a): compose built-ins): no
    * per-pair product and no range join — UNION both streams tagged
    * quote=0/trade=1, then one window per security ordered by
    * (time, tag, seq) carries the last non-null quote price forward
    * (`last(..., ignoreNulls)` over ROWS UNBOUNDED PRECEDING). One
    * shuffle on secid, linear scan per partition, state = one value per
    * security — the same shape at 100 TB (day-partition first if the
    * history is unbounded). The ROWS frame + unique (tag, seq)
    * tie-break make equal-timestamp resolution deterministic and
    * engine-identical (quotes' envelope times collide by construction,
    * so the tie-break is genuinely exercised).
    */
  /** One oracle, two Spark spellings: the window entry and the custom
    * physical operator must both reproduce it.
    */
  private val asofOracleSql: String =
    withCtes(
      """SELECT secid, trade_no, time, tprice, quote_price FROM (
        |  SELECT secid, m, trade_no, time, tprice,
        |    last_value(qprice IGNORE NULLS) OVER (
        |      PARTITION BY secid ORDER BY time, m, sk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS quote_price
        |  FROM (
        |    SELECT secid, time, 0 AS m, quote_seq AS sk, price AS qprice,
        |           CAST(NULL AS BIGINT) AS trade_no, CAST(NULL AS DOUBLE) AS tprice
        |    FROM quotes
        |    UNION ALL
        |    SELECT secid, time, 1 AS m, trade_no AS sk, CAST(NULL AS DOUBLE) AS qprice,
        |           trade_no, price AS tprice
        |    FROM trades) u) v
        |WHERE m = 1
        |ORDER BY trade_no""".stripMargin,
      tradesCte, quotesCte)

  val qxAsofTradeQuote = QueryDef.sql(
    "qx_asof_trade_quote",
    asofOracleSql
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val q = quotes(spark, dir).selectExpr("secid", "time", "0 AS m",
      "quote_seq AS sk", "price AS qprice",
      "CAST(NULL AS BIGINT) AS trade_no", "CAST(NULL AS DOUBLE) AS tprice")
    val t = trades(spark, dir).selectExpr("secid", "time", "1 AS m",
      "trade_no AS sk", "CAST(NULL AS DOUBLE) AS qprice",
      "trade_no", "price AS tprice")
    val w = Window.partitionBy("secid").orderBy(col("time"), col("m"), col("sk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.unionByName(t)
      .withColumn("quote_price", last(col("qprice"), ignoreNulls = true).over(w))
      .filter(col("m") === 1)
      .select(col("secid"), col("trade_no"), col("time"), col("tprice"),
        col("quote_price"))
      .orderBy("trade_no")
  }

  /** The SAME as-of semantics through the custom Catalyst operator
    * ([[graft.plans.AsOfJoinExec]]): co-partitioned per-child sorts + a
    * single forward merge with O(1) state, no union and no window —
    * plan-asserted by AsOfJoinSpec, held to the identical oracle here.
    */
  val qxAsofCustom = QueryDef.sql(
    "qx_asof_custom",
    asofOracleSql
  ) { (spark, dir) =>
    val t = trades(spark, dir)
      .selectExpr("secid", "time", "trade_no", "price AS tprice")
    val q = quotes(spark, dir).select("secid", "time", "quote_seq", "price")
    graft.plans.AsOf.join(t, q, Seq("secid"), "time", "time",
        "quote_seq", "price", "quote_price")
      .select("secid", "trade_no", "time", "tprice", "quote_price")
      .orderBy("trade_no")
  }

  /** ClickHouse `-State`/`-Merge` combinators (beyond-reference, round 9):
    * the AggregatingMergeTree idiom the reference's ClickHouse tables
    * live next to (db.go:31 — every table is a *MergeTree). Stage 1
    * aggregates each PART (here: one trading day × side) to a serialized
    * SpaceSaving sketch via `graft_topk_state` and persists the states
    * table; stage 2 answers the query from STATES ONLY —
    * `graft_topk_merge` folds them per side and finishes to the ranked
    * top-10, never rescanning the raw facts.
    *
    * The 100 TB shape: the states table is GROUPS × PARTS rows (here
    * days × 2, each ≤ 64 counters ≈ 1 kB), so a year of 100 TB of trades
    * compacts to a few thousand kilobyte-sized rows and every subsequent
    * top-k query is a metadata-scale scan — the same reason ClickHouse
    * materializes `topKState` in AggregatingMergeTree views. The oracle
    * is the exact ranking (count desc, code asc): with ≤ 60 instrument
    * codes per sketch capacity 64, serialize→persist→merge is lossless,
    * so a wire-format or merge bug is a hash mismatch. TopKStateSpec
    * additionally pins the OVER-capacity merge regime (approximation
    * bounds), which no oracle can express.
    */
  val qxTopkStateMerge = QueryDef.sql(
    "qx_topk_state_merge",
    withCtes(
      """SELECT buy_sell, pos, sec FROM (
        |  SELECT buy_sell, sec_code AS sec,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY buy_sell ORDER BY cnt DESC, sec_code) - 1 AS INT) AS pos
        |  FROM (SELECT buy_sell, sec_code, COUNT(*) AS cnt FROM trades GROUP BY buy_sell, sec_code) c) r
        |WHERE pos < 10
        |ORDER BY buy_sell, pos""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    val parts = graft.fixtures.SessionCache.scratchDir(
      s"topk_states|${spark.sparkContext.applicationId}|$dir")
    trades(spark, dir)
      .withColumn("part_date", to_date(col("time")))
      .groupBy(col("part_date"), col("buy_sell"))
      .agg(expr("graft_topk_state(sec_code, 10)").as("state"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(parts)
    spark.read.parquet(parts)
      .groupBy("buy_sell")
      .agg(expr("graft_topk_merge(state, 10)").as("arr"))
      .select(col("buy_sell"), posexplode(col("arr")))
      .toDF("buy_sell", "pos", "sec")
      .orderBy("buy_sell", "pos")
  }

  /** PIVOT (round 9 — the relational operator class, not the manual
    * if-sum spelling the dashboard panels use): per-security turnover
    * spread across the buy/sell sides as COLUMNS. The pivot values are
    * DECLARED (`Seq("B","S")`) — the two-pass form (Spark collecting
    * distinct pivot values first) is a driver-side scan a 100 TB table
    * never wants; with declared values the plan is ONE partial/final
    * hash aggregate, exactly the CASE-sum the oracle spells.
    */
  val qxPivotTurnover = QueryDef.sql(
    "qx_pivot_turnover",
    withCtes(
      """SELECT sec_code,
        |  SUM(CASE WHEN buy_sell = 'B' THEN price * quantity END) AS B,
        |  SUM(CASE WHEN buy_sell = 'S' THEN price * quantity END) AS S
        |FROM trades GROUP BY sec_code ORDER BY sec_code""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    trades(spark, dir)
      .withColumn("t_term", col("price") * col("quantity"))
      .groupBy(col("sec_code"))
      .pivot("buy_sell", Seq("B", "S"))
      .agg(sum(col("t_term")))
      .orderBy("sec_code")
  }

  /** ROLLUP (GROUPING SETS — the subtotal lattice ClickHouse spells
    * `WITH ROLLUP`): turnover at (board, sec_code), per-board subtotal
    * and grand total in one pass. Spark plans the three grouping sets as
    * ONE Expand (3 rows per input) + one hash aggregate — no re-scan per
    * level, which is the property that matters at 100 TB (the naive
    * UNION-of-three-GROUP-BYs reads the table three times). The fixture
    * has no NULL boards/codes, so subtotal rows are unambiguous.
    */
  val qxRollupTurnover = QueryDef.sql(
    "qx_rollup_turnover",
    withCtes(
      """SELECT board, sec_code, SUM(price * quantity) AS turnover,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM trades GROUP BY ROLLUP(board, sec_code)
        |ORDER BY board, sec_code""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    trades(spark, dir)
      .rollup(col("board"), col("sec_code"))
      .agg(sum(col("price") * col("quantity")).as("turnover"),
        count(lit(1)).as("cnt"))
      .orderBy("board", "sec_code")
  }

  /** Moving-frame window aggregates (ClickHouse `groupArrayMovingSum` /
    * `neighbor` family): per-security 5-minute turnover with a 3-bucket
    * trailing moving sum and the bucket-over-bucket delta. One shuffle on
    * sec_code, one sort per partition, both frames ride the SAME Window
    * node — the shape to check in the Explain audit (two windows that
    * agree on (partition, order) must not plan two sorts).
    */
  val qxMovingTurnover = QueryDef.sql(
    "qx_moving_turnover",
    withCtes(
      s"""SELECT sec_code, minute, vol,
         |  SUM(vol) OVER (PARTITION BY sec_code ORDER BY minute
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_sum,
         |  vol - lag(vol) OVER (PARTITION BY sec_code ORDER BY minute) AS delta
         |FROM (
         |  SELECT sec_code, ${bucketSql("time", IntervalSec)} AS minute,
         |    SUM(price * quantity) AS vol
         |  FROM trades GROUP BY sec_code, minute) b
         |ORDER BY sec_code, minute""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val buckets = trades(spark, dir)
      .withColumn("minute", bucket(col("time"), IntervalSec))
      .groupBy(col("sec_code"), col("minute"))
      .agg(sum(col("price") * col("quantity")).as("vol"))
    val w = Window.partitionBy("sec_code").orderBy("minute")
    buckets
      .withColumn("moving_sum", sum(col("vol")).over(w.rowsBetween(-2, 0)))
      .withColumn("delta", col("vol") - lag(col("vol"), 1).over(w))
      .orderBy("sec_code", "minute")
  }

  /** RANGE-frame window aggregate — the TIME-based frame class
    * ([[qxMovingTurnover]] is the ROWS twin; a time-defined frame is not
    * a count-defined one — the inclusive 900 s window spans FOUR bucket
    * positions when trading is dense and fewer when a security goes
    * quiet, and 16k of the 18.5k output rows differ between the two
    * spellings at sf0.01). Spark's `rangeBetween` needs a numeric
    * ordering column, so
    * the frame rides the bucket's epoch seconds — integer arithmetic,
    * identical in the oracle. Same single-Window/single-sort shape as
    * the ROWS form.
    */
  val qxRangeFrameTurnover = QueryDef.sql(
    "qx_range_frame_turnover",
    withCtes(
      s"""SELECT sec_code, minute, vol,
         |  SUM(vol) OVER (PARTITION BY sec_code ORDER BY epoch_s
         |    RANGE BETWEEN 900 PRECEDING AND CURRENT ROW) AS trailing_15m
         |FROM (
         |  SELECT sec_code, minute, CAST(epoch(minute) AS BIGINT) AS epoch_s,
         |    SUM(price * quantity) AS vol
         |  FROM (SELECT sec_code, ${bucketSql("time", IntervalSec)} AS minute,
         |        price, quantity FROM trades) r
         |  GROUP BY sec_code, minute) b
         |ORDER BY sec_code, minute""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val buckets = trades(spark, dir)
      .withColumn("minute", bucket(col("time"), IntervalSec))
      .groupBy(col("sec_code"), col("minute"))
      .agg(sum(col("price") * col("quantity")).as("vol"))
      .withColumn("epoch_s", unix_seconds(col("minute")))
    val w = Window.partitionBy("sec_code").orderBy("epoch_s")
      .rangeBetween(-900, 0)
    buckets
      .withColumn("trailing_15m", sum(col("vol")).over(w))
      .select(col("sec_code"), col("minute"), col("vol"), col("trailing_15m"))
      .orderBy("sec_code", "minute")
  }

  /** ClickHouse `quantilesTDigest(0.5, 0.9, 0.99)(price)` — the last
    * member of its approximate-aggregate family here (after topK, uniq,
    * CMS): the custom [[graft.expr.TDigestQuantiles]] sketch, one O(δ)
    * digest per group on the shuffle regardless of row count. The
    * digest's centroid contents legitimately depend on partial-merge
    * order, so the HASHED output is the sketch's actual contract — a
    * tie-aware rank-accuracy ledger (`within_bound`: the approx value's
    * open/closed rank bracket must contain pct ± 2%, far looser than
    * δ=200's theoretical O(q(1-q)/δ)) — alongside the exact
    * cum-histogram quantiles both engines derive independently. A
    * digest drifting past its guarantee flips a boolean and fails the
    * hash; the raw approx value is deliberately not hashed.
    */
  /** The rank-accuracy ledger's DuckDB twin — exact cum-histogram
    * quantiles plus the `TRUE` bound columns the Spark side must earn.
    */
  private val tdigestLedgerSql: String =
    """SELECT board, pct,
      |  CAST(min(CASE WHEN cum * 100 >= n * pct THEN price END) AS DOUBLE) AS exact_q,
      |  CAST(max(n) AS BIGINT) AS n_rows,
      |  TRUE AS within_bound
      |FROM (
      |  SELECT board, price,
      |    sum(cnt) OVER (PARTITION BY board ORDER BY price) AS cum,
      |    sum(cnt) OVER (PARTITION BY board) AS n
      |  FROM (SELECT board, price, count(*) AS cnt FROM trades
      |        GROUP BY board, price) h) c
      |CROSS JOIN (SELECT unnest(ARRAY[50, 90, 99]) AS pct) p
      |GROUP BY board, pct
      |ORDER BY board, pct""".stripMargin

  /** Finish a per-board digest relation `dig(board, pct, approx_q)` into
    * the hashed ledger: exact cum-histogram quantiles (the oracle's
    * arithmetic) + the tie-aware rank bracket of each approx cut.
    */
  private def tdigestLedger(t: org.apache.spark.sql.DataFrame,
      dig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def q(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("price"))).as(s"p$p")
    val wb = Window.partitionBy("board")
    val exact = t.groupBy("board", "price").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wb.orderBy("price")))
      .withColumn("n", sum("cnt").over(wb))
      .groupBy("board").agg(max("n").as("n_rows"), q(50), q(90), q(99))
      .selectExpr("board", "n_rows",
        "stack(3, 50, p50, 90, p90, 99, p99) AS (pct, exact_q)")
    val bracket = t.join(broadcast(dig), "board")
      .groupBy("board", "pct")
      .agg(sum(when(col("price") < col("approx_q"), 1L).otherwise(0L)).as("c_lt"),
        sum(when(col("price") <= col("approx_q"), 1L).otherwise(0L)).as("c_le"))
    exact.join(bracket, Seq("board", "pct"))
      .withColumn("within_bound",
        (col("c_le").cast("double") / col("n_rows") >= col("pct") / 100.0 - 0.02) &&
          (col("c_lt").cast("double") / col("n_rows") <= col("pct") / 100.0 + 0.02))
      .select(col("board"), col("pct"), col("exact_q").cast("double").as("exact_q"),
        col("n_rows").cast("long").as("n_rows"), col("within_bound"))
      .orderBy("board", "pct")
  }

  /** Explode a digest-quantiles array column into (board, pct, approx_q). */
  private def explodeCuts(dig: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    dig.select(col("board"), posexplode(col("qs")).as(Seq("i", "approx_q")))
      .withColumn("pct", element_at(array(lit(50), lit(90), lit(99)), col("i") + 1))
      .drop("i")

  val qxQuantileTdigest = QueryDef.sql(
    "qx_quantile_tdigest",
    withCtes(tdigestLedgerSql, tradesCte)
  ) { (spark, dir) =>
    val t = trades(spark, dir).select(col("board"), col("price"))
    // the sketch under test: one digest per board, three finished cuts
    val dig = explodeCuts(t.groupBy("board")
      .agg(expr("graft_tdigest_quantiles(price, array(0.50D, 0.90D, 0.99D))").as("qs")))
    tdigestLedger(t, dig)
  }

  /** `quantileTDigestState` / `quantileTDigestMerge` — the
    * AggregatingMergeTree combinator pair for quantiles (same idiom as
    * [[qxTopkStateMerge]]): each day-part persists ONE O(δ) digest per
    * board; the read path folds the persisted states and never rescans
    * facts. Unlike topK-under-capacity, a digest fold is NOT lossless —
    * re-compression is the approximation — so the oracle is the same
    * rank-accuracy ledger as `qx_quantile_tdigest`: the merged digest
    * must still land every cut inside pct ± 2%, proving state
    * persistence + merge preserves the sketch's contract.
    */
  val qxTdigestStateMerge = QueryDef.sql(
    "qx_tdigest_state_merge",
    withCtes(tdigestLedgerSql, tradesCte)
  ) { (spark, dir) =>
    val t = trades(spark, dir).select(col("board"), col("price"), col("time"))
    val parts = graft.fixtures.SessionCache.scratchDir(
      s"tdigest_states|${spark.sparkContext.applicationId}|$dir")
    t.withColumn("part_date", to_date(col("time")))
      .groupBy("part_date", "board")
      .agg(expr("graft_tdigest_state(price)").as("state"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(parts)
    val dig = explodeCuts(spark.read.parquet(parts)
      .groupBy("board")
      .agg(expr("graft_tdigest_merge(state, array(0.50D, 0.90D, 0.99D))").as("qs")))
    tdigestLedger(t.select("board", "price"), dig)
  }

  /** ClickHouse `LIMIT n BY group` — per-group top-n as a first-class
    * clause (the "latest 3 prints per instrument" ticker query). One
    * window over one (sec_code)-hash exchange; ordering is total
    * (time DESC, trade_no DESC tiebreak) so the oracle hashes exactly.
    * Scale note: with 60 keys the per-key micro-sort is free; for
    * millions of groups × huge fan-in the capped-collect aggregate
    * ([[graft.expr.CappedLongs]]) is the no-sort spelling — this entry
    * registers the CLAUSE semantics.
    */
  val qxLimitBy = QueryDef.sql(
    "qx_limit_by",
    withCtes(
      """SELECT sec_code, rn, trade_no, price FROM (
        |  SELECT sec_code, trade_no, price,
        |    CAST(row_number() OVER (PARTITION BY sec_code
        |      ORDER BY time DESC, trade_no DESC) AS INT) AS rn
        |  FROM trades) r
        |WHERE rn <= 3
        |ORDER BY sec_code, rn""".stripMargin,
      tradesCte)
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("sec_code")
      .orderBy(col("time").desc, col("trade_no").desc)
    trades(spark, dir)
      .select(col("sec_code"), col("trade_no"), col("price"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("sec_code"), col("rn"), col("trade_no"), col("price"))
      .orderBy("sec_code", "rn")
  }

  /** ClickHouse `ORDER BY minute WITH FILL` — time-series gap filling:
    * every security's 5-minute grid from its first to its last bucket,
    * absent buckets zero-filled (what a dashboard line chart needs when
    * trading goes quiet; the RANGE-frame entry showed the buckets ARE
    * gappy). The grid is generated from the per-key span (60 tiny rows,
    * broadcast) via sequence/explode — never a driver loop — and the
    * fill is one left join keyed exactly like the aggregate, so the
    * whole thing is bucket-cardinality-bound, not row-bound.
    */
  val qxWithFillTurnover = QueryDef.sql(
    "qx_with_fill_turnover",
    withCtes(
      """SELECT g.sec_code AS sec_code, g.minute AS minute,
        |  coalesce(b.vol, CAST(0 AS DOUBLE)) AS vol,
        |  b.vol IS NULL AS filled
        |FROM g LEFT JOIN b ON b.sec_code = g.sec_code AND b.minute = g.minute
        |ORDER BY g.sec_code, g.minute""".stripMargin,
      tradesCte,
      s"""b AS (
         |  SELECT sec_code, ${bucketSql("time", IntervalSec)} AS minute,
         |    SUM(price * quantity) AS vol
         |  FROM trades GROUP BY sec_code, minute),
         |s AS (SELECT sec_code, min(minute) AS mn, max(minute) AS mx
         |      FROM b GROUP BY sec_code),
         |g AS (SELECT sec_code,
         |        unnest(generate_series(mn, mx, INTERVAL ${IntervalSec} SECOND)) AS minute
         |      FROM s)""".stripMargin)
  ) { (spark, dir) =>
    filledGrid(spark, dir)
      .select(col("sec_code"), col("minute"),
        coalesce(col("vol"), lit(0.0)).as("vol"),
        col("vol").isNull.as("filled"))
      .orderBy("sec_code", "minute")
  }

  /** The WITH FILL grid: per-security 5-minute buckets from first to
    * last, left-joined to the turnover aggregate (vol NULL on gaps).
    */
  private def filledGrid(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val b = trades(spark, dir)
      .withColumn("minute", bucket(col("time"), IntervalSec))
      .groupBy("sec_code", "minute")
      .agg(sum(col("price") * col("quantity")).as("vol"))
    val grid = b.groupBy("sec_code")
      .agg(min("minute").as("mn"), max("minute").as("mx"))
      .select(col("sec_code"),
        explode(expr(s"sequence(mn, mx, interval $IntervalSec seconds)")).as("minute"))
    grid.join(b, Seq("sec_code", "minute"), "left")
  }

  /** `WITH FILL … INTERPOLATE` — the carry-forward variant: a gap bucket
    * shows the last traded bucket's turnover instead of zero (the
    * "last known price/volume" a ticker panel wants). One additional
    * window over the ALREADY bucket-sized grid (never the raw rows);
    * the first grid bucket per key always has data (the grid starts at
    * each key's min), so LOCF is total. Identical IGNORE NULLS window
    * in the oracle.
    */
  val qxWithFillLocf = QueryDef.sql(
    "qx_with_fill_locf",
    withCtes(
      """SELECT g.sec_code AS sec_code, g.minute AS minute,
        |  last_value(b.vol IGNORE NULLS) OVER (
        |    PARTITION BY g.sec_code ORDER BY g.minute
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vol,
        |  b.vol IS NULL AS filled
        |FROM g LEFT JOIN b ON b.sec_code = g.sec_code AND b.minute = g.minute
        |ORDER BY g.sec_code, g.minute""".stripMargin,
      tradesCte,
      s"""b AS (
         |  SELECT sec_code, ${bucketSql("time", IntervalSec)} AS minute,
         |    SUM(price * quantity) AS vol
         |  FROM trades GROUP BY sec_code, minute),
         |s AS (SELECT sec_code, min(minute) AS mn, max(minute) AS mx
         |      FROM b GROUP BY sec_code),
         |g AS (SELECT sec_code,
         |        unnest(generate_series(mn, mx, INTERVAL ${IntervalSec} SECOND)) AS minute
         |      FROM s)""".stripMargin)
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("sec_code").orderBy("minute")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filledGrid(spark, dir)
      .select(col("sec_code"), col("minute"),
        last(col("vol"), ignoreNulls = true).over(w).as("vol"),
        col("vol").isNull.as("filled"))
      .orderBy("sec_code", "minute")
  }

  /** Semi/anti joins — ClickHouse `GLOBAL IN (subquery)` and its
    * negation (`WHERE sec_code [NOT] IN (SELECT …)`): the traded codes
    * split by whether the dimension knows them as SHARE instruments.
    * Spark plans both sides as BroadcastHashJoin LeftSemi/LeftAnti over
    * the broadcast dimension — no shuffle of the fact-derived side, the
    * exact distributed-IN evaluation GLOBAL IN exists to express. The
    * oracle spells EXISTS/NOT EXISTS (null-safe, same relation).
    */
  val qxSemiAntiCodes = QueryDef.sql(
    "qx_semi_anti_codes",
    withCtes(
      """SELECT 'semi' AS side, sec_code FROM codes c
        |WHERE EXISTS (SELECT 1 FROM securities s
        |              WHERE s.seccode = c.sec_code AND s.sectype = 'SHARE')
        |UNION ALL
        |SELECT 'anti' AS side, sec_code FROM codes c
        |WHERE NOT EXISTS (SELECT 1 FROM securities s
        |                  WHERE s.seccode = c.sec_code AND s.sectype = 'SHARE')
        |ORDER BY side, sec_code""".stripMargin,
      tradesCte, securitiesCte,
      "codes AS (SELECT DISTINCT sec_code FROM trades)")
  ) { (spark, dir) =>
    val shares = securities(spark, dir)
      .filter(col("sectype") === "SHARE").select(col("seccode"))
    val codes = trades(spark, dir).select("sec_code").distinct()
    def side(joinType: String, label: String) =
      codes.join(broadcast(shares), codes("sec_code") === shares("seccode"), joinType)
        .select(lit(label).as("side"), col("sec_code"))
    side("left_semi", "semi").unionByName(side("left_anti", "anti"))
      .orderBy("side", "sec_code")
  }

  val all: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22,
    qxSaltedTurnover, qxAsofTradeQuote, qxAsofCustom, qxTopkStateMerge,
    qxPivotTurnover, qxRollupTurnover, qxMovingTurnover,
    qxRangeFrameTurnover, qxQuantileTdigest, qxTdigestStateMerge,
    qxLimitBy, qxWithFillTurnover, qxWithFillLocf, qxSemiAntiCodes,
    qxSetOpsMinutes)

  /** EXCEPT / INTERSECT — the remaining relational set operators
    * (ClickHouse has both since 21.8; the dashboard's UNION ALL sibling
    * is exercised by Q2/Q3): 5-minute buckets where SEC03 traded but
    * SEC12 didn't, and where both did. Spark plans DISTINCT set ops as
    * aggregate + left-anti/left-semi joins — the same scale shape as
    * `qx_semi_anti_codes`, arrived at through the set-operator surface
    * instead of IN; inputs are already bucket-sized before either op.
    */
  lazy val qxSetOpsMinutes = QueryDef.sql(
    "qx_set_ops_minutes",
    withCtes(
      """SELECT 'both' AS tag, minute FROM
        |  (SELECT minute FROM a INTERSECT SELECT minute FROM b) i
        |UNION ALL
        |SELECT 'only_sec03' AS tag, minute FROM
        |  (SELECT minute FROM a EXCEPT SELECT minute FROM b) e
        |ORDER BY tag, minute""".stripMargin,
      tradesCte,
      s"""a AS (SELECT DISTINCT ${bucketSql("time", IntervalSec)} AS minute
         |      FROM trades WHERE sec_code = 'SEC03'),
         |b AS (SELECT DISTINCT ${bucketSql("time", IntervalSec)} AS minute
         |      FROM trades WHERE sec_code = 'SEC12')""".stripMargin)
  ) { (spark, dir) =>
    def minutes(code: String) = trades(spark, dir)
      .filter(col("sec_code") === code)
      .select(bucket(col("time"), IntervalSec).as("minute")).distinct()
    val (a, b) = (minutes("SEC03"), minutes("SEC12"))
    a.intersect(b).select(lit("both").as("tag"), col("minute"))
      .unionByName(a.except(b).select(lit("only_sec03").as("tag"), col("minute")))
      .orderBy("tag", "minute")
  }
}
