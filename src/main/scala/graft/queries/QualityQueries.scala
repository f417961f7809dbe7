package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures.documents
import graft.llm.Text

/** Curation, filtering and budgeting entries: text statistics, quality
  * and PII/repetition/contamination signals, host and token budgets,
  * the composed curation verdict, packing, splits, mixing and sampling,
  * corpus statistics and sketches, sharding and drift. Each entry's
  * DuckDB twin sits next to its builder.
  */
object QualityQueries {
  import Ranked.{rowNumber, topK}

  /** Text statistics: token counts, distinct tokens, stopword hits, exact
    * char length, mean token length. All integers + one deterministic
    * double division.
    */
  val textStats = QueryDef.sql(
    "llm_text_stats",
    """SELECT doc_id,
      |  len(tk) AS n_tokens,
      |  len(list_distinct(tk)) AS n_uniq,
      |  len(list_filter(tk, t -> t IN ('the', 'a'))) AS stop_cnt,
      |  CAST(length(text) AS BIGINT) AS n_chars_m,
      |  CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE) / len(tk) AS avg_tok_len
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents) d
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        expr("CAST(size(tk) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(array_distinct(tk)) AS BIGINT)").as("n_uniq"),
        expr(s"CAST(size(filter(tk, t -> t IN ('the', 'a'))) AS BIGINT)").as("stop_cnt"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars_m"),
        expr("CAST(aggregate(transform(tk, t -> length(t)), 0, (a, x) -> a + x) AS DOUBLE) / size(tk)").as("avg_tok_len"))
      .orderBy("doc_id")
  }

  /** Quality scoring for corpus filtering: lexical-diversity +
    * stopword-density + length prior, weighted into one score and a keep
    * flag. All ratios are exact-integer divisions, the weighted sum is a
    * fixed-order double expression — the SAME expression text runs in
    * both engines.
    */
  private[graft] val qualityExpr =
    """CAST(n_uniq AS DOUBLE) / n_tokens * 0.5
      | + (1.0 - CAST(stop_cnt AS DOUBLE) / n_tokens) * 0.3
      | + (CASE WHEN n_chars >= 200 THEN 1.0 WHEN n_chars >= 100 THEN 0.5 ELSE 0.0 END) * 0.2""".stripMargin.replace("\n", "")

  /** The metric projections [[qualityExpr]] reads — ONE definition per
    * dialect, shared by [[qualityScore]] and [[curation]] so the composed
    * verdict can never drift from the standalone signal. Both expect
    * doc_id, text and tk (split tokens) in scope.
    */
  private[queries] def qualityMetricsSql: String =
    """len(tk) AS n_tokens,
      |      len(list_distinct(tk)) AS n_uniq,
      |      len(list_filter(tk, t -> t IN ('the', 'a'))) AS stop_cnt,
      |      length(text) AS n_chars""".stripMargin

  private[graft] def qualityMetricCols: Seq[org.apache.spark.sql.Column] = Seq(
    expr("CAST(size(tk) AS BIGINT)").as("n_tokens"),
    expr("CAST(size(array_distinct(tk)) AS BIGINT)").as("n_uniq"),
    expr("CAST(size(filter(tk, t -> t IN ('the', 'a'))) AS BIGINT)").as("stop_cnt"),
    expr("CAST(length(text) AS BIGINT)").as("n_chars"))

  /** (doc_id, quality) of a (doc_id, text, tk) table. */
  private[queries] def qualityOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: qualityMetricCols: _*)
      .select(col("doc_id"), expr(qualityExpr).as("quality"))

  /** DuckDB twin of [[qualityOf]]: CTE `qual` over a (doc_id, text, tk)
    * relation `from`.
    */
  private[queries] def qualCteSql(from: String): String =
    s"""qual AS (SELECT doc_id, $qualityExpr AS quality FROM (
       |    SELECT doc_id,
       |      $qualityMetricsSql
       |    FROM $from) m)""".stripMargin

  val qualityScore = QueryDef.sql(
    "llm_quality_score",
    s"""SELECT doc_id, n_tokens, quality, quality >= 0.6 AS keep FROM (
       |  SELECT doc_id, n_tokens, $qualityExpr AS quality FROM (
       |    SELECT doc_id,
       |      $qualityMetricsSql
       |    FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents) d) m) q
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id") +: qualityMetricCols: _*)
      .withColumn("quality", expr(qualityExpr))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        (col("quality") >= 0.6).as("keep"))
      .orderBy("doc_id")
  }

  // ---- PII scrubbing: detect + redact, counted and hash-verified ----

  /** Deterministic PII injection (the corpus has no @/+/http literals, so
    * detection counts are fully controlled): an email for 2 of 3 docs, a
    * phone for every 2nd, a URL for every doc.
    */
  private def richPiiExpr(strTy: String): String =
    s"concat(text," +
      s" CASE WHEN doc_id % 3 > 0 THEN concat(' contact user', CAST(doc_id AS $strTy), '@example.com') ELSE '' END," +
      s" CASE WHEN doc_id % 2 = 0 THEN concat(' call +1-555-', CAST(doc_id % 10000 AS $strTy)) ELSE '' END," +
      s" ' see http://site', CAST(doc_id % 7 AS $strTy), '.example/p')"

  // escape-free patterns (character classes only) — identical semantics
  // under Java regex (Spark) and RE2 (DuckDB)
  private val EmailPat = "[a-z0-9]+@[a-z0-9.]+[a-z]"
  private val PhonePat = "[+][0-9][0-9-]+[0-9]"
  private val UrlPat = "http://[a-z0-9./]+"

  /** PII scrub for corpus cleaning: count emails/phones/URLs, redact all
    * three (fixed order), emit the scrubbed text's md5 + length so the
    * oracle verifies the REDACTED BYTES, not just the counts. Pure
    * map-side codegen projection (regexp_* built-ins, no UDF).
    */
  val piiScrub = QueryDef.sql(
    "llm_pii_scrub",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(rich, '$EmailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(rich, '$PhonePat')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(rich, '$UrlPat')) AS BIGINT) AS n_urls,
       |  md5(regexp_replace(regexp_replace(regexp_replace(rich,
       |      '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'),
       |      '$UrlPat', '<URL>', 'g')) AS clean_hash,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(rich,
       |      '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'),
       |      '$UrlPat', '<URL>', 'g')) AS BIGINT) AS clean_len
       |FROM (SELECT doc_id, ${richPiiExpr("VARCHAR")} AS rich FROM documents) d
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id", s"${richPiiExpr("STRING")} AS rich")
      .selectExpr("doc_id",
        s"CAST(size(regexp_extract_all(rich, '$EmailPat', 0)) AS BIGINT) AS n_emails",
        s"CAST(size(regexp_extract_all(rich, '$PhonePat', 0)) AS BIGINT) AS n_phones",
        s"CAST(size(regexp_extract_all(rich, '$UrlPat', 0)) AS BIGINT) AS n_urls",
        s"md5(regexp_replace(regexp_replace(regexp_replace(rich, '$EmailPat', '<EMAIL>'), '$PhonePat', '<PHONE>'), '$UrlPat', '<URL>')) AS clean_hash",
        s"CAST(length(regexp_replace(regexp_replace(regexp_replace(rich, '$EmailPat', '<EMAIL>'), '$PhonePat', '<PHONE>'), '$UrlPat', '<URL>')) AS BIGINT) AS clean_len")
      .orderBy("doc_id")
  }

  // ---- repetition detection (Gopher-style duplicate-ngram fraction) ----

  /** Repetition quality signal: fraction of duplicated word TRIGRAMS.
    * Every 5th document is made repetitive by doubling its text (the
    * corpus itself is near-repetition-free, so the signal is controlled).
    * Map-side only: the codegen'd n-gram expression runs twice (dedup'd
    * and not) — no explode, no shuffle.
    */
  val repetition = QueryDef.sql(
    "llm_repetition",
    s"""SELECT doc_id, n_tri, n_tri_uniq,
       |  CASE WHEN n_tri = 0 THEN 0.0
       |       ELSE 1.0 - CAST(n_tri_uniq AS DOUBLE) / n_tri END AS rep_ratio,
       |  (CASE WHEN n_tri = 0 THEN 0.0
       |        ELSE 1.0 - CAST(n_tri_uniq AS DOUBLE) / n_tri END) > 0.3 AS repetitive
       |FROM (SELECT doc_id,
       |    CAST(len(list_transform(range(1, len(tk) - 1), i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))) AS BIGINT) AS n_tri,
       |    CAST(len(list_distinct(list_transform(range(1, len(tk) - 1), i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])))) AS BIGINT) AS n_tri_uniq
       |  FROM (SELECT doc_id, string_split(
       |      CASE WHEN doc_id % 5 = 0 THEN concat(text, ' ', text) ELSE text END,
       |      ' ') AS tk FROM documents) t) m
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id",
        "split(CASE WHEN doc_id % 5 = 0 THEN concat(text, ' ', text) ELSE text END, ' ') AS tk")
      .selectExpr("doc_id",
        "CAST(size(word_ngrams(tk, 3, false)) AS BIGINT) AS n_tri",
        "CAST(size(word_ngrams(tk, 3, true)) AS BIGINT) AS n_tri_uniq")
      .selectExpr("doc_id", "n_tri", "n_tri_uniq",
        "CASE WHEN n_tri = 0 THEN 0.0 ELSE 1.0 - CAST(n_tri_uniq AS DOUBLE) / n_tri END AS rep_ratio",
        "(CASE WHEN n_tri = 0 THEN 0.0 ELSE 1.0 - CAST(n_tri_uniq AS DOUBLE) / n_tri END) > 0.3 AS repetitive")
      .orderBy("doc_id")
  }

  // ---- benchmark contamination: eval-set n-gram overlap ----

  /** Docs whose id ≡ 0 (mod 97) stand in for a held-out eval set. */
  private val BenchMod = 97
  private val ContamN = 5

  /** ng/bench/hits CTEs (expect a `docs(doc_id, tk)` CTE in scope) — ONE
    * definition per dialect, shared by [[contamination]] and the composed
    * [[curation]] verdict.
    */
  private def contamCtesSql: String =
    s"""ng AS (SELECT doc_id, unnest(${Text.wordNgramsSql(ContamN, distinct = true)}) AS ng
       |       FROM docs),
       |bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % $BenchMod = 0),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS bench_ngram_hits
       |         FROM ng JOIN bench USING (ng) GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[contamCtesSql]]'s `hits`: per-doc count of distinct
    * eval-set n-grams. `docs` needs (doc_id, tk).
    */
  private def benchHits(docs: DataFrame)
      : DataFrame = {
    val ngrams = docs.select(col("doc_id"),
      explode(expr(s"word_ngrams(tk, $ContamN, true)")).as("ng"))
    val bench = ngrams.filter(col("doc_id") % BenchMod === 0)
      .select("ng").distinct()
    ngrams.join(broadcast(bench), "ng")
      .groupBy("doc_id").agg(count(lit(1)).as("bench_ngram_hits"))
  }

  /** Decontamination operator (the Dolma/GPT-3 "13-gram overlap" design,
    * scaled to the fixture's ~30-token docs as 5-grams): collect the
    * benchmark set's distinct word n-grams, flag every corpus document
    * containing any of them.
    *
    * 100 TB shape: both sides are map-side DISTINCT n-gram explodes (the
    * codegen'd `word_ngrams` set-build — no corpus-wide distinct
    * shuffle); the benchmark set is small by definition and broadcast, so
    * the corpus never shuffles — one scan, one broadcast-hash join, one
    * partial-aggregated count per doc.
    */
  val contamination = QueryDef.sql(
    "llm_contamination",
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |$contamCtesSql
       |SELECT d.doc_id,
       |  coalesce(h.bench_ngram_hits, 0) AS bench_ngram_hits,
       |  coalesce(h.bench_ngram_hits, 0) > 0 AS contaminated,
       |  d.doc_id % $BenchMod = 0 AS is_benchmark
       |FROM docs d LEFT JOIN hits h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val hits = benchHits(docs)
    docs.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bench_ngram_hits"), lit(0L)).as("bench_ngram_hits"),
        (coalesce(col("bench_ngram_hits"), lit(0L)) > 0).as("contaminated"),
        (col("doc_id") % BenchMod === 0).as("is_benchmark"))
      .orderBy("doc_id")
  }

  // ---- URL/host extraction: domain-level corpus stats ----

  /** Domain-level stats over extracted URLs (the operator behind
    * host-blocklist filtering in web-corpus pipelines), on the same
    * PII-injected text as [[piiScrub]]. Pure map-side extract/explode
    * into one small aggregation — hosts are low-cardinality by nature.
    */
  val urlHostStats = QueryDef.sql(
    "llm_url_hosts",
    s"""SELECT host,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_urls
       |FROM (SELECT doc_id, string_split(url, '/')[3] AS host
       |      FROM (SELECT doc_id, unnest(regexp_extract_all(rich, '$UrlPat')) AS url
       |            FROM (SELECT doc_id, ${richPiiExpr("VARCHAR")} AS rich
       |                  FROM documents) r) u) h
       |GROUP BY host
       |ORDER BY host""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id", s"${richPiiExpr("STRING")} AS rich")
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(rich, '$UrlPat', 0)")).as("url"))
      .selectExpr("doc_id", "split(url, '/')[2] AS host")
      .groupBy("host")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_urls"))
      .orderBy("host")
  }

  // ---- per-host document cap: domain-balancing curation ----

  /** Max docs kept per host. */
  private val HostCap = 20

  /** Per-host document cap — the domain-balancing step web-scale
    * curation applies after host extraction (a handful of boilerplate
    * domains otherwise dominate the training mix): rank each doc within
    * its host by doc_id (stable, deterministic) and keep the first
    * [[HostCap]]. Emitted as a TOTAL ledger (doc_id, host, host_rank,
    * keep) so downstream stages read one table, not a filtered view.
    *
    * 100 TB shape: one window sort PARTITIONED BY host — sort-per-host
    * is spillable and the partition count is the host cardinality
    * (millions on the web), so parallelism holds; a single mega-host is
    * the skew hazard and AQE skew-split handles the numbering scan
    * because ranks beyond the cap only feed a boolean. The upgrade path
    * when even numbering a mega-host is too much is a bounded per-group
    * "C smallest doc_ids" heap aggregate (the [[graft.expr.TopK]]
    * pattern with an exact bounded buffer), which this ledger's oracle
    * would gate unchanged.
    */
  val hostCap = QueryDef.sql(
    "llm_host_cap",
    s"""WITH rich AS (SELECT doc_id, ${richPiiExpr("VARCHAR")} AS rich FROM documents),
       |hosts AS (SELECT doc_id,
       |    string_split(regexp_extract(rich, '$UrlPat'), '/')[3] AS host
       |  FROM rich),
       |ranked AS (SELECT doc_id, host, row_number() OVER (
       |    PARTITION BY host ORDER BY doc_id) AS host_rank FROM hosts)
       |SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank,
       |  host_rank <= $HostCap AS keep
       |FROM ranked ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id", s"${richPiiExpr("STRING")} AS rich")
      .selectExpr("doc_id", s"split(regexp_extract(rich, '$UrlPat', 0), '/')[2] AS host")
      .withColumn("host_rank", rowNumber("host")(col("doc_id")).cast("long"))
      .select(col("doc_id"), col("host"), col("host_rank"),
        (col("host_rank") <= HostCap).as("keep"))
      .orderBy("doc_id")
  }

  // ---- per-source token budget: quota-based mixture capping ----

  /** Max tokens kept per source for [[tokenBudget]] — sized so the cap
    * actually bites on the fixture (sources carry ~1500 tokens at
    * sf0.01, so 1000 drops a real tail per source).
    */
  private val SourceTokenBudget = 1000L

  // ---- host-graph PageRank: link-structure quality signal ----

  /** Host graph size: hosts are `h0..h${PrHosts-1}` by doc_id residue —
    * like real crawls, host cardinality is orders below doc cardinality.
    */
  private val PrHosts = 97

  /** Rank quantum 10^12 and damping 85/100, kept as integers so every
    * iteration is exact BIGINT arithmetic in both engines.
    */
  private val PrQ = 1000000000000L
  private val PrBase = PrQ * 15L / 100L
  private val PrIters = 3

  /** Host-level PageRank over the crawl link graph — the
    * link-structure quality signal web-corpus pipelines rank domains by
    * (the graph analog of [[urlHostStats]]' count stats): three damped
    * power iterations, integer-quantized. The fixture seam (the
    * derivation is the fixture, the iteration is the operator — the
    * [[snapshotDiff]] convention): each document links from its own host
    * to `doc_id·31 mod $PrHosts`, even docs additionally to
    * `doc_id·53 mod $PrHosts`, and every 4th doc to a HUB host
    * `doc_id mod 5` — heterogeneous out-degrees plus five high-in-degree
    * hubs, the skew shape of a real crawl graph. (A first cut with three
    * unconditional multiplicative targets produced a vertex-transitive
    * graph whose PageRank is exactly uniform — a correct oracle match
    * proving nothing.) Iteration rule, exact in BIGINT:
    *
    *   r_{t+1}(v) = (15·Q) div 100 + Σ_{u→v} (85·r_t(u)) div (100·outdeg(u))
    *
    * Dangling hosts (in-links only) simply contribute nothing — ranks
    * are unnormalized quality scores for filtering, not a probability
    * distribution, the convention host-blocklist pipelines actually use.
    *
    * 100 TB shape: the ONLY corpus-sized work is the map-side edge
    * derivation + one DISTINCT hash aggregate down to the edge set
    * (bounded by hosts², not docs). Every iteration then joins
    * host-cardinality rank/degree tables BROADCAST onto the edge set —
    * at web scale (10^7 hosts, 10^9 edges) the same plan shuffle-hashes
    * instead; either way no iteration ever touches the corpus again,
    * and the loop is a fixed 3-join plan, not a driver collect.
    */
  val pagerankHosts = QueryDef.sql(
    "llm_pagerank_hosts", {
      val iterCtes = (1 to PrIters).map { t =>
        val p = s"r${t - 1}"
        s"""c$t AS (SELECT l.dst AS host,
           |         CAST(sum((85 * r.r) // (100 * d.outdeg)) AS BIGINT) AS inflow
           |       FROM links l JOIN $p r ON r.host = l.src
           |                    JOIN deg d ON d.src = l.src
           |       GROUP BY l.dst),
           |r$t AS (SELECT n.host, CAST($PrBase + coalesce(c.inflow, 0) AS BIGINT) AS r
           |       FROM nodes n LEFT JOIN c$t c USING (host))""".stripMargin
      }.mkString(",\n")
      s"""WITH links AS (SELECT DISTINCT 'h' || CAST(srcn AS VARCHAR) AS src,
         |    'h' || CAST(dstn AS VARCHAR) AS dst FROM (
         |    SELECT doc_id % $PrHosts AS srcn, unnest([
         |      (doc_id * 31) % $PrHosts,
         |      CASE WHEN doc_id % 2 = 0 THEN (doc_id * 53) % $PrHosts END,
         |      CASE WHEN doc_id % 4 = 0 THEN doc_id % 5 END]) AS dstn
         |    FROM documents) e
         |  WHERE dstn IS NOT NULL AND dstn <> srcn),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM links GROUP BY src),
         |nodes AS (SELECT src AS host FROM links UNION SELECT dst FROM links),
         |r0 AS (SELECT host, CAST($PrQ AS BIGINT) AS r FROM nodes),
         |$iterCtes
         |SELECT n.host, coalesce(d.outdeg, 0) AS outdeg, r.r AS rank_q
         |FROM nodes n LEFT JOIN deg d ON d.src = n.host
         |             JOIN r$PrIters r USING (host)
         |ORDER BY host""".stripMargin
    }
  ) { (spark, dir) =>
    val links = documents(spark, dir)
      .selectExpr(s"doc_id % $PrHosts AS srcn",
        s"""explode(array(
           |  (doc_id * 31) % $PrHosts,
           |  CASE WHEN doc_id % 2 = 0 THEN (doc_id * 53) % $PrHosts END,
           |  CASE WHEN doc_id % 4 = 0 THEN doc_id % 5 END)) AS dstn""".stripMargin)
      .filter(col("dstn").isNotNull && col("dstn") =!= col("srcn"))
      .selectExpr("concat('h', CAST(srcn AS STRING)) AS src",
        "concat('h', CAST(dstn AS STRING)) AS dst")
      .distinct()
      // the edge set is hosts²-bounded and read by deg/nodes/every
      // iteration — cache it so the corpus-sized derivation runs ONCE
      // (without this the edge dedup re-scans the corpus ~6×)
      .cache()
    // Round 15 (guide §3.3/§5 — "materialising an intermediate truncates
    // the plan"): deg/nodes/every iteration's r are host-bounded frames
    // consumed by SEVERAL later broadcast subtrees; left lazy, iteration
    // t's broadcast build re-ran the whole prefix chain (plan tree grew
    // to ~1000 formatted lines / 102 Exchanges at 3 iterations — see
    // plans/r15/llm_pagerank_hosts_before.txt). localCheckpoint()
    // materializes each once as in-engine blocks and truncates lineage —
    // still distributed (NO driver collect, the 10^7-host shape is
    // unchanged), the loop stays the fixed 3-join plan. Measured
    // 2.8–3.6 → 1.7–2.0 s warm at sf0.1 (KeyProbe, OPTIMIZATION_r15.md).
    val deg = links.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = links.select(col("src").as("host"))
      .union(links.select(col("dst").as("host"))).distinct()
      .localCheckpoint()
    var r = nodes.withColumn("r", lit(PrQ))
    for (_ <- 1 to PrIters) {
      val contrib = links
        .join(broadcast(r.withColumnRenamed("host", "src")), "src")
        .join(broadcast(deg), "src")
        .selectExpr("dst AS host", "(85 * r) div (100 * outdeg) AS c")
        .groupBy("host").agg(sum("c").as("inflow"))
      r = nodes.join(contrib, Seq("host"), "left")
        .selectExpr("host", s"CAST($PrBase + coalesce(inflow, 0) AS BIGINT) AS r")
        .localCheckpoint()
    }
    nodes.join(broadcast(deg.withColumnRenamed("src", "host")), Seq("host"), "left")
      .join(r, "host")
      .selectExpr("host", "coalesce(outdeg, CAST(0 AS BIGINT)) AS outdeg", "r AS rank_q")
      .orderBy("host")
  }

  /** Per-source token budget (the quota twin of [[hostCap]], counting
    * TOKENS not documents — "cap each domain at N billion tokens" is how
    * real mixture specs are written): within each source, docs are
    * ranked best-quality-first ([[qualityExpr]], doc_id tiebreak) and
    * kept greedily while the running token total stays within budget.
    * Emitted as a total ledger (rank, cumulative tokens, kept) so the
    * budget's effect is auditable per document.
    *
    * 100 TB shape: map-side quality metrics, then ONE window
    * (sum + rank over PARTITION BY source) — a per-source spillable
    * sort, parallel across sources, same skew profile as [[hostCap]]
    * and the same bounded-heap upgrade path if one source dwarfs the
    * rest. The budget comparison is a map-side boolean on the running
    * sum; nothing corpus-sized joins or broadcasts.
    */
  val tokenBudget = QueryDef.sql(
    "llm_token_budget",
    s"""WITH m AS (SELECT doc_id, source,
       |    $qualityMetricsSql
       |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS tk FROM documents) d),
       |scored AS (SELECT doc_id, source, n_tokens, $qualityExpr AS quality FROM m),
       |ranked AS (SELECT doc_id, source, n_tokens, quality,
       |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS src_rank,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM scored)
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
       |  CAST(src_rank AS BIGINT) AS src_rank,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  cum_tokens <= $SourceTokenBudget AS kept
       |FROM ranked ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id") +: col("source") +: qualityMetricCols: _*)
      .withColumn("quality", expr(qualityExpr))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"),
        col("src_rank"), col("cum_tokens"),
        (col("cum_tokens") <= SourceTokenBudget).as("kept"))
      .orderBy("doc_id")
  }

  // ---- curation pipeline: composed keep/drop decision ----

  /** Drop-reason precedence — identical CASE text in both engines.
    * Benchmark members leave the training set first (they ARE the eval
    * set), then quality, then exact duplicates, then contamination.
    */
  private val curationReasonSql =
    s"""CASE WHEN doc_id % $BenchMod = 0 THEN 'benchmark'
       |     WHEN quality < 0.6 THEN 'low_quality'
       |     WHEN exact_dup THEN 'exact_dup'
       |     WHEN bench_hits > 0 THEN 'contaminated'
       |     ELSE 'kept' END""".stripMargin.replace("\n", "")

  /** The composed curation pipeline — what a user actually RUNS over a
    * crawl: quality scoring, exact dedup, eval-set decontamination and
    * benchmark exclusion chained into one keep/drop verdict per document
    * with the first failing check as the reason. Every signal is the
    * same computation as its standalone entry ([[qualityScore]],
    * [[exactDedup]], [[contamination]]); the pipeline is pure column
    * algebra over their joins, so Catalyst fuses the signal scans — the
    * corpus is read once per signal branch, never per rule.
    */
  val curation = QueryDef.sql(
    "llm_curation",
    s"""WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
       |${qualCteSql("docs")},
       |h AS (SELECT doc_id, md5(text) AS th FROM docs),
       |canon AS (SELECT th, min(doc_id) AS canonical_id FROM h GROUP BY th),
       |dup AS (SELECT doc_id, canonical_id <> doc_id AS exact_dup
       |        FROM h JOIN canon USING (th)),
       |$contamCtesSql,
       |flags AS (SELECT d.doc_id, q.quality, u.exact_dup,
       |    coalesce(t.bench_ngram_hits, 0) AS bench_hits
       |  FROM docs d JOIN qual q USING (doc_id) JOIN dup u USING (doc_id)
       |       LEFT JOIN hits t USING (doc_id))
       |SELECT doc_id, quality, $curationReasonSql AS reason,
       |       $curationReasonSql = 'kept' AS keep
       |FROM flags
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
    val h = docs.select(col("doc_id"), md5(col("text")).as("th"))
    val canon = h.groupBy("th").agg(min("doc_id").as("canonical_id"))
    val dup = h.join(canon, "th")
      .select(col("doc_id"), (col("canonical_id") =!= col("doc_id")).as("exact_dup"))
    docs.select("doc_id")
      .join(qualityOf(docs), "doc_id").join(dup, "doc_id")
      .join(benchHits(docs), Seq("doc_id"), "left")
      .withColumn("bench_hits", coalesce(col("bench_ngram_hits"), lit(0L)))
      .selectExpr("doc_id", "quality", s"$curationReasonSql AS reason",
        s"$curationReasonSql = 'kept' AS keep")
      .orderBy("doc_id")
  }

  // ---- sequence packing: concat-then-chunk assignment via prefix sums ----

  /** Training-sequence token budget. */
  private val PackCapacity = 512

  /** Block width of the two-level prefix sum (docs per block), derived
    * from the corpus count as ≈√N so BOTH levels stay balanced (round
    * 13, r12 verdict item 2: the previous fixed 64 was a fixture-pinned
    * constant — at 10⁹ docs the block-total table would have been a
    * ~15M-row single-partition window; √N keeps the within-block windows
    * AND the serial block-prefix at ~√N ≈ 31k rows each). The derivation
    * is one column-pruned count over the memoized documents table — the
    * same one-scalar-action-per-decision discipline as the Lloyd loop
    * and the CC convergence check. A corpus big enough to strain √N rows
    * through one partition (N ≈ 10¹⁸) would want a third level; two
    * levels cover every real corpus.
    */
  private def packBlockWidth(spark: SparkSession, dir: String): Long =
    math.max(1L, math.round(math.sqrt(
      documents(spark, dir).count().toDouble)))

  /** The two-level prefix sum over doc_id order: (blk, doc_id, n_tok,
    * wsum, bpre), where `bpre + wsum - n_tok` is a doc's global token
    * start offset.
    */
  private def packOffsets(spark: SparkSession, dir: String): DataFrame = {
    val blkW = packBlockWidth(spark, dir)
    val t = documents(spark, dir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok",
        s"doc_id div $blkW AS blk")
    val within = t.withColumn("wsum",
      sum("n_tok").over(Window.partitionBy("blk").orderBy("doc_id")))
    val blkPre = t.groupBy("blk").agg(sum("n_tok").as("btot"))
      .withColumn("bpre", // ~√N rows: the serial step stays corpus-balanced
        sum("btot").over(Window.orderBy("blk")) - col("btot"))
      .select("blk", "bpre")
    within.join(broadcast(blkPre), "blk")
  }

  /** Sequence packing (the pre-tokenization step that concatenates the
    * corpus in a canonical order and slices fixed-token training
    * sequences): each document gets its global token start offset and
    * the id of the sequence its first token lands in.
    *
    * 100 TB shape — a distributed SCAN, not a global window: the naive
    * `sum() OVER (ORDER BY doc_id)` forces every row through ONE
    * partition. Instead, the classic two-level prefix sum: cumulative
    * sums WITHIN doc-id blocks run fully parallel (window partitioned by
    * block), block totals hash-aggregate to ~√N rows
    * ([[packBlockWidth]]) whose own prefix — the only serial step — runs
    * over that corpus-balanced table and broadcasts back. The DuckDB
    * oracle keeps the single-window spelling; both are exact integer
    * arithmetic.
    */
  val seqPack = QueryDef.sql(
    "llm_seq_pack",
    s"""SELECT doc_id, n_tok,
       |  CAST(sum(n_tok) OVER (ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off,
       |  CAST((sum(n_tok) OVER (ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) - n_tok) // $PackCapacity AS BIGINT) AS seq_id
       |FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |      FROM documents) t
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    packOffsets(spark, dir)
      .selectExpr("doc_id", "n_tok", "bpre + wsum - n_tok AS start_off",
        s"(bpre + wsum - n_tok) div $PackCapacity AS seq_id")
      .orderBy("doc_id")
  }

  /** Packed-sequence span table — the boundary artifact a training
    * dataloader consumes to build block-diagonal attention masks:
    * [[seqPack]] assigns each doc its global offset; this entry explodes
    * every doc into its per-SEQUENCE spans (a doc whose token range
    * crosses a capacity boundary contributes one span to each sequence
    * it touches), emitting (seq_id, start_in_seq, span_len, is_head).
    * Tiling laws (pinned by CurationOpsSpec): spans partition every full
    * sequence exactly [0, capacity), and each doc's spans sum to its
    * token count.
    *
    * 100 TB shape: the offsets come from [[seqPack]]'s two-level prefix
    * sum (no global window); the span explode is map-side — a doc emits
    * 1 + floor(n_tok / capacity) rows, so output stays O(corpus tokens /
    * capacity + docs). Nothing additional shuffles.
    */
  val packSpans = QueryDef.sql(
    "llm_pack_spans",
    s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM documents),
       |o AS (SELECT doc_id, n_tok,
       |        CAST(sum(n_tok) OVER (ORDER BY doc_id
       |             ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
       |      FROM t),
       |sp AS (SELECT doc_id, n_tok, start_off,
       |         unnest(range(start_off // $PackCapacity,
       |                      (start_off + n_tok - 1) // $PackCapacity + 1)) AS seq_id
       |       FROM o)
       |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(GREATEST(start_off, seq_id * $PackCapacity) - seq_id * $PackCapacity AS BIGINT) AS start_in_seq,
       |  CAST(LEAST(start_off + n_tok, (seq_id + 1) * $PackCapacity)
       |       - GREATEST(start_off, seq_id * $PackCapacity) AS BIGINT) AS span_len,
       |  seq_id = start_off // $PackCapacity AS is_head
       |FROM sp ORDER BY doc_id, seq_id""".stripMargin
  ) { (spark, dir) =>
    packOffsets(spark, dir)
      .selectExpr("doc_id", "n_tok", "bpre + wsum - n_tok AS start_off")
      .selectExpr("doc_id", "n_tok", "start_off",
        s"explode(sequence(start_off div $PackCapacity, (start_off + n_tok - 1) div $PackCapacity)) AS seq_id")
      .selectExpr("doc_id", "CAST(seq_id AS BIGINT) AS seq_id",
        s"greatest(start_off, seq_id * $PackCapacity) - seq_id * $PackCapacity AS start_in_seq",
        s"least(start_off + n_tok, (seq_id + 1) * $PackCapacity) " +
          s"- greatest(start_off, seq_id * $PackCapacity) AS span_len",
        s"seq_id = start_off div $PackCapacity AS is_head")
      .orderBy("doc_id", "seq_id")
  }

  // ---- split assignment: deterministic hash-based train/val/test ----

  /** Deterministic split assignment (the op that keeps train/val/test
    * membership stable across pipeline re-runs): bucket = first md5
    * nibble of the doc id, split by bucket range 13/2/1 (~81/12/6%).
    * Pure map-side projection; content-keyed variants just swap the
    * hashed column.
    */
  /** ONE owner for the split rule (shared by [[splitAssign]] and
    * [[splitLeakage]]): bucket = first md5 nibble of doc_id; 13/2/1
    * bucket ranges → train/val/test. `strTy` is the dialect's string
    * type (VARCHAR in DuckDB, STRING in Spark).
    */
  private[queries] def splitBucketSql(strTy: String): String =
    s"instr('0123456789abcdef', substr(md5(CAST(doc_id AS $strTy)), 1, 1)) - 1"
  private[queries] val SplitCaseSql =
    "CASE WHEN bucket < 13 THEN 'train' WHEN bucket < 15 THEN 'val' ELSE 'test' END"

  val splitAssign = QueryDef.sql(
    "llm_split_assign",
    s"""SELECT doc_id, bucket, $SplitCaseSql AS split
       |FROM (SELECT doc_id, ${splitBucketSql("VARCHAR")} AS bucket
       |  FROM documents) b
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id", s"${splitBucketSql("STRING")} AS bucket")
      .selectExpr("doc_id", "CAST(bucket AS BIGINT) AS bucket",
        s"$SplitCaseSql AS split")
      .orderBy("doc_id")
  }

  // ---- context-window chunking ----

  /** Chunk geometry: 64-token windows advancing by 48 (16-token overlap,
    * the standard embedding/RAG prep so no boundary sentence is lost to
    * a split).
    */
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Context-window chunking (the embedding/retrieval prep step of a
    * training-data pipeline): split each document into fixed-size token
    * windows with overlap. `nchunks = 1 + ceil((n - C) / stride)` for
    * n > C — the last window may run short but every token is covered
    * and no window starts beyond the text (stride < C guarantees it).
    * All arithmetic is integer so both engines agree exactly.
    *
    * 100 TB shape: pure map-side explode (`sequence` over the chunk
    * index, `slice` per window) — zero shuffle, zero state; the ORDER BY
    * is presentation-only. Chunk multiplicity is bounded by ~n/stride,
    * so output size is linear in corpus tokens.
    */
  val chunkSplit = QueryDef.sql(
    "llm_chunk_split",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sized AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks),
       |nch AS (SELECT *, CASE WHEN n <= $ChunkSize THEN 1
       |                       ELSE 1 + (n - $ChunkSize + $ChunkStride - 1) // $ChunkStride
       |                  END AS nchunks
       |        FROM sized),
       |ch AS (SELECT doc_id, tk, n, unnest(range(0, nchunks)) AS ci FROM nch)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
       |  CAST(least($ChunkSize, n - ci * $ChunkStride) AS BIGINT) AS chunk_tokens,
       |  array_to_string(list_slice(tk, ci * $ChunkStride + 1, ci * $ChunkStride + $ChunkSize), ' ') AS chunk_text
       |FROM ch
       |ORDER BY doc_id, chunk_id""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("nchunks", when(col("n") <= ChunkSize, lit(1L))
        .otherwise(lit(1L) + expr(s"(n - $ChunkSize + $ChunkStride - 1) div $ChunkStride")))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(expr("sequence(0, nchunks - 1)")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_id"),
        least(lit(ChunkSize.toLong), col("n") - col("ci") * ChunkStride).as("chunk_tokens"),
        array_join(expr(s"slice(tk, ci * $ChunkStride + 1, $ChunkSize)"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---- data mixing: deterministic per-source sampling ----

  /** Per-source sampling rates (percent) — the mixture config a training
    * run would supply; pinned here so the oracle can mirror it as a
    * VALUES table. Four rate tiers cycled over the fixture's 20 sources.
    */
  private val MixRates: Seq[(String, Long)] =
    (0 until 20).map(n => (s"src$n", Seq(100L, 75L, 50L, 25L)(n % 4)))

  private val mixValuesSql: String =
    MixRates.map { case (s, r) => s"('$s', $r)" }.mkString(", ")

  /** 32-bit uniform from md5 — the same salted-hash recipe as
    * [[splitAssign]], wide enough that per-source rates resolve to
    * ~1e-8 granularity.
    */
  private def mixKeySql(castType: String): String =
    Text.hexPrefixIntSql(s"md5(concat('mix|', CAST(doc_id AS $castType)))", 8)

  /** Data mixing (the sampling-weights operator of a training-data
    * pipeline): each document is kept iff its deterministic 32-bit
    * uniform falls under its source's configured rate — reproducible
    * across runs/engines, no RNG state.
    *
    * 100 TB shape: one map-side md5 projection + a broadcast-hash join
    * against the tiny mixture-config table; no shuffle anywhere (the
    * ORDER BY is presentation-only). Changing the mixture re-runs only
    * this projection, never the upstream corpus.
    */
  val mixSample = QueryDef.sql(
    "llm_mix_sample",
    s"""SELECT doc_id, source, CAST(rate_pct AS BIGINT) AS rate_pct,
       |  ${mixKeySql("VARCHAR")} AS sample_key,
       |  ${mixKeySql("VARCHAR")} * 100 < rate_pct * ${1L << 32} AS kept
       |FROM documents
       |JOIN (VALUES $mixValuesSql) rates(source, rate_pct) USING (source)
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val rates = spark.sql(
      s"SELECT source, CAST(rate_pct AS BIGINT) AS rate_pct " +
        s"FROM VALUES $mixValuesSql AS rates(source, rate_pct)")
    documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("sample_key", expr(mixKeySql("STRING")))
      .select(col("doc_id"), col("source"), col("rate_pct"), col("sample_key"),
        (col("sample_key") * 100 < col("rate_pct") * (1L << 32)).as("kept"))
      .orderBy("doc_id")
  }

  // ---- Neyman allocation: variance-optimal stratified sampling ----

  /** Global sample budget: 1/[[NeymanBudgetDiv]] of the corpus. */
  private val NeymanBudgetDiv = 10L

  /** Variance-optimal stratified sampling (Neyman allocation) — the
    * statistical upgrade over [[mixSample]]'s FIXED per-source rates: the
    * global sample budget n = N div $NeymanBudgetDiv is split across
    * strata (sources) proportionally to N_h·S_h, so high-variance strata
    * get more of the budget — the estimator-variance-minimizing
    * allocation for corpus statistics (Neyman 1934). The metric carries
    * a deterministic per-source dispersion seam (`h mod (1 + src mod 5)
    * · 60` on top of the token count, where h is the doc's 60-bit md5 —
    * the fixture's sources are iid in length, so WITHOUT the seam every
    * stratum allocates identically and the operator proves nothing; the
    * HASH drives the seam because `doc_id mod m` is CONSTANT within a
    * source whenever m divides the fixture's 20-source round-robin
    * period. The derivation is the fixture, the allocation is the
    * operator). Exactness levers:
    * N_h·S_h = sqrt(N_h·Σx² − (Σx)²) over EXACT integer sums, floored
    * back to BIGINT immediately so the cross-strata weight total is an
    * exact integer sum (a double Σw would be addition-order-dependent);
    * the per-stratum quota is then one integer division, capped at N_h.
    * Selection is deterministic: the alloc_n docs with the smallest
    * 60-bit doc_id hashes per stratum.
    *
    * 100 TB shape: metric + hash are map-side; stratum moments are one
    * partial-aggregated hash agg (strata-cardinality result); the
    * allocation table is tiny and broadcast; selection is ONE per-source
    * rank window (spillable sort parallel across sources — the
    * [[hostCap]] shape and the same bounded-heap upgrade path, since
    * only ranks ≤ alloc_n matter). Caveat pinned here: N_h·Σx² must stay
    * under 2^63 — at 10^9-doc strata pre-scale x (bucket to x div 16)
    * before the moment pass.
    */
  val neymanSample = QueryDef.sql(
    "llm_neyman_sample",
    s"""WITH m0 AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len0,
       |    CAST(substr(source, 4) AS BIGINT) % 5 AS s5,
       |    ${Text.hexPrefixInt60Sql("md5(CAST(doc_id AS VARCHAR))")} AS h
       |  FROM documents),
       |m AS (SELECT doc_id, source,
       |    CAST(len0 + (h % (1 + s5)) * 60 AS BIGINT) AS x, h FROM m0),
       |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_h,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
       |       FROM m GROUP BY source),
       |w AS (SELECT source, n_h,
       |        CAST(floor(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS wgt
       |      FROM st),
       |tot AS (SELECT CAST(sum(wgt) AS BIGINT) AS wsum,
       |               CAST(sum(n_h) AS BIGINT) AS n_total FROM w),
       |alloc AS (SELECT source, n_h, wgt,
       |            least(((n_total // $NeymanBudgetDiv) * wgt) // wsum, n_h) AS alloc_n
       |          FROM w CROSS JOIN tot),
       |rk AS (SELECT doc_id, source, x,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS samp_rank
       |       FROM m)
       |SELECT r.doc_id, r.source, r.x, r.samp_rank, a.alloc_n,
       |  r.samp_rank <= a.alloc_n AS kept
       |FROM rk r JOIN alloc a USING (source)
       |ORDER BY r.doc_id""".stripMargin
  ) { (spark, dir) =>
    val m = documents(spark, dir)
      .selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS len0",
        "CAST(substr(source, 4) AS BIGINT) % 5 AS s5",
        s"${Text.hexPrefixInt60Sql("md5(CAST(doc_id AS STRING))")} AS h")
      .selectExpr("doc_id", "source",
        "CAST(len0 + (h % (1 + s5)) * 60 AS BIGINT) AS x", "h")
    val st = m.groupBy("source")
      .agg(count(lit(1)).as("n_h"), sum("x").as("sx"), sum(expr("x * x")).as("sxx"))
    val w = st.selectExpr("source", "n_h",
      "CAST(floor(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS wgt")
    val tot = w.agg(sum("wgt").as("wsum"), sum("n_h").as("n_total"))
    val alloc = w.crossJoin(broadcast(tot))
      .selectExpr("source", "n_h", "wgt",
        s"least(((n_total div $NeymanBudgetDiv) * wgt) div wsum, n_h) AS alloc_n")
    val rk = m.withColumn("samp_rank",
      rowNumber("source")(col("h"), col("doc_id")).cast("long"))
    rk.join(broadcast(alloc.select("source", "alloc_n")), "source")
      .select(col("doc_id"), col("source"), col("x"), col("samp_rank"),
        col("alloc_n"), (col("samp_rank") <= col("alloc_n")).as("kept"))
      .orderBy("doc_id")
  }

  // ---- multi-epoch expansion: repeat-factor manifest for mixtures ----

  /** Repeat-factor ceiling — no source repeats more than 4 epochs (the
    * published guidance that ~4 epochs of repeated data is where returns
    * collapse).
    */
  private val MaxEpochs = 4L

  /** Multi-epoch manifest expansion — the UPSAMPLING half of data
    * mixing ([[mixSample]] is the downsampling half): LANGUAGES below
    * token parity are repeated toward the largest (the low-resource
    * upsampling every multilingual training mix performs; the fixture's
    * en corpus is ~3× any other language, so repeat factors genuinely
    * spread — the per-SOURCE variant was near-degenerate, sources are
    * token-balanced). Each language's repeat factor is
    * r_h = min(⌈maxTok/langTok⌉, $MaxEpochs), and the manifest lists
    * every (doc, epoch) instance with a deterministic md5
    * training-shard assignment — the expansion a trainer's data loader
    * consumes. ⌈a/b⌉ is the integer `(a+b−1) div b` in both dialects.
    *
    * 100 TB shape: per-source token totals are one partial-aggregated
    * hash agg to a sources-cardinality table; the repeat table
    * broadcasts; the expansion is a map-side explode bounded by
    * $MaxEpochs×; shard assignment is a map-side hash. No window, no
    * corpus-keyed join, and the manifest is emitted — never the
    * repeated text itself (the loader re-reads each doc by id; shipping
    * repeated bytes would multiply the corpus).
    */
  val epochExpand = QueryDef.sql(
    "llm_epoch_expand",
    s"""WITH d AS (SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
       |st AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_tok FROM d GROUP BY lang),
       |mx AS (SELECT CAST(max(lang_tok) AS BIGINT) AS max_tok FROM st),
       |rep AS (SELECT lang, lang_tok,
       |          least((max_tok + lang_tok - 1) // lang_tok, $MaxEpochs) AS repeat_n
       |        FROM st CROSS JOIN mx),
       |ex AS (SELECT doc_id, d.lang, n_tok, repeat_n,
       |         unnest(range(1, repeat_n + 1)) AS epoch
       |       FROM d JOIN rep ON rep.lang = d.lang)
       |SELECT doc_id, lang, n_tok, repeat_n, epoch,
       |  ${Text.hexPrefixIntSql(
             "md5(concat(CAST(doc_id AS VARCHAR), '|', CAST(epoch AS VARCHAR)))", 8)} % 16 AS shard
       |FROM ex ORDER BY doc_id, epoch""".stripMargin
  ) { (spark, dir) =>
    val d = documents(spark, dir)
      .selectExpr("doc_id", "lang", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
    val st = d.groupBy("lang").agg(sum("n_tok").as("lang_tok"))
    val mx = st.agg(max("lang_tok").as("max_tok"))
    val rep = st.crossJoin(broadcast(mx))
      .selectExpr("lang", "lang_tok",
        s"least((max_tok + lang_tok - 1) div lang_tok, $MaxEpochs) AS repeat_n")
    d.join(broadcast(rep.select("lang", "repeat_n")), "lang")
      .selectExpr("doc_id", "lang", "n_tok", "repeat_n",
        "explode(sequence(1, CAST(repeat_n AS INT))) AS epoch0")
      .selectExpr("doc_id", "lang", "n_tok", "repeat_n",
        "CAST(epoch0 AS BIGINT) AS epoch",
        s"${Text.hexPrefixIntSql(
            "md5(concat(CAST(doc_id AS STRING), '|', CAST(epoch0 AS STRING)))", 8)} % 16 AS shard")
      .orderBy("doc_id", "epoch")
  }

  // ---- dataset card: per-source corpus summary ----

  /** Per-source dataset card (the datasheet/data-statement summary a
    * curation pipeline publishes with every corpus release): doc and
    * token counts, language spread, exact-duplicate count, and the mean
    * quality score — quality is floored to ppm PER DOCUMENT before
    * summing so the cross-engine aggregate is an exact integer sum (a
    * mean over raw doubles would be addition-order-dependent).
    *
    * 100 TB shape: one map-side metric projection + one hash aggregate
    * to a sources-cardinality table; the dup count rides the same agg
    * as `count(DISTINCT md5)` (Spark partial-aggregates distincts
    * per-source). Nothing corpus-sized survives the aggregate.
    */
  val datasetCard = QueryDef.sql(
    "llm_dataset_card",
    s"""SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(count(*) - count(DISTINCT content_md5) AS BIGINT) AS n_exact_dup,
       |  CAST(sum(q_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_quality_ppm
       |FROM (SELECT source, lang, md5(text) AS content_md5, n_tokens,
       |        CAST(floor(($qualityExpr) * 1000000) AS BIGINT) AS q_ppm
       |      FROM (SELECT source, lang, text,
       |              $qualityMetricsSql
       |            FROM (SELECT source, lang, text, string_split(text, ' ') AS tk
       |                  FROM documents) d) m) c
       |GROUP BY source ORDER BY source""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(Seq(col("source"), col("lang"), md5(col("text")).as("content_md5"))
        ++ qualityMetricCols: _*)
      .withColumn("q_ppm", expr(s"CAST(floor(($qualityExpr) * 1000000) AS BIGINT)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        (count(lit(1)) - countDistinct("content_md5")).as("n_exact_dup"),
        sum("q_ppm").as("sq"))
      .selectExpr("source", "n_docs", "n_tokens", "n_langs", "n_exact_dup",
        "sq div n_docs AS mean_quality_ppm")
      .orderBy("source")
  }

  // ---- corpus length statistics: exact quantiles via histogram ----

  /** Exact per-language token-length quantiles (p50/p90/p99) — the
    * corpus-statistics operator behind length filtering and packing
    * budgets — computed WITHOUT a global sort: the full-data stage is
    * one hash aggregate into a (lang × distinct-length) histogram, and
    * the cumulative windows + quantile selection run over that
    * compressed histogram only (bounded by the distinct-length count,
    * not the corpus) — the same two-level reduction as [[seqPack]].
    * Quantile convention: smallest length whose cumulative count
    * reaches ⌈p·n⌉ (type-1/disc), stated in integer arithmetic
    * (`cum·100 ≥ n·p`) so both engines agree bit-for-bit.
    */
  val lengthQuantiles = QueryDef.sql(
    "llm_length_quantiles",
    s"""WITH toks AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |             FROM documents),
       |hist AS (SELECT lang, n_tokens, CAST(count(*) AS BIGINT) AS cnt
       |         FROM toks GROUP BY lang, n_tokens),
       |cum AS (SELECT lang, n_tokens,
       |          sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
       |          sum(cnt) OVER (PARTITION BY lang) AS n_total
       |        FROM hist)
       |SELECT lang, CAST(max(cum) AS BIGINT) AS n_docs,
       |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |  CAST(min(CASE WHEN cum * 100 >= n_total * 50 THEN n_tokens END) AS BIGINT) AS p50_tokens,
       |  CAST(min(CASE WHEN cum * 100 >= n_total * 90 THEN n_tokens END) AS BIGINT) AS p90_tokens,
       |  CAST(min(CASE WHEN cum * 100 >= n_total * 99 THEN n_tokens END) AS BIGINT) AS p99_tokens,
       |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
       |FROM cum GROUP BY lang ORDER BY lang""".stripMargin
  ) { (spark, dir) =>
    val hist = documents(spark, dir)
      .selectExpr("lang", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy("lang")
    val cum = hist
      .withColumn("cum", sum("cnt").over(byLang.orderBy("n_tokens")))
      .withColumn("n_total", sum("cnt").over(byLang))
    def q(p: Int): org.apache.spark.sql.Column =
      min(when(col("cum") * 100 >= col("n_total") * p, col("n_tokens"))).as(s"p${p}_tokens")
    cum.groupBy("lang")
      .agg(max("cum").as("n_docs"), min("n_tokens").as("min_tokens"),
        q(50), q(90), q(99), max("n_tokens").as("max_tokens"))
      .orderBy("lang")
  }

  // ---- cardinality sketch: deterministic KMV distinct estimation ----

  /** KMV sketch size (k minimum hash values kept per group). */
  private val SketchK = 256

  /** Deterministic cardinality sketch (the corpus-stats pass a 100 TB
    * pipeline runs instead of exact COUNT(DISTINCT)): a KMV
    * (k-minimum-values) estimator — keep the [[SketchK]] smallest 60-bit
    * hashes per group; the k-th smallest pins the density, so
    * `est = (k−1)·2^60 / kth_min`. HLL is the usual tool, but its
    * register layouts differ across engines; KMV is the
    * cross-engine-EXACT sketch: both engines keep the same k hashes and
    * compute the same estimate bit-for-bit, so the estimator itself is
    * oracle-gated, error ledger included. Two grains per language —
    * tokens (vocab < k: the sketch degrades to exact, `est = k_used`)
    * and bigrams (vocab > k: the estimation path) — so both regimes are
    * exercised by the fixture.
    *
    * 100 TB shape: one explode → DISTINCT hash aggregate compacts the
    * corpus to its vocabulary (the only corpus-sized pass, map-side
    * partial-aggregated); the rank window then shuffles only the
    * per-group VOCAB stream, never corpus occurrences; the ledger is
    * |grains|·|langs| rows. Upgrade path when even the vocab shuffle is
    * too much: a bounded k-min-heap TypedImperativeAggregate (the
    * [[graft.expr.TopK]] buffer pattern) makes it one pass, mergeable
    * map-side like any production sketch — this ledger's oracle would
    * gate it unchanged.
    */
  val distinctSketch = QueryDef.sql(
    "llm_distinct_sketch", {
      s"""WITH toks AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
         |units AS (
         |  SELECT 'token' AS grain, lang, unnest(tk) AS u FROM toks
         |  UNION ALL
         |  SELECT 'bigram', lang, unnest(${Text.wordNgramsSql(2, distinct = false)}) FROM toks),
         |dh AS (SELECT DISTINCT grain, lang, ${Text.hexPrefixInt60Sql("md5(u)")} AS h FROM units),
         |ranked AS (SELECT grain, lang, h,
         |    row_number() OVER (PARTITION BY grain, lang ORDER BY h) AS r,
         |    count(*) OVER (PARTITION BY grain, lang) AS nx
         |  FROM dh),
         |kept AS (SELECT grain, lang, CAST(max(nx) AS BIGINT) AS n_exact,
         |    CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_min
         |  FROM ranked WHERE r <= $SketchK GROUP BY grain, lang),
         |est AS (SELECT grain, lang, n_exact, k_used, kth_min, $kmvEstSql AS est_distinct FROM kept)
         |SELECT grain, lang, n_exact, k_used, kth_min, est_distinct,
         |  ABS(est_distinct - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) * 1000000 AS err_ppm
         |FROM est ORDER BY grain, lang""".stripMargin
    }
  ) { (spark, dir) =>
    val toks = documents(spark, dir)
      .select(col("lang"), split(col("text"), " ").as("tk"))
    val units = toks.select(lit("token").as("grain"), col("lang"),
        explode(col("tk")).as("u"))
      .unionByName(toks.select(lit("bigram").as("grain"), col("lang"),
        explode(expr("word_ngrams(tk, 2, false)")).as("u")))
    val dh = units
      .select(col("grain"), col("lang"),
        expr("CAST(conv(substr(md5(u), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct()
    val wg = Window.partitionBy("grain", "lang")
    val kept = dh
      .withColumn("r", rowNumber("grain", "lang")(col("h")))
      .withColumn("nx", count(lit(1)).over(wg))
      .filter(col("r") <= SketchK)
      .groupBy("grain", "lang")
      .agg(max("nx").cast("long").as("n_exact"),
        count(lit(1)).as("k_used"), max("h").as("kth_min"))
    kept
      .withColumn("est_distinct", expr(kmvEstSql))
      .withColumn("err_ppm", expr(
        "ABS(est_distinct - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) * 1000000"))
      .orderBy("grain", "lang")
  }

  /** Shared KMV estimator text — identical arithmetic in both engines. */
  private def kmvEstSql =
    s"""CASE WHEN k_used < $SketchK THEN CAST(k_used AS DOUBLE)
       |    ELSE (CAST(${SketchK - 1} AS DOUBLE) * POW(2, 60)) / CAST(kth_min AS DOUBLE) END"""
      .stripMargin.replace("\n", "")

  /** ClickHouse `uniqState`/`uniqMerge` BY COMPOSITION (round 9 — the
    * combinator pattern of `qx_topk_state_merge` without any custom
    * aggregate, guide preference (a): compose built-ins when semantics
    * allow). KMV is order-invariant and its merge is LOSSLESS —
    * bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)) — so the state is
    * just a sorted array<bigint> column: each part (a source) persists
    * its per-lang bottom-[[SketchK]] distinct token hashes; query time
    * unions the states, re-takes the bottom-K and applies the
    * [[distinctSketch]] estimator. The oracle is the ONE-SHOT derivation
    * over the raw corpus — passing IS the merge-identity proof, which is
    * exactly what lets a 100 TB deployment keep per-day/per-shard uniq
    * states (K × 8 bytes each) and answer any cross-slice cardinality
    * from states alone. Each per-part window sorts only that part's
    * distinct hashes; the merge touches PARTS × K rows.
    */
  val uniqStateMerge = QueryDef.sql(
    "llm_uniq_state_merge",
    s"""WITH units AS (SELECT lang, unnest(string_split(text, ' ')) AS u FROM documents),
       |dh AS (SELECT DISTINCT lang, ${Text.hexPrefixInt60Sql("md5(u)")} AS h FROM units),
       |ranked AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r FROM dh),
       |kept AS (SELECT lang, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_min
       |  FROM ranked WHERE r <= $SketchK GROUP BY lang)
       |SELECT lang, k_used, kth_min, $kmvEstSql AS est_distinct
       |FROM kept ORDER BY lang""".stripMargin
  ) { (spark, dir) =>
    val states = graft.fixtures.SessionCache.scratchDir(
      s"uniq_states|${spark.sparkContext.applicationId}|$dir")
    val dh = documents(spark, dir)
      .select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("u"))
      .select(col("lang"), col("source"),
        expr("CAST(conv(substr(md5(u), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct()
    topK(dh, "r", SketchK)(rowNumber("lang", "source")(col("h")))
      .groupBy("lang", "source")
      .agg(sort_array(collect_list("h")).as("ks"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(states)
    // uniqMerge: union the persisted bottom-K sets, re-take the bottom-K
    topK(spark.read.parquet(states)
        .select(col("lang"), explode(col("ks")).as("h")).distinct(), "r", SketchK)(
        rowNumber("lang")(col("h")))
      .groupBy("lang")
      .agg(count(lit(1)).as("k_used"), max("h").as("kth_min"))
      .withColumn("est_distinct", expr(kmvEstSql))
      .orderBy("lang")
  }

  // ---- frequency sketch: deterministic count-min heavy hitters ----

  /** Count-min sketch geometry: depth (independent hash rows) × width
    * (buckets per row).
    */
  private val CmsDepth = 4
  private val CmsWidth = 256

  /** Heavy hitters kept in the ledger. */
  private val CmsTopK = 50

  /** Deterministic COUNT-MIN sketch with an oracle-gated error ledger —
    * the frequency twin of [[distinctSketch]]'s cardinality KMV: the
    * streaming-friendly "how often is this token seen" sketch a 100 TB
    * pipeline uses where exact per-key counts don't fit. Each of
    * [[CmsDepth]] md5-derived hash rows maps a token to one of
    * [[CmsWidth]] counters; a token's estimate is the MIN over its row
    * counters, an overestimate by exactly the colliding mass (the
    * ledger's `overcount` column is provably ≥ 0 — the oracle checks the
    * estimator itself, not just plumbing). Ledger = the top-[[CmsTopK]]
    * exact tokens, ties broken by token for determinism.
    *
    * 100 TB shape: ONE corpus-sized pass (explode → map-side-combined
    * token count); everything after is vocab-sized — the 4-row hash
    * expansion runs over DISTINCT tokens, the counter table is
    * depth×width = 2048 rows and BROADCAST to the top-k probe side, so
    * the sketch query adds zero extra shuffles over the count itself.
    * The exact count feeding the sketch here is the fixture-scale
    * derivation making the ledger exact-comparable; the production form
    * folds the same bucket sums directly from occurrence hashes. Grain
    * is word BIGRAMS (the unigram vocab is 31 — under one key per
    * bucket, every overcount would be 0 and the ledger would never
    * exercise the collision path; the ~960-key bigram vocab at width
    * 256 puts ~4 keys in every row bucket, the sketch's design regime).
    */
  val cmsSketch = QueryDef.sql(
    "llm_cms_sketch", {
      val h = Text.hexPrefixInt60Sql(
        "md5(concat(CAST(r AS VARCHAR), ':', tok))")
      s"""WITH tk0 AS (SELECT string_split(text, ' ') AS tk FROM documents),
         |toks AS (SELECT unnest(${Text.wordNgramsSql(2, distinct = false)}) AS tok FROM tk0),
         |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM toks GROUP BY tok),
         |hashed AS (SELECT tok, exact_cnt, r, $h % $CmsWidth AS bkt
         |  FROM cnt CROSS JOIN range(0, $CmsDepth) t(r)),
         |buckets AS (SELECT r, bkt, CAST(sum(exact_cnt) AS BIGINT) AS bkt_cnt
         |  FROM hashed GROUP BY r, bkt),
         |top AS (SELECT tok, exact_cnt FROM cnt
         |  ORDER BY exact_cnt DESC, tok LIMIT $CmsTopK),
         |toph AS (SELECT tok, exact_cnt, r, $h % $CmsWidth AS bkt
         |  FROM top CROSS JOIN range(0, $CmsDepth) t(r))
         |SELECT t.tok, t.exact_cnt, min(b.bkt_cnt) AS cms_cnt,
         |  min(b.bkt_cnt) - t.exact_cnt AS overcount
         |FROM toph t JOIN buckets b ON b.r = t.r AND b.bkt = t.bkt
         |GROUP BY t.tok, t.exact_cnt
         |ORDER BY exact_cnt DESC, tok""".stripMargin
    }
  ) { (spark, dir) =>
    val bktExpr = expr(
      s"""transform(sequence(0, ${CmsDepth - 1}), r -> named_struct(
         |  'r', CAST(r AS BIGINT),
         |  'bkt', CAST(conv(substr(md5(concat(CAST(r AS STRING), ':', tok)),
         |                   1, 15), 16, 10) AS BIGINT) % $CmsWidth))""".stripMargin)
    val cnt = documents(spark, dir)
      .select(split(col("text"), " ").as("tk"))
      .select(explode(expr("word_ngrams(tk, 2, false)")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    def expand(df: DataFrame) = df
      .select(col("tok"), col("exact_cnt"), explode(bktExpr).as("rb"))
      .select(col("tok"), col("exact_cnt"),
        col("rb.r").as("r"), col("rb.bkt").as("bkt"))
    val buckets = expand(cnt)
      .groupBy("r", "bkt").agg(sum("exact_cnt").as("bkt_cnt"))
    val top = cnt.orderBy(col("exact_cnt").desc, col("tok")).limit(CmsTopK)
    expand(top)
      .join(broadcast(buckets), Seq("r", "bkt"))
      .groupBy("tok", "exact_cnt").agg(min("bkt_cnt").as("cms_cnt"))
      .withColumn("overcount", col("cms_cnt") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  // ---- deterministic training-data shuffle + sharding ----

  /** Seed prefix for the shuffle hash — changing it re-deals the whole
    * corpus (epoch reshuffle = new seed, zero state).
    */
  private val ShuffleSeed = "graft-shuffle-42|"

  /** Output shard count. Tiny here; at 100 TB this is O(10^4–10^5)
    * output files and the math below is unchanged.
    */
  private val NumShards = 8

  /** Deterministic global shuffle (the pre-training "shuffle the corpus
    * and write S shards" step): every doc gets a pseudo-random but
    * reproducible position — shard = hash(seed, doc_id) mod S, position =
    * rank of the hash WITHIN the shard. Training readers stream shards in
    * position order and see a stable, seed-keyed permutation; no RNG
    * state, no coordination.
    *
    * 100 TB shape: the hash and shard assignment are map-side; the only
    * exchange is the ONE hash-partition by shard a sharded write needs
    * anyway, and each shard sorts independently (spillable, parallel
    * across shards). The trap this avoids is `row_number() OVER (ORDER BY
    * hash)` — a GLOBAL total order that funnels the corpus through one
    * partition; per-shard ranks give the same training-time semantics
    * (readers consume whole shards) at full parallelism.
    */
  val shuffleShard = QueryDef.sql(
    "llm_shuffle_shard", {
      val h = s"md5(concat('$ShuffleSeed', CAST(doc_id AS VARCHAR)))"
      s"""WITH keyed AS (SELECT doc_id, $h AS skey,
         |    (${Text.hexPrefixIntSql(h, 4)}) % $NumShards AS shard
         |  FROM documents)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
         |FROM keyed ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    val h = s"md5(concat('$ShuffleSeed', CAST(doc_id AS STRING)))"
    documents(spark, dir)
      .selectExpr("doc_id", s"$h AS skey",
        s"(${Text.hexPrefixIntSql(h, 4)}) % $NumShards AS shard")
      .withColumn("pos", rowNumber("shard")(col("skey"), col("doc_id")).cast("long"))
      .selectExpr("doc_id", "CAST(shard AS BIGINT) AS shard", "pos")
      .orderBy("doc_id")
  }

  /** CORPUS DRIFT MONITORING — the distribution-shift gate every
    * periodically-refreshed training corpus needs: per language, the
    * total-variation distance between the length-bucket distributions of
    * epoch A (the corpus as-is) and epoch B (the corpus after a
    * simulated pipeline change truncates every 5th document to its first
    * 30 words — the kind of silent filter regression drift detection
    * exists to catch). TV distance is chosen over KL/JS deliberately:
    * `TV = Σ|cntA·nB − cntB·nA| / (2·nA·nB)` is ONE integer sum
    * (associative — no float-summation order dependence between
    * engines) followed by a single exactly-rounded double division, so
    * the oracle hash-matches bit-for-bit where a log-based divergence
    * could not. Scale: two partial-aggregated counts (lang × 10 buckets
    * output), a bucket-grid full outer join, one final aggregate —
    * nothing row-sized crosses the shuffle after the first aggregation.
    */
  val corpusDrift = QueryDef.sql(
    "llm_corpus_drift", {
      val bucketA = "least(9, CAST(FLOOR(len(string_split(text, ' ')) / 50.0) AS INT))"
      val textB = "CASE WHEN doc_id % 5 = 0 " +
        "THEN array_to_string(list_slice(string_split(text, ' '), 1, 30), ' ') " +
        "ELSE text END"
      s"""WITH a AS (SELECT lang, $bucketA AS b, CAST(count(*) AS BIGINT) AS cnt
         |           FROM documents GROUP BY 1, 2),
         |bdocs AS (SELECT lang, $textB AS text FROM documents),
         |bb AS (SELECT lang, $bucketA AS b, CAST(count(*) AS BIGINT) AS cnt
         |       FROM bdocs GROUP BY 1, 2),
         |joined AS (
         |  SELECT coalesce(a.lang, bb.lang) AS lang,
         |    coalesce(a.cnt, 0) AS cnt_a, coalesce(bb.cnt, 0) AS cnt_b
         |  FROM a FULL OUTER JOIN bb ON a.lang = bb.lang AND a.b = bb.b),
         |tot AS (SELECT lang, CAST(sum(cnt_a) AS BIGINT) AS n_a,
         |          CAST(sum(cnt_b) AS BIGINT) AS n_b
         |        FROM joined GROUP BY lang),
         |x AS (SELECT j.lang AS lang,
         |        CAST(sum(ABS(j.cnt_a * t.n_b - j.cnt_b * t.n_a)) AS BIGINT) AS sum_abs
         |      FROM joined j JOIN tot t ON t.lang = j.lang GROUP BY j.lang)
         |SELECT t.lang AS lang, t.n_a AS n_a, t.n_b AS n_b,
         |  CAST(x.sum_abs AS DOUBLE) * 1000000 / (2.0 * t.n_a * t.n_b) AS tv_ppm
         |FROM tot t JOIN x ON x.lang = t.lang ORDER BY t.lang""".stripMargin
    }
  ) { (spark, dir) =>
    val bucketA = "least(9, CAST(FLOOR(size(split(text, ' ')) / 50.0) AS INT))"
    val docs = documents(spark, dir)
    val a = docs.selectExpr("lang", s"$bucketA AS b")
      .groupBy("lang", "b").agg(count(lit(1)).as("cnt_a"))
    val b = docs.selectExpr("lang",
      ("CASE WHEN doc_id % 5 = 0 " +
        "THEN array_join(slice(split(text, ' '), 1, 30), ' ') " +
        "ELSE text END AS text"))
      .selectExpr("lang", s"$bucketA AS b")
      .groupBy("lang", "b").agg(count(lit(1)).as("cnt_b"))
    val joined = a.join(b, Seq("lang", "b"), "full_outer")
      .select(col("lang"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val tot = joined.groupBy("lang")
      .agg(sum("cnt_a").as("n_a"), sum("cnt_b").as("n_b"))
    joined.join(broadcast(tot), "lang")
      .groupBy("lang")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(abs(col("cnt_a") * col("n_b") - col("cnt_b") * col("n_a"))).as("sum_abs"))
      .selectExpr("lang", "n_a", "n_b",
        "CAST(sum_abs AS DOUBLE) * 1000000 / (2.0 * n_a * n_b) AS tv_ppm")
      .orderBy("lang")
  }

  val all: Seq[QueryDef] = Seq(
    corpusDrift, textStats, qualityScore, piiScrub, repetition, contamination, urlHostStats,
    hostCap, tokenBudget, distinctSketch, uniqStateMerge, cmsSketch, seqPack, packSpans,
    splitAssign, curation, mixSample, lengthQuantiles, chunkSplit, shuffleShard, pagerankHosts,
    neymanSample, epochExpand, datasetCard)
}
