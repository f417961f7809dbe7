package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures.documents
import graft.llm.{Embed, Text}

/** Deduplication entries over the `documents` table: exact (document,
  * span, paragraph, content-defined chunk, canonical URL, snapshot hash),
  * near-dup (MinHash-LSH pairs and their incremental form, SimHash,
  * n-gram Jaccard, char-gram fingerprint), the Bloom pre-filter, and the
  * connected-component cluster entries built on the verified MinHash
  * pair stream. Each entry's DuckDB twin sits next to its builder.
  */
object DedupQueries {
  import QualityQueries.{qualCteSql, qualityOf, splitBucketSql, SplitCaseSql}

  /** Exact dedup: md5 content hash → canonical = min doc_id per hash.
    * Hash-groupBy + hash-join back; no window/sort (the 100 TB shape).
    */
  val exactDedup = QueryDef.sql(
    "llm_exact_dedup",
    """SELECT doc_id, text_hash, canonical_id, doc_id != canonical_id AS is_dup FROM (
      |  SELECT doc_id, md5(text) AS text_hash,
      |         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      |  FROM documents) d
      |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val h = documents(spark, dir).select(col("doc_id"), md5(col("text")).as("text_hash"))
    val canon = h.groupBy("text_hash").agg(min("doc_id").as("canonical_id"))
    h.join(canon, "text_hash")
      .select(col("doc_id"), col("text_hash"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  // ---- MinHash-LSH near-dup: 12 hashes, 6 bands × 2 rows, verify ≥ 0.5 ----

  private val NumHashes = 12
  private val NumBands = 6
  private val JaccardThreshold = 0.5

  /** Band-bucket size cap (round 7 — the 10× ScaleProbe caught the band
    * self-join going quadratic: candidate pairs 89k at sf0.1 → 8.1M at
    * 10× the docs, a 91× growth, with buckets over this cap carrying 74%
    * of them). A bucket of B docs contributes B(B−1)/2 candidate pairs,
    * so bucket size is to LSH what document frequency is to the inverted
    * index — and this is the same cut as [[DfCutoff]], applied to band
    * buckets: buckets larger than the cap are dropped from candidate
    * generation. An oversized bucket means the banding has stopped
    * discriminating there — on this fixture because the tiny synthetic
    * vocabulary gives RANDOM doc pairs ~0.17 background Jaccard (measured
    * candidate precision: 256 verified of 64k candidates at sf0.1 —
    * 0.4%); on a real corpus because of a mass-duplicated boilerplate
    * cluster, which is [[exactDedup]]'s job (identical text) upstream and
    * shows up at every band simultaneously. Chosen above the max bucket
    * size at both correctness SFs (no behavior change where the oracle
    * gates: 808/808 candidates at sf0.01) and measured at sf0.1 to lose
    * ZERO verified pairs (256/256) while cutting sf1 candidates 8.1M →
    * 2.1M (339 → 338 verified). Applied identically in the DuckDB twins.
    */
  private val LshBucketCap = 64

  /** DuckDB CTE chain ending in `pairs` (doc_a < doc_b, exact jaccard ≥
    * threshold) — shared by the pair entry and [[dedupClusters]]. Bucket
    * sizes are computed and oversized buckets dropped ([[LshBucketCap]])
    * exactly as the Spark side does.
    */
  private def minhashPairsCtes: String =
    s"""$minhashBandsCtesSql,
       |bsz AS (SELECT band, bkey, count(*) AS c FROM bands GROUP BY band, bkey),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |         JOIN bsz ON bsz.band = x.band AND bsz.bkey = x.bkey
       |         WHERE bsz.c <= $LshBucketCap),
       |pairs AS (${verifiedJaccardSql("doc_a", "doc_b")})""".stripMargin

  /** DuckDB twin of [[minhashSigs]]: CTEs `toks` … `bands(doc_id, band,
    * bkey)`, with each doc's shingle set in `sh`.
    */
  private def minhashBandsCtesSql: String = {
    val bandsSql = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(concat(mh${2 * b}, mh${2 * b + 1})) AS bkey FROM mh")
      .mkString("\nUNION ALL\n")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (SELECT doc_id, ${Text.bigramsSql} AS shset FROM toks),
       |shx AS (SELECT doc_id, unnest(shset) AS sh FROM sh),
       |mh AS (SELECT doc_id, ${Text.minhashAggsSql(NumHashes).mkString(",\n  ")}
       |       FROM shx GROUP BY doc_id),
       |bands AS ($bandsSql)""".stripMargin
  }

  /** DuckDB twin of [[verifiedJaccard]] over CTE `cand(a, b)` and the
    * shingle sets `sh`.
    */
  private def verifiedJaccardSql(a: String, b: String): String =
    s"""SELECT $a, $b, jaccard FROM (
       |  SELECT $a, $b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = cand.$a
       |            JOIN sh b ON b.doc_id = cand.$b) v
       |WHERE jaccard >= $JaccardThreshold""".stripMargin

  /** MinHash signatures of the documents' word-bigram shingle sets, as
    * (bands, isets, release):
    *   - `bands` (doc_id, band, bkey): [[NumBands]] band keys per doc, over
    *     the cached signature table `mh`;
    *   - `isets` (doc_id, iset, sz): each doc's shingles as 60-bit md5
    *     prefix ids, cached — the [[verifiedJaccard]] input;
    *   - `release` unpersists both caches.
    * Spark keys a cache by plan, so every entry that builds these frames
    * ([[minhashLsh]], [[incrementalNearDup]], the first build of the pair
    * parquet) shares one copy of each: the first `.cache()` fills it and a
    * later one only logs "Asked to cache already cached data". Only
    * [[minhashPairsMaterialized]] calls `release`; otherwise the copies
    * live until [[graft.fixtures.Fixtures.clearDerivedCache]] drops every
    * cached plan.
    */
  private def minhashSigs(spark: SparkSession, dir: String): (DataFrame, DataFrame, () => Unit) = {
    // shx feeds three consumers (dictionary, signatures, verify sets) but
    // is NOT cached: the two CACHED artifacts (`mh`, `isets`) sit just
    // downstream, so each derivation runs once per cache fill and warm
    // runs never recompute it — caching the occurrence stream itself
    // would hold corpus×shingles rows for no steady-state gain.
    val shx = documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(Text.bigramsExpr)).as("sh"))
    // dictionary-hash: md5 each DISTINCT shingle once and broadcast-join
    // back, instead of 12 md5s per occurrence (shingle dictionaries are
    // orders of magnitude smaller than occurrence streams; fall back to
    // inline hashing when the dictionary outgrows broadcast)
    val shDim = shx.select(col("sh")).distinct()
      .select(col("sh") +: (0 until NumHashes)
        .map(i => md5(concat(lit(s"$i|"), col("sh"))).as(s"h$i")): _*)
    // signature table: tiny (docs × 12 hex strings) → cache so the band
    // self-join below doesn't recompute the whole shingle pipeline twice
    val mh = shx.join(broadcast(shDim), "sh").groupBy("doc_id")
      .agg(min(col("h0")).as("mh0"),
        (1 until NumHashes).map(i => min(col(s"h$i")).as(s"mh$i")): _*)
      .cache()
    val bandCols = (0 until NumBands).map(b => struct(lit(b).as("band"),
      md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("bkey")))
    val bands = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // verify on INTEGER shingle-id sets (60-bit md5 prefix): int-array
    // intersects are far cheaper than string sets, and the arrays shuffled
    // to the candidate join are 4× smaller; |A∪B| = |A|+|B|-|A∩B|
    val isets = shx
      .withColumn("shid", expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(collect_list(col("shid")).as("iset"), count(lit(1)).as("sz"))
      .cache()
    (bands, isets, () => { mh.unpersist(); isets.unpersist(); () })
  }

  /** Candidate pairs `cand` (a, b) verified by exact Jaccard over `isets`:
    * (a, b, jaccard) with jaccard ≥ [[JaccardThreshold]].
    */
  private def verifiedJaccard(cand: DataFrame, isets: DataFrame, a: String, b: String): DataFrame =
    cand
      .join(isets.select(col("doc_id").as(a), col("iset").as("sa"), col("sz").as("za")), a)
      .join(isets.select(col("doc_id").as(b), col("iset").as("sb"), col("sz").as("zb")), b)
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", expr("CAST(i AS DOUBLE) / (za + zb - i)"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col(a), col(b), col("jaccard"))

  /** Spark side of the verified near-dup pair stream (no output order) —
    * shared by [[minhashLsh]] and, through [[minhashPairsMaterialized]],
    * the three connected-component consumers. Returns the pair frame PLUS
    * a release handle for the two internal caches (the minhash signature
    * table and the int shingle-set table) so a consumer that materializes
    * the pairs elsewhere can free them instead of holding their blocks
    * for the rest of the session.
    */
  private def minhashPairsBuild(spark: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val (bands, isets, release) = minhashSigs(spark, dir)
    // bucket aggregation instead of a band SELF-JOIN (round 7): collect
    // each bucket's members under the [[LshBucketCap]] hard buffer
    // (over-cap buckets evaluate NULL and the paired count discards them
    // — the graft_capped_longs contract) and emit candidate pairs
    // MAP-SIDE from each sorted member list, the same fused shape as
    // [[ngramJaccard]]'s posting lists. Kills both scale hazards the 10×
    // probe measured: the self-join's quadratic growth on oversized
    // buckets, and a second shuffle of the full band table.
    val cand = sortedPairs(cappedBuckets(bands, LshBucketCap, "band", "bkey"))
    (verifiedJaccard(cand, isets, "doc_a", "doc_b"), release)
  }

  /** The buckets of `keyed` (doc_id plus the `by` columns) that hold at
    * most `cap` docs, as (by…, raw, c): members are collected under a hard
    * `cap + 1` buffer (graft_capped_longs), so an over-cap bucket costs
    * `cap + 1` slots and the count drops it.
    */
  private def cappedBuckets(keyed: DataFrame, cap: Int, by: String*): DataFrame =
    keyed.groupBy(by.map(col): _*)
      .agg(expr(s"graft_capped_longs(doc_id, ${cap + 1})").as("raw"),
        count(lit(1)).as("c"))
      .filter(col("c") <= cap)

  /** Every ordered pair (x before y) of a sorted array column `docs`, as
    * structs (a, b) — generated map-side, no self-join.
    */
  private val PairsOfSorted =
    "flatten(transform(docs, (x, i) -> transform(slice(docs, i + 2, size(docs)), y -> named_struct('a', x, 'b', y))))"

  /** The distinct candidate pairs (doc_a < doc_b) of [[cappedBuckets]]. */
  private def sortedPairs(buckets: DataFrame): DataFrame =
    buckets.select(sort_array(col("raw")).as("docs"))
      .select(explode(expr(PairsOfSorted)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b")).distinct()

  /** [[minhashPairsBuild]] without the release handle — the shape the
    * direct pair entry ([[minhashLsh]]) consumes.
    */
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsBuild(spark, dir)._1

  /** The verified pair stream MATERIALIZED once per (application, input
    * dir) as scratch parquet — the input the three connected-component
    * consumers ([[dedupClusters]], [[splitLeakage]], [[clusterBest]])
    * share (round 13, r12 verdict item 4): after the r11 cache-hygiene
    * fix those entries unpersist the pair cache at the end of every run,
    * so each warm rep paid a full LSH-pipeline rebuild (~0.6 s each). The
    * memo moves the rebuild to the FIRST run (an application-lifetime
    * [[graft.fixtures.SessionCache.scratch]] entry); later reps re-read
    * |pairs| parquet rows. The build's internal caches are released right
    * after the write, so nothing stays resident across bench keys.
    */
  private def minhashPairsMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.fixtures.SessionCache.scratch(
      s"llm_pairs|${spark.sparkContext.applicationId}|$dir") { out =>
      val (pairs, release) = minhashPairsBuild(spark, dir)
      pairs.write.mode("overwrite").parquet(s"$out/pairs")
      release()
    }
    spark.read.parquet(s"$out/pairs")
  }

  /** Banded MinHash-LSH near-duplicate pairs over word-bigram shingles.
    * Candidates come ONLY from band buckets (never an all-pairs product)
    * — generated map-side from capped bucket member lists
    * ([[LshBucketCap]]), not a band self-join — and survivors are
    * verified with exact set Jaccard.
    */
  val minhashLsh = QueryDef.sql(
    "llm_minhash_lsh",
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin
  ) { (spark, dir) => minhashPairs(spark, dir).orderBy("doc_a", "doc_b") }

  /** Every 5th doc_id plays the INCOMING batch; the rest are the frozen,
    * already-indexed corpus.
    */
  private val IncrementalMod = 5

  /** Incremental near-dup (round 6): dedup a NEW batch against an
    * EXISTING corpus — the shape every growing training set actually
    * runs (dedup tonight's crawl against everything already kept),
    * which the symmetric [[minhashLsh]] pair stream does not cover.
    *
    * 100 TB shape: the seen corpus's band table is the FROZEN index (in
    * production it is precomputed once and appended to — here both sides
    * derive from one shared signature pipeline); the new batch's bands
    * are tiny and BROADCAST, so candidate generation is one scan of the
    * index with zero corpus shuffle, and only candidates (bounded by
    * band collisions) reach the exact-Jaccard verification join.
    *
    * Bucket-size note (round 7): a hot index bucket of B docs yields
    * B × (batch docs in that bucket) candidates. That is "linear in the
    * batch" only while the batch is small and buckets are bounded; this
    * entry's batch is a FIXED FRACTION of the corpus (every 5th doc),
    * so uncapped buckets make candidate volume quadratic in N — the
    * same degeneracy the symmetric entry measured. The frozen index is
    * therefore built WITH the [[LshBucketCap]] cut (production shape: a
    * band index stores capped member lists per bucket; an over-cap
    * bucket means the banding stopped discriminating there), via the
    * same `graft_capped_longs` aggregation — and candidate generation
    * becomes bucket-granular: broadcast batch bands join the compacted
    * index, and only MATCHING buckets' member lists explode.
    */
  val incrementalNearDup = QueryDef.sql(
    "llm_incremental_neardup",
    s"""WITH $minhashBandsCtesSql,
       |bsz AS (SELECT band, bkey, count(*) AS c FROM bands
       |        WHERE doc_id % $IncrementalMod <> 0 GROUP BY band, bkey),
       |cand AS (SELECT DISTINCT n.doc_id AS new_doc, s.doc_id AS dup_of
       |         FROM bands n JOIN bands s
       |           ON n.band = s.band AND n.bkey = s.bkey
       |         JOIN bsz ON bsz.band = s.band AND bsz.bkey = s.bkey
       |           AND bsz.c <= $LshBucketCap
       |         WHERE n.doc_id % $IncrementalMod = 0
       |           AND s.doc_id % $IncrementalMod <> 0)
       |${verifiedJaccardSql("new_doc", "dup_of")}
       |ORDER BY new_doc, dup_of""".stripMargin
  ) { (spark, dir) =>
    val isBatch = pmod(col("doc_id"), lit(IncrementalMod)) === 0
    val (bands, isets, _) = minhashSigs(spark, dir)
    // the frozen index: per-(band, bkey) CAPPED member lists — one hash
    // aggregate over the seen side, over-cap (degenerate) buckets cut
    // exactly as the symmetric entry cuts them. The new batch's bands
    // broadcast and join at BUCKET granularity; only matching buckets'
    // member lists explode, so candidate volume is bounded by
    // cap × |matching buckets| instead of bucket² mass.
    val cand = cappedBuckets(bands.filter(!isBatch), LshBucketCap, "band", "bkey")
      .join(broadcast(bands.filter(isBatch)), Seq("band", "bkey"))
      .select(col("doc_id").as("new_doc"), explode(col("raw")).as("dup_of"))
      .distinct()
    verifiedJaccard(cand, isets, "new_doc", "dup_of").orderBy("new_doc", "dup_of")
  }

  /** Document-frequency cutoff for the Jaccard inverted index: shingles
    * appearing in more than this many documents of a source are dropped
    * from the index AND from set sizes (Jaccard is then computed over the
    * pruned shingle space, consistently on both sides of the estimate).
    * Chosen above the fixture's max df (33 at sf0.1), so results here are
    * byte-identical to the uncut form — the cut exists for the 100 TB
    * shape, where it matters twice: (a) a df-D shingle contributes D²/2
    * rows to the index self-join, so stopword bigrams ("of the": df ~
    * corpus size) dominate the join quadratically while contributing
    * nothing to near-dup discrimination; (b) those same rows all hash to
    * ONE (source, shid) posting list — the definition of skew. The cut is
    * a count-only pre-aggregation (hash, partial-aggregated) feeding a
    * tiny broadcast anti-join, applied BEFORE posting lists are
    * collected — so neither the hot pair explosion nor the hot posting
    * list itself is ever materialized.
    */
  private val DfCutoff = 64

  /** Exact n-gram Jaccard, blocked by `source` (bounded blocks → bounded
    * pairs; the un-blocked form of this is exactly what LSH above avoids),
    * with the [[DfCutoff]] hot-shingle cut.
    */
  val ngramJaccard = QueryDef.sql(
    "llm_ngram_jaccard",
    // independent formulation for the oracle: pairwise set intersection
    // over the df-pruned shingle sets (the Spark side never materializes
    // per-pair sets)
    s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
       |sh AS (SELECT doc_id, source, ${Text.bigramsSql} AS shset FROM toks),
       |shx AS (SELECT doc_id, source, unnest(shset) AS sh FROM sh),
       |hot AS (SELECT source, sh FROM (
       |    SELECT source, sh, count(*) AS df FROM shx GROUP BY source, sh) h
       |  WHERE df > $DfCutoff),
       |pr AS (SELECT shx.doc_id, shx.source, list(shx.sh) AS shset
       |       FROM shx
       |       WHERE NOT EXISTS (SELECT 1 FROM hot
       |                         WHERE hot.source = shx.source AND hot.sh = shx.sh)
       |       GROUP BY shx.doc_id, shx.source)
       |SELECT doc_a, doc_b, source, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.source AS source,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))) AS jaccard
       |  FROM pr a JOIN pr b ON a.source = b.source AND a.doc_id < b.doc_id) v
       |WHERE jaccard >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin
  ) { (spark, dir) =>
    // POSTING-LIST formulation, fused (round-6 reclaim of the round-3
    // verdict item): ONE aggregation pass over the occurrence stream
    // builds the df count AND the posting list together —
    // `graft_capped_longs(doc_id, D+1)` ([[graft.expr.CappedLongs]]) holds
    // a HARD O(D) buffer per shingle, so a stopword shingle costs D+1
    // slots instead of a corpus-sized collect_list row, and the
    // `df <= D` filter that used to need a separate count-only pass plus
    // a broadcast anti-join now falls out of the same aggregate (the cap
    // can only truncate lists the filter discards). The occurrence
    // stream (parquet scan → shingle explode → md5) is derived ONCE
    // instead of twice, and the cache is the vocabulary-sized aggregate.
    // Candidate pairs are then generated map-side from each sorted list
    // (sorted list → ordered pairs) — no index self-join; per-doc pruned
    // sizes re-aggregate the exploded cold postings from the same cache.
    // The pair stream partial-aggregates before the one remaining
    // exchange on (doc_a, source, doc_b). Pair volume stays
    // sum_cold d*(d-1)/2, quadratic-safe by the df-cut.
    val shxi = documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), col("source"), explode(expr(Text.bigramsExpr)).as("sh"))
      .withColumn("shid", expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)"))
      .select(col("doc_id"), col("source"), col("shid"))
    val cold = shxi.groupBy("source", "shid")
      .agg(expr(s"graft_capped_longs(doc_id, ${DfCutoff + 1})").as("raw"),
        count(lit(1)).as("df"))
      .filter(col("df") <= DfCutoff) // complete lists only — cut AND cap
      .select(col("source"), sort_array(col("raw")).as("docs"))
      .cache()
    val sizes = cold.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = cold
      .select(col("source"), explode(expr(PairsOfSorted)).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("source"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    common
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("sz").as("za"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("sz").as("zb"))), "doc_b")
      .withColumn("jaccard", expr("CAST(i AS DOUBLE) / (za + zb - i)"))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("source"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB CTE chain ending in `sigs(doc_id, sig)` — the 16-bit SimHash
    * signature pipeline, shared by [[simhash]] and [[simhashNearDup]].
    */
  private val simhashSigsCtes: String = {
    val balances = Text.simhashBalanceSql(16, (c, i) => s"($c >> $i)")
    s"""tokh AS (SELECT doc_id, ${Text.tokenHash16Sql} AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |        FROM documents) u),
       |sums AS (SELECT doc_id, ${balances.mkString(",\n  ")} FROM tokh GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST(${Text.simhashAssembleSql(16)} AS BIGINT) AS sig
       |         FROM sums)""".stripMargin
  }

  /** Spark side of the signature pipeline: (doc_id, sig). */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    val tokh = documents(spark, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(col("tk"))).as("t"))
      .withColumn("h", expr(Text.tokenHash16Sql))
    val balances = Text.simhashBalanceSql(16, (c, i) => s"shiftright($c, $i)").map(expr)
    tokh.groupBy("doc_id").agg(balances.head, balances.tail: _*)
      .select(col("doc_id"),
        expr(s"CAST(${Text.simhashAssembleSql(16)} AS BIGINT)").as("sig"))
  }

  /** 16-bit SimHash over distinct tokens (md5-derived bit votes). */
  val simhash = QueryDef.sql(
    "llm_simhash",
    s"""WITH $simhashSigsCtes
       |SELECT doc_id, sig AS simhash FROM sigs ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    simhashSigs(spark, dir)
      .select(col("doc_id"), col("sig").as("simhash"))
      .orderBy("doc_id")
  }

  /** Hamming radius for [[simhashNearDup]] and its pigeonhole block
    * design: with the signature split into 4 bands, ≤
    * [[SimhashMaxHamming]] flipped bits can touch at most 2 bands, so
    * every true pair agrees on at least one of the C(4,2)=6 band PAIRS —
    * blocking on band pairs finds all of them with equi-joins only.
    */
  private val SimhashMaxHamming = 2

  /** Oversized-block cap — same role and value as [[LshBucketCap]]. */
  private val SimhashBlockCap = 64

  /** Structural maximum signature width: balances are always computed at
    * 60 bits (15 md5 hex digits — the [[Text.hexPrefixIntSql]] BIGINT
    * ceiling); the corpus-adaptive width is applied by MASKING, never by
    * changing the expression structure (the [[graft.llm.Embed
    * .adaptiveBits]] pattern, which keeps the static SQL oracle able to
    * express a data-dependent width).
    */
  private val SimhashMaxW = 60

  /** Expected block occupancy the adaptive width maintains. */
  private val SimhashTargetBlock = 16

  /** Corpus-adaptive band width in bits (signature width = 4·b): the
    * first 10× scale probe measured the fixed 16-bit variant returning
    * ZERO pairs at 500k docs — with only 2^8 block keys per band pair,
    * every block outgrew the cap and was dropped; no cap value fixes a
    * signature whose key space is constant while the corpus grows. b
    * solves `n / 2^(2b) ≤ target` (floor+correct log2 so both engines
    * land on the exact integer), clamped to [4, 15] — 16-bit behavior at
    * fixture scale, 32-bit at 500k docs, 60-bit ceiling.
    */
  private def simhashBandBits(n: Long): Int = {
    val q = math.max(1L, (n + SimhashTargetBlock - 1) / SimhashTargetBlock)
    val f = math.floor(math.log(q.toDouble) / math.log(2.0)).toInt
    val c = if (math.pow(2.0, f) < q.toDouble) f + 1 else f
    math.min(SimhashMaxW / 4, math.max(4, (c + 1) / 2))
  }

  /** SimHash near-dup pairs (completes the SimHash pillar: [[simhash]]
    * emits the reference 16-bit fingerprint, this finds duplicates at a
    * corpus-adaptive width): all pairs within Hamming distance
    * [[SimhashMaxHamming]] of each other on the masked signature, found
    * via band-pair pigeonhole blocking — NEVER an all-pairs product —
    * and verified with an exact `bit_count(xor)` popcount. Width
    * adaptivity is the load-bearing scale design (see
    * [[simhashBandBits]]): a FIXED short signature cannot be blocked at
    * scale because its key space is constant while the corpus grows —
    * the same reason production SimHash is 64-bit.
    *
    * 100 TB shape: the 60-bit balance table is one hash aggregate
    * (fixed structure at any width); blocking is a 6-way map-side key
    * explode + the [[minhashLsh]] capped-collect aggregate (oversized
    * blocks dropped under [[SimhashBlockCap]], identically in the
    * oracle) + map-side pair generation; verification joins the
    * fixed-width sig table twice on doc id. No self-join, no cartesian;
    * every intermediate is bounded by blocks × cap², and block
    * occupancy is held ≈ [[SimhashTargetBlock]] at every corpus size by
    * the width rule.
    */
  val simhashNearDup = QueryDef.sql(
    "llm_simhash_neardup", {
      val balances = Text.simhashBalanceSql(SimhashMaxW, (c, i) => s"($c >> $i)")
      val bpValues = Seq((0, 0, 1), (1, 0, 2), (2, 0, 3), (3, 1, 2), (4, 1, 3), (5, 2, 3))
        .map { case (p, i, j) => s"($p, $i, $j)" }.mkString(", ")
      s"""WITH tokh AS (SELECT doc_id, ${Text.hexPrefixIntSql("md5(t)", 15)} AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
         |        FROM documents) u),
         |sums AS (SELECT doc_id, ${balances.mkString(",\n  ")} FROM tokh GROUP BY doc_id),
         |params AS (
         |  SELECT LEAST(${SimhashMaxW / 4}, GREATEST(4, (c + 1) // 2)) AS b
         |  FROM (SELECT CAST(FLOOR(LOG2(q)) AS INT) +
         |          (CASE WHEN POW(2, CAST(FLOOR(LOG2(q)) AS INT)) < q THEN 1 ELSE 0 END) AS c
         |        FROM (SELECT GREATEST(1, CAST(FLOOR((COUNT(*) + ${SimhashTargetBlock - 1})
         |                / $SimhashTargetBlock.0) AS BIGINT)) AS q
         |              FROM documents) t0) t1),
         |sigs AS (SELECT doc_id,
         |    CAST(${Text.simhashAssembleSql(SimhashMaxW)} AS BIGINT)
         |      % CAST(POW(2, 4 * b) AS BIGINT) AS sig
         |  FROM sums CROSS JOIN params),
         |bp(pid, bi, bj) AS (VALUES $bpValues),
         |keys AS (SELECT doc_id, pid,
         |    ((sig // CAST(POW(2, bi * b) AS BIGINT)) % CAST(POW(2, b) AS BIGINT))
         |      * CAST(POW(2, b) AS BIGINT)
         |    + ((sig // CAST(POW(2, bj * b) AS BIGINT)) % CAST(POW(2, b) AS BIGINT)) AS kv
         |  FROM sigs CROSS JOIN bp CROSS JOIN params),
         |bsz AS (SELECT pid, kv, count(*) AS c FROM keys GROUP BY pid, kv),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM keys x JOIN keys y
         |           ON x.pid = y.pid AND x.kv = y.kv AND x.doc_id < y.doc_id
         |         JOIN bsz ON bsz.pid = x.pid AND bsz.kv = x.kv
         |         WHERE bsz.c <= $SimhashBlockCap)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM cand JOIN sigs a ON a.doc_id = cand.doc_a
         |          JOIN sigs b ON b.doc_id = cand.doc_b
         |WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin
    }
  ) { (spark, dir) =>
    val docs = documents(spark, dir)
    // corpus-derived width; the count is a scalar action (the
    // adaptiveBits/chooseK precedent)
    val b = simhashBandBits(docs.count())
    val bandDiv = (k: Int) => 1L << (b * k)
    val bandMod = 1L << b
    val tokh = docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(col("tk"))).as("t"))
      .withColumn("h", expr(Text.hexPrefixIntSql("md5(t)", 15)))
    val balances = Text.simhashBalanceSql(SimhashMaxW,
      (c, i) => s"shiftright($c, $i)").map(expr)
    val sigs = tokh.groupBy("doc_id").agg(balances.head, balances.tail: _*)
      .select(col("doc_id"),
        (expr(s"CAST(${Text.simhashAssembleSql(SimhashMaxW)} AS BIGINT)")
          % lit(1L << (4 * b))).as("sig"))
      .cache()
    val bp = Seq((0, 0, 1), (1, 0, 2), (2, 0, 3), (3, 1, 2), (4, 1, 3), (5, 2, 3))
      .map { case (p, i, j) =>
        spark.range(1).select(lit(p).as("pid"),
          lit(bandDiv(i)).as("di"), lit(bandDiv(j)).as("dj"))
      }.reduce(_.unionAll(_))
    val keys = sigs.crossJoin(broadcast(bp))
      .selectExpr("doc_id", "pid",
        s"((sig div di) % $bandMod) * $bandMod + ((sig div dj) % $bandMod) AS kv")
    sortedPairs(cappedBuckets(keys, SimhashBlockCap, "pid", "kv"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Rolling char-8-gram fingerprint (winnowing-style min hash + gram
    * cardinality). The fingerprint is the minimum 60-bit integer hash
    * (md5 prefix) over the doc's gram set — an INTEGER min keeps the
    * per-doc aggregation on the partial-aggregated HASH path, where the
    * round-3 min-over-hex-string form compiled to SortAggregate (string
    * buffers aren't fixed-width) with an external sort on both sides of
    * the exchange. DuckDB has no conv(); its twin computes the same
    * integer with instr/substr arithmetic ([[Text.hexPrefixInt60Sql]]).
    */
  val fingerprint = QueryDef.sql(
    "llm_doc_fingerprint",
    s"""SELECT doc_id,
       |  list_aggregate(list_transform(grams, g -> ${Text.hexPrefixInt60Sql("md5(g)")}), 'min') AS fingerprint,
       |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams
       |FROM (SELECT doc_id,
       |        CASE WHEN length(text) >= 8
       |          THEN list_transform(range(1, length(text) - 6), i -> substr(text, i, 8))
       |          ELSE [text] END AS grams
       |      FROM documents) u
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    // dedupe grams BEFORE hashing (min is dup-invariant), then hash inside
    // a codegen'd aggregate projection — lambda bodies in higher-order
    // functions run interpreted, so md5-per-gram belongs after the explode;
    // gram generation itself is the codegen'd char_ngrams expression
    documents(spark, dir)
      .withColumn("grams", expr(
        "CASE WHEN length(text) >= 8 THEN char_ngrams(text, 8, true) ELSE array(text) END"))
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .groupBy("doc_id")
      .agg(min(expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)")).as("fingerprint"),
        count(lit(1)).as("n_grams"))
      .orderBy("doc_id")
  }

  /** Bloom hash count (k). */
  private val BloomK = 4

  /** Bloom-filter membership pre-filter for incremental exact dedup —
    * the at-scale ingest gate in front of [[incrementalNearDup]]-style
    * batch-vs-frozen-corpus checks: the corpus is folded ONCE into a
    * word-indexed bit table ([[BloomK]] md5-derived positions per doc,
    * `bit_or` per 62-bit word — 62, not 64, because DuckDB raises on a
    * sign-bit shift that Spark wraps silently), and each batch doc
    * probes k positions against it. The ledger emits `bloom_hit`,
    * ground-truth `exact_dup` (hash anti-check), and `false_pos` so the
    * filter's precision is measured, not assumed; no-false-negative is
    * structural (same text → same positions) and BloomSpec pins it.
    *
    * Filter size is CORPUS-ADAPTIVE (the [[graft.llm.Embed
    * .adaptiveBits]] design): m = 2^ceil(log2(32·N)) bits keeps fill ≈
    * k/32 ≈ 12% — and FP ≈ (k/32)^4 ≈ 2·10^-4 — at ANY corpus size,
    * computed with the same floor+integer-corrected log arithmetic in
    * both engines (a FIXED m saturates at 10× and the probe would
    * measure a filter that answers "yes" to everything). The bit table
    * is m/62 rows of one BIGINT: broadcastable to ~10^9 docs; beyond
    * that the probe join on the word id is an ordinary equi-join and
    * the plan shards — one line to flip, documented here rather than
    * silently broadcast ([[spanDedup]] lesson).
    */
  val bloomDedup = QueryDef.sql(
    "llm_bloom_dedup", {
      val posSql = (i: Int) =>
        s"${Text.hexPrefixInt60Sql(s"md5(concat('$i|', text))")} % (SELECT m FROM params)"
      val posUnion = (0 until BloomK)
        .map(i => s"SELECT doc_id, ${posSql(i)} AS p FROM batch")
        .mkString("\nUNION ALL\n")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |params AS (
         |  SELECT CAST(POW(2, GREATEST(16, CAST(FLOOR(LOG2(q)) AS INT) +
         |    (CASE WHEN POW(2, CAST(FLOOR(LOG2(q)) AS INT)) < q THEN 1 ELSE 0 END))) AS BIGINT) AS m
         |  FROM (SELECT GREATEST(1, COUNT(*) * 32) AS q FROM corpus) t),
         |cpos AS (${(0 until BloomK)
        .map(i => s"SELECT ${posSql(i)} AS p FROM corpus").mkString("\nUNION ALL\n")}),
         |idx AS (SELECT p // 62 AS w,
         |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INT)) AS BIGINT) AS bits
         |  FROM cpos GROUP BY p // 62),
         |bpos AS ($posUnion),
         |probes AS (SELECT b.doc_id,
         |    CASE WHEN i.bits IS NOT NULL
         |      AND ((i.bits >> CAST(b.p % 62 AS INT)) & 1) = 1 THEN 1 ELSE 0 END AS hit
         |  FROM bpos b LEFT JOIN idx i ON i.w = b.p // 62),
         |bloom AS (SELECT doc_id, CAST(sum(hit) AS BIGINT) = $BloomK AS bloom_hit
         |          FROM probes GROUP BY doc_id),
         |chash AS (SELECT DISTINCT md5(text) AS ch FROM corpus),
         |truth AS (SELECT b.doc_id, ch IS NOT NULL AS exact_dup
         |          FROM batch b LEFT JOIN chash ON md5(b.text) = ch)
         |SELECT t.doc_id, bl.bloom_hit, t.exact_dup,
         |  bl.bloom_hit AND NOT t.exact_dup AS false_pos
         |FROM truth t JOIN bloom bl USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }
  ) { (spark, dir) => bloomDedupLedger(documents(spark, dir)) }

  /** [[bloomDedup]]'s core over any (doc_id, text) table — also driven
    * by BloomSpec with planted duplicates.
    */
  def bloomDedupLedger(docsIn: DataFrame): DataFrame = {
    val corpus = docsIn.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val batch = docsIn.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    // corpus-adaptive filter size — a driver-side count, the
    // embedNearDup adaptive-width precedent
    val m = 1L << Embed.adaptiveBits(32L * corpus.count(), 16, 1)
    def posCol(i: Int) =
      expr(s"CAST(conv(substr(md5(concat('$i|', text)), 1, 15), 16, 10) AS BIGINT) % $m")
    def positions(df: DataFrame) = df.select(col("doc_id"),
      explode(array((0 until BloomK).map(posCol): _*)).as("p"))
    val idx = positions(corpus)
      .groupBy(expr("p div 62").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 62 AS INT)))").as("bits"))
    val bloom = positions(batch)
      .withColumn("w", expr("p div 62"))
      .join(broadcast(idx), Seq("w"), "left")
      .withColumn("hit", expr(
        "CASE WHEN bits IS NOT NULL AND (shiftright(bits, CAST(p % 62 AS INT)) & 1) = 1 THEN 1 ELSE 0 END"))
      .groupBy("doc_id").agg((sum("hit") === BloomK).as("bloom_hit"))
    val chash = corpus.select(md5(col("text")).as("ch")).distinct()
    // chash is corpus-sized — shuffle-hash, never broadcast (the
    // spanDedup lesson; the ground-truth arm must not be the OOM)
    val truth = batch.withColumn("bh", md5(col("text")))
      .join(chash.hint("shuffle_hash"), col("bh") === col("ch"), "left")
      .select(col("doc_id"), col("ch").isNotNull.as("exact_dup"))
    truth.join(bloom, "doc_id")
      .select(col("doc_id"), col("bloom_hit"), col("exact_dup"),
        (col("bloom_hit") && !col("exact_dup")).as("false_pos"))
      .orderBy("doc_id")
  }

  /** Span-level exact dedup (the "deduplicating training data" substring
    * shape, distinct from doc-level [[exactDedup]] and doc-pair
    * [[ngramJaccard]]): every word-8-gram SPAN occurrence is hashed, the
    * corpus-wide first occurrence of each repeated span is kept, and
    * every other occurrence is marked dropped — the policy a substring
    * deduper applies before training. Output is the per-doc removal
    * ledger (span count, dropped count, dropped fraction).
    *
    * Scale shape: the global span index is ONE fixed-width hash
    * aggregate — count + min(packed first-occurrence key) per hash, no
    * posting lists, no [[graft.expr.CappedLongs]] buffer needed — then
    * one equi-join of the span stream back to it. Both sides are linear
    * in corpus token count; nothing is quadratic in anything. The packed
    * key is `doc_id·2^20 + pos` (docs bounded at 1M tokens; doc_id
    * headroom to 2^43), so "first global occurrence" is a single BIGINT
    * min both engines resolve identically.
    */
  val spanDedup = QueryDef.sql(
    "llm_span_dedup",
    s"""WITH $spanCtesSql,
       |packed AS (SELECT doc_id, h, doc_id * 1048576 + pos AS pack FROM spans),
       |stats AS (SELECT h, count(*) AS cnt, min(pack) AS keeper
       |          FROM packed GROUP BY h),
       |marked AS (SELECT p.doc_id,
       |    CASE WHEN s.cnt > 1 AND p.pack != s.keeper THEN 1 ELSE 0 END AS dropped
       |  FROM packed p JOIN stats s USING (h)),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(dropped) AS BIGINT) AS n_dropped
       |  FROM marked GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(p.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
       |  CASE WHEN coalesce(p.n_spans, 0) > 0
       |    THEN CAST(p.n_dropped AS DOUBLE) / p.n_spans
       |    ELSE CAST(0 AS DOUBLE) END AS dup_frac
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (spark, dir) => spanDedupLedger(documents(spark, dir)) }

  /** DuckDB CTEs `toks`, `spans(doc_id, pos, h)`: every word-8-gram
    * occurrence with its 1-based position and 60-bit hash.
    */
  private def spanCtesSql: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |spans AS (SELECT doc_id,
       |    unnest(range(1, len(tk) - 6)) AS pos,
       |    unnest(list_transform(${Text.wordNgramsSql(8, distinct = false)},
       |                          g -> ${Text.hexPrefixInt60Sql("md5(g)")})) AS h
       |  FROM toks)""".stripMargin

  /** [[spanDedup]]'s core over any (doc_id, text) table — also driven by
    * SpanDedupSpec on a planted-duplicate corpus.
    */
  def spanDedupLedger(docs: DataFrame): DataFrame = {
    val spans = docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr("word_ngrams(tk, 8, false)")).as(Seq("pos0", "g")))
      // md5 AFTER the explode — codegen'd projection, not a lambda body
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)").as("h"),
        expr("doc_id * CAST(1048576 AS BIGINT) + pos0 + 1").as("pack"))
    // Per-span stats (occurrence count, keeper = min pack) via a window
    // over h, NOT a groupBy+self-join: the r7 shuffle-hash-hinted join
    // shuffled the span stream twice (once to build the index, once to
    // probe it) and built a per-partition hash relation that is
    // corpus-sized/partitions — the r8 sf100 probe (5M docs, 450M spans)
    // crashed exactly there ("can't acquire 256MB to build hash
    // relation"). The window computes both aggregates in ONE shuffle of
    // the span stream through a spillable sort; per-group buffering is
    // bounded by a span's duplication count, never by the corpus.
    val wh = Window.partitionBy("h")
    val perDoc = spans
      .withColumn("cnt", count(lit(1)).over(wh))
      .withColumn("keeper", min("pack").over(wh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1 && col("pack") =!= col("keeper"), 1L)
          .otherwise(0L)).as("n_dropped"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_spans, CAST(0 AS BIGINT)) AS n_spans",
        "coalesce(n_dropped, CAST(0 AS BIGINT)) AS n_dropped",
        """CASE WHEN coalesce(n_spans, 0) > 0
          |  THEN CAST(n_dropped AS DOUBLE) / n_spans
          |  ELSE CAST(0 AS DOUBLE) END AS dup_frac""".stripMargin)
      .orderBy("doc_id")
  }

  /** Maximal duplicated-range merge — the artifact a substring deduper
    * actually MATERIALIZES (the "remove these token ranges before
    * training" list; cf. the suffix-array substring-dedup literature),
    * where [[spanDedup]] stops at the per-doc count ledger: every
    * dropped 8-gram occurrence covers tokens [pos, pos+7], and
    * overlapping or touching covers within a document coalesce into one
    * maximal removal interval via the islands-and-gaps idiom (a new
    * island starts when a span begins past `running_max(end) + 1`).
    * Output is one row per merged interval: 1-based [island_s, island_e]
    * bounds, the interval length, and how many dropped spans it merged —
    * sorted (doc_id, island_s) so the trainer can stream it.
    *
    * Scale shape: the global span index reuses [[spanDedupLedger]]'s
    * post-crash design verbatim — occurrence count + keeper via ONE
    * window over the span hash (a single spillable-sorted shuffle, no
    * corpus-sized hash build). The surviving DROPPED stream (duplicated
    * occurrences only — a small fraction of the corpus) then flows
    * through two per-document windows (running max-end, island counter);
    * per-group buffering is bounded by a document's span count, never by
    * the corpus (doc_id·2²⁰ pack contract = ≤1M tokens/doc). Everything
    * downstream of the filter is sub-corpus-sized; the whole chain is
    * integer-only, so both engines agree bit-for-bit.
    */
  val dupSpanMerge = QueryDef.sql(
    "llm_dup_span_merge",
    s"""WITH $spanCtesSql,
       |packed AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, h,
       |    doc_id * 1048576 + pos AS pack FROM spans),
       |stats AS (SELECT h, count(*) AS cnt, min(pack) AS keeper
       |          FROM packed GROUP BY h),
       |dropped AS (SELECT p.doc_id, p.pos
       |  FROM packed p JOIN stats s USING (h)
       |  WHERE s.cnt > 1 AND p.pack != s.keeper),
       |ord AS (SELECT doc_id, pos, pos + 7 AS e,
       |    max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
       |  FROM dropped),
       |isl AS (SELECT doc_id, pos, e,
       |    sum(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM ord)
       |SELECT doc_id,
       |  CAST(min(pos) AS BIGINT) AS island_s,
       |  CAST(max(e) AS BIGINT) AS island_e,
       |  CAST(max(e) - min(pos) + 1 AS BIGINT) AS island_len,
       |  CAST(count(*) AS BIGINT) AS n_spans
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, island_s""".stripMargin
  ) { (spark, dir) => dupSpanMergeRanges(documents(spark, dir)) }

  /** [[dupSpanMerge]]'s core over any (doc_id, text) table — also driven
    * by DupSpanMergeSpec on a planted corpus (overlap merge, touching
    * merge, gap split, keeper exclusion).
    */
  def dupSpanMergeRanges(docs: DataFrame): DataFrame = {
    val spans = docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr("word_ngrams(tk, 8, false)")).as(Seq("pos0", "g")))
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)").as("h"),
        expr("CAST(pos0 + 1 AS BIGINT)").as("pos"),
        expr("doc_id * CAST(1048576 AS BIGINT) + pos0 + 1").as("pack"))
    // occurrence count + keeper in ONE spillable-sorted shuffle over h —
    // the spanDedupLedger post-crash shape (see that scaladoc's r8 story)
    val wh = Window.partitionBy("h")
    val dropped = spans
      .withColumn("cnt", count(lit(1)).over(wh))
      .withColumn("keeper", min("pack").over(wh))
      .filter(col("cnt") > 1 && col("pack") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val isl = dropped
      .withColumn("e", col("pos") + 7)
      .withColumn("prev_e",
        max(col("e")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_e").isNull || col("pos") > col("prev_e") + 1, 1L)
          .otherwise(0L))
          .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy("doc_id", "island")
      .agg(min("pos").as("island_s"), max("e").as("island_e"),
        (max("e") - min("pos") + 1).as("island_len"),
        count(lit(1)).as("n_spans"))
      .select("doc_id", "island_s", "island_e", "island_len", "n_spans")
      .orderBy("doc_id", "island_s")
  }

  /** Paragraph width in tokens for [[paragraphDedup]]. The corpus ships
    * single-paragraph plain text (no newlines), so "paragraph" is pinned
    * to disjoint 20-token blocks — the same explicit-seam convention as
    * the multimodal stub codecs: the BOUNDARY rule is the fixture
    * accommodation, the corpus-wide first-occurrence dedup over the
    * resulting units is the real operator.
    */
  private val ParaSize = 20

  /** Paragraph-level exact dedup (the RefinedWeb/Dolma unit between
    * whole-doc [[exactDedup]] and overlapping-8-gram [[spanDedup]]): each
    * disjoint [[ParaSize]]-token block is hashed, the corpus-wide FIRST
    * occurrence of every repeated block is kept, and the per-doc ledger
    * reports how many paragraphs and tokens survive — the policy that
    * strips boilerplate paragraphs (headers, licenses, navigation) that
    * recur across thousands of pages without touching the document's
    * unique content.
    *
    * Scale shape: [[spanDedupLedger]]'s post-crash design verbatim —
    * per-block stats (occurrence count, keeper = min packed key) via a
    * window over the block hash, ONE spillable-sorted shuffle of the
    * block stream, no corpus-sized hash build anywhere; then one hash
    * aggregate back to doc_id. Blocks are DISJOINT, so the stream is
    * ~n/20 rows per doc vs span_dedup's O(n) — this is the cheaper
    * operator by an order of magnitude at equal corpus size. The packed
    * key `doc_id·2^20 + block_idx` resolves "first occurrence" as a
    * single BIGINT min in both engines.
    */
  val paragraphDedup = QueryDef.sql(
    "llm_paragraph_dedup",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sized AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks),
       |blocks AS (SELECT doc_id, tk, n,
       |    unnest(range(0, (n + ${ParaSize - 1}) // $ParaSize)) AS bi
       |  FROM sized),
       |units AS (SELECT doc_id, bi,
       |    least($ParaSize, n - bi * $ParaSize) AS btok,
       |    ${Text.hexPrefixInt60Sql(
             s"md5(array_to_string(list_slice(tk, bi * $ParaSize + 1, bi * $ParaSize + $ParaSize), ' '))")} AS h,
       |    doc_id * 1048576 + bi AS pack
       |  FROM blocks),
       |stats AS (SELECT doc_id, btok,
       |    count(*) OVER (PARTITION BY h) AS cnt,
       |    CASE WHEN pack != min(pack) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS later
       |  FROM units)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_paras,
       |  CAST(sum(CASE WHEN cnt > 1 AND later = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(btok) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN cnt > 1 AND later = 1 THEN 0 ELSE btok END) AS BIGINT) AS kept_tokens,
       |  CAST(sum(CASE WHEN cnt > 1 AND later = 1 THEN 0 ELSE btok END) AS DOUBLE)
       |    / sum(btok) AS retained_frac
       |FROM stats GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (spark, dir) => paragraphDedupLedger(documents(spark, dir)) }

  /** [[paragraphDedup]]'s core over any (doc_id, text) table — also
    * driven by SpanDedupSpec's planted-boilerplate corpus.
    */
  def paragraphDedupLedger(docs: DataFrame): DataFrame = {
    val units = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(expr(s"sequence(0, (n + ${ParaSize - 1}) div $ParaSize - 1)")).as("bi"))
      .select(col("doc_id"),
        least(lit(ParaSize.toLong), col("n") - col("bi") * ParaSize).as("btok"),
        expr(s"CAST(conv(substr(md5(array_join(slice(tk, bi * $ParaSize + 1, $ParaSize), ' ')), 1, 15), 16, 10) AS BIGINT)").as("h"),
        expr("doc_id * CAST(1048576 AS BIGINT) + bi").as("pack"))
    // span_dedup's window shape: both per-hash stats in ONE spillable
    // shuffle, never a corpus-sized hash relation (the sf100 lesson)
    val wh = Window.partitionBy("h")
    units
      .withColumn("cnt", count(lit(1)).over(wh))
      .withColumn("later", when(col("pack") =!= min("pack").over(wh), 1).otherwise(0))
      .withColumn("drop", when(col("cnt") > 1 && col("later") === 1, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(col("drop")).as("n_dropped"),
        sum(col("btok")).as("n_tokens"),
        sum(when(col("drop") === 1L, 0L).otherwise(col("btok"))).as("kept_tokens"))
      .withColumn("retained_frac",
        col("kept_tokens").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /** Expected CDC chunk length in words (boundary probability 1/8). */
  private val CdcMod = 8

  /** Content-defined chunking + block-level dedup — the rsync/FastCDC
    * shape between [[spanDedup]] (overlapping fixed 8-grams, O(len)
    * spans per doc) and [[exactDedup]] (whole-doc): chunk boundaries are
    * decided by each WORD's own hash (`h(w) % CdcMod == 0` closes the
    * chunk), so identical content produces identical chunks at ANY
    * position — an insertion re-chunks only the block it lands in,
    * where fixed-width blocks would shift every downstream boundary.
    * Disjoint blocks mean O(len/CdcMod) units per doc, not O(len).
    *
    * Chunk identity is a FIXED-WIDTH signature, not the chunk text: each
    * word contributes hexint40(md5(offset|word)) (offset = position
    * within the chunk) and the chunk sums them — order-independent
    * addition over order-CAPTURING terms, so both engines aggregate in
    * any order and 2^40-bounded terms keep a 2^20-word chunk under 2^60
    * (DuckDB raises on BIGINT overflow where Spark wraps — the bound is
    * load-bearing). Matching (sig, len) pairs collide with probability
    * ~2^-40·per-pair — accepted and documented, the standard CDC trade.
    *
    * 100 TB shape: two per-doc window passes (boundary prefix-sum, then
    * chunk-start min) — both partition by doc_id, bounded by doc length,
    * spillable; then one fixed-width hash aggregate per chunk, a
    * corpus-sized (sig, len) stats aggregate joined back SHUFFLE-HASH
    * (never broadcast — the [[spanDedupLedger]] lesson), and a per-doc
    * rollup. Linear end to end.
    */
  val cdcChunk = QueryDef.sql(
    "llm_cdc_chunk",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |words AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos,
       |                 unnest(tk) AS w
       |          FROM toks),
       |marked AS (SELECT doc_id, pos, w,
       |    CASE WHEN ${Text.hexPrefixIntSql("md5(w)", 8)} % $CdcMod = 0
       |      THEN 1 ELSE 0 END AS bnd
       |  FROM words),
       |numbered AS (SELECT doc_id, pos, w,
       |    sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos) - bnd AS chunk_no
       |  FROM marked),
       |offs AS (SELECT doc_id, chunk_no, pos, w,
       |    pos - min(pos) OVER (PARTITION BY doc_id, chunk_no) AS off
       |  FROM numbered),
       |chunks AS (SELECT doc_id, chunk_no,
       |    CAST(sum(${Text.hexPrefixIntSql("md5(concat(off, '|', w))", 10)}) AS BIGINT) AS sig,
       |    CAST(count(*) AS BIGINT) AS len,
       |    doc_id * 1048576 + min(pos) AS pack
       |  FROM offs GROUP BY doc_id, chunk_no),
       |stats AS (SELECT sig, len, count(*) AS cnt, min(pack) AS keeper
       |          FROM chunks GROUP BY sig, len),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(CASE WHEN s.cnt > 1 AND c.pack != s.keeper
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |  FROM chunks c JOIN stats s USING (sig, len) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_chunks, CAST(0 AS BIGINT)) AS n_chunks,
       |  coalesce(p.n_dup_chunks, CAST(0 AS BIGINT)) AS n_dup_chunks,
       |  CASE WHEN coalesce(p.n_chunks, 0) > 0
       |    THEN CAST(p.n_dup_chunks AS DOUBLE) / p.n_chunks
       |    ELSE CAST(0 AS DOUBLE) END AS dup_frac
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  ) { (spark, dir) => cdcChunkLedger(documents(spark, dir)) }

  /** [[cdcChunk]]'s core over any (doc_id, text) table — also driven by
    * CdcSpec (boundary invariance under content shifts).
    *
    * Round-8 rewrite after the THIRD-decade probe (sf100, 5M docs,
    * ~500M words, 256 partitions) measured 15.9× on 10× data: the old
    * plan exploded a corpus-sized WORD stream and ran two
    * doc-partitioned windows over it — shuffling and sorting every word
    * in the corpus to compute what is a purely per-document fold. The
    * [[graft.expr.CdcChunks]] expression now folds each doc's tokens
    * into `(sig, len, start)` chunks map-side (how a real CDC deduper
    * runs inside an ingest mapper), and the only shuffle left is the
    * corpus-wide duplicate stats over the ~tokens/8 fixed-width chunk
    * rows — via a window over (sig, len), the [[spanDedupLedger]]
    * post-crash shape (no hash relation to build). Word-hash semantics
    * are bit-identical to the DuckDB oracle, which still spells the
    * window form — the oracle defines WHAT, this plan is the HOW.
    */
  def cdcChunkLedger(docs: DataFrame): DataFrame = {
    val chunks = docs
      .select(col("doc_id"),
        explode(expr(s"cdc_chunks(split(text, ' '), $CdcMod)")).as("c"))
      .select(col("doc_id"), col("c.sig").as("sig"), col("c.len").as("len"),
        (col("doc_id") * lit(1048576L) + col("c.start")).as("pack"))
    val w = Window.partitionBy("sig", "len")
    val perDoc = chunks
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("keeper", min("pack").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1 && col("pack") =!= col("keeper"), 1L)
          .otherwise(0L)).as("n_dup_chunks"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_chunks, CAST(0 AS BIGINT)) AS n_chunks",
        "coalesce(n_dup_chunks, CAST(0 AS BIGINT)) AS n_dup_chunks",
        """CASE WHEN coalesce(n_chunks, 0) > 0
          |  THEN CAST(n_dup_chunks AS DOUBLE) / n_chunks
          |  ELSE CAST(0 AS DOUBLE) END AS dup_frac""".stripMargin)
      .orderBy("doc_id")
  }

  // ---- near-dup clustering: connected components over verified pairs ----

  /** Iteration cap for the label-propagation loop. Two plain rounds,
    * then the pointer-doubling shortcut roughly HALVES the remaining
    * distance each round, so the cap covers components of diameter
    * ~2^(10-2) ≈ 256 — unreachable by any real corpus (a chain that long
    * needs hundreds of serially-edited near-identical docs) — while the
    * common star-shaped graph still exits at its fixpoint in ≤3 rounds
    * of the cheap plain step.
    */
  private val MaxCcIters = 10

  /** Connected-component minimum labels over an UNDIRECTED edge list
    * (edges given one direction; both are derived). Returns (node, label)
    * with label = min node id reachable from each node. Core of
    * [[dedupClusters]]; exposed for the chain-convergence spec.
    */
  private[graft] def minLabelComponents(nodes: DataFrame, pairEdges: DataFrame): DataFrame = {
    val edges = pairEdges.toDF("src", "dst")
    val undirected = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    // Materialize each round through an RDD fence: iterative self-joins
    // grow the LOGICAL plan — with pointer doubling it doubles per
    // round, so by round ~8 analysis alone is exponential (a 30-node
    // chain built a 2 GB plan string). Wrapping the round's RDD in a
    // fresh LogicalRDD truncates the plan like a checkpoint would, but
    // keeps cache()/unpersist() lifecycle control (localCheckpoint pins
    // its blocks until GC with no public API to free them eagerly).
    def fence(df: DataFrame): DataFrame = {
      val out = df.sparkSession.createDataFrame(df.rdd, df.schema)
      out.cache(); out.count()
      out
    }
    var labels = fence(nodes.select(col("node"), col("node").as("label")))
    var prevSum = Option.empty[Long]
    var it = 0
    var converged = false
    while (!converged && it < MaxCcIters) {
      val hop = undirected.join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      val prop = fence(labels.unionByName(hop)
        .groupBy("node").agg(min("label").as("label")))
      // min-propagation can only lower labels: equal sum ⇔ fixpoint
      // (coalesce: sum over an EMPTY node set is NULL, which must read
      // as a 0-sum fixpoint, not an NPE). Checked on the PLAIN step first
      // (round 13, r12 verdict item 4): once the plain hop changes
      // nothing the labels are the component minima, so the confirming
      // round exits here instead of paying the pointer-doubling
      // join+aggregate for a state it cannot improve.
      val sProp = prop.agg(coalesce(sum("label"), lit(0L))).first().getLong(0)
      // pointer doubling: additionally shortcut each node to its LABEL'S
      // label (labels are node ids, so this is a self-join), halving the
      // remaining distance every round — a chain-shaped component longer
      // than the iteration cap converges instead of tripping the
      // loud-failure require below. Engaged only from round 3: the
      // common near-dup graph is star/short-chain shaped and converges
      // in ≤2 plain rounds, where the shortcut's extra join+aggregate
      // would be pure overhead (measured 2× on the fixture).
      val next = if (it < 2 || prevSum.contains(sProp)) prop else {
        val viaLabel = prop.join(
            prop.select(col("node").as("label"), col("label").as("label2")), "label")
          .select(col("node"), col("label2").as("label"))
        fence(prop.unionByName(viaLabel)
          .groupBy("node").agg(min("label").as("label")))
      }
      val s =
        if (next eq prop) sProp
        else next.agg(coalesce(sum("label"), lit(0L))).first().getLong(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      labels.unpersist()
      if (next ne prop) prop.unpersist()
      labels = next
      it += 1
    }
    // a silent cap overrun would return non-minimal labels that LOOK like
    // clusters — fail loudly instead (the cap covers diameter ~2^MaxCcIters,
    // so hitting it means pathological input)
    require(converged,
      s"label propagation did not converge within $MaxCcIters rounds")
    labels
  }

  /** Canonicalization step of a dedup pipeline: group the verified
    * MinHash-LSH pairs into CONNECTED COMPONENTS and elect min-doc_id as
    * each cluster's canonical representative — the operator that turns
    * pairwise near-dup hits into "keep one per cluster" decisions.
    *
    * Distributed shape (no graph library): min-label propagation with
    * pointer doubling. Labels start as each node's own id; each round
    * propagates labels across edges AND shortcuts through the label table
    * itself, taking the per-node min (partial-aggregated shuffles bounded
    * by |edges|+|nodes|), converging in O(log diameter) rounds. The
    * driver-side loop only CHECKS convergence (sum of labels strictly
    * decreases until the fixpoint — one scalar action per round, same
    * pattern as Lloyd training); all data movement is joins/aggregates.
    * The DuckDB oracle computes the same fixpoint with a recursive CTE —
    * engine-independent because min-reachable-id is a pure graph
    * property.
    */
  val dedupClusters = QueryDef.sql(
    "llm_dedup_clusters",
    s"""WITH $clusterLabelCtesSql,
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, s.cluster_size,
       |       s.cluster_size > 1 AS is_dup_cluster
       |FROM lab l JOIN sz s USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin
  ) { (spark, dir) =>
    val labels = clusterLabels(spark, dir)
    val sz = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sz, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("cluster_size") > 1).as("is_dup_cluster"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster labels (node, label) over every document: label
    * propagation ([[minLabelComponents]]) over the verified MinHash pairs.
    * Label propagation JOINS the pair stream every round (uncached, the
    * whole MinHash pipeline re-derives per round — the 10× probe read 5.55
    * uncached vs ~1.9 cached), so it reads the pair parquet SessionCache
    * builds once per app+dir (r12 verdict item 4) and caches that tiny
    * edge frame for the rounds.
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsMaterialized(spark, dir)
      .select(col("doc_a"), col("doc_b")).cache()
    val nodes = documents(spark, dir).select(col("doc_id").as("node"))
    val labels = minLabelComponents(nodes, pairs.toDF("src", "dst"))
    // labels is fenced (cached + counted) inside minLabelComponents, so the
    // pair stream's last consumer has already run — release it now instead
    // of holding |pairs| blocks for the rest of the session
    pairs.unpersist()
    labels
  }

  /** DuckDB twin of [[clusterLabels]]: `RECURSIVE` and the CTEs ending in
    * `lab(doc_id, cluster_id)` (the min reachable doc_id).
    */
  private def clusterLabelCtesSql: String =
    s"""RECURSIVE $minhashPairsCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
       |lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  // ---- canonical-URL dedup: crawl re-fetch collapse ----

  /** Deterministic URL enrichment for the canonicalization operator:
    * every doc gets one URL with a mixed-case host, a MEANINGFUL query
    * param (`p=`) and, on doc_id residue classes, tracking params
    * (`utm_source=`, `ref=`) and a fragment — the variation a crawler
    * actually sees for one logical page. Escape-free patterns, identical
    * under Java regex and RE2 (house rule, see [[piiScrub]]).
    */
  private def urlRichExpr(strTy: String): String =
    s"concat(text, ' fetch http://Site', CAST(doc_id % 7 AS $strTy)," +
      s" '.Example/page', CAST(doc_id % 5 AS $strTy)," +
      s" '?p=', CAST(doc_id % 4 AS $strTy)," +
      s" CASE WHEN doc_id % 2 = 0 THEN concat('&utm_source=feed', CAST(doc_id % 3 AS $strTy)) ELSE '' END," +
      s" CASE WHEN doc_id % 3 = 0 THEN concat('&ref=track', CAST(doc_id % 5 AS $strTy)) ELSE '' END," +
      s" CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"

  private val CanonUrlPat = "http://[A-Za-z0-9./?&=#_-]+"

  /** Strip fragment + tracking params (the meaningful `p=` param is
    * constructed FIRST in the query string, so dropping `&utm_…`/`&ref=…`
    * never orphans a leading `?`). Shared verbatim by both engines;
    * each pattern occurs at most once per URL by construction, so
    * DuckDB's replace-first equals Spark's replace-all.
    */
  private val urlStripExpr =
    "regexp_replace(regexp_replace(regexp_replace(url," +
      " '[#][A-Za-z]*', ''), '[&]utm_[a-z]+=[A-Za-z0-9]*', '')," +
      " '[&]ref=[A-Za-z0-9]*', '')"

  /** Canonical-URL dedup — the crawl-side collapse that runs BEFORE any
    * content dedup in a web pipeline: one logical page is fetched many
    * times under tracking-param/fragment/host-case variations, and
    * collapsing by canonical URL (lowercased scheme+host, fragment and
    * tracking params stripped, path/query case preserved) removes exact
    * re-fetches at URL-key cost, orders of magnitude cheaper than
    * hashing page bytes. Emits the canonical ledger: canonical URL,
    * fetch count, distinct raw variants, and the kept (min) doc.
    *
    * 100 TB shape: canonicalization is a map-side codegen'd
    * regexp/concat projection; the ledger is ONE hash aggregate keyed by
    * canonical URL (cardinality ≈ distinct pages — high, so hash
    * distribution is even; no mega-key skew because per-page fetch
    * counts are bounded by crawler politeness). No join, no window, no
    * explode.
    */
  val urlDedup = QueryDef.sql(
    "llm_url_dedup",
    s"""WITH rich AS (SELECT doc_id, ${urlRichExpr("VARCHAR")} AS rich FROM documents),
       |ext AS (SELECT doc_id, regexp_extract(rich, '$CanonUrlPat') AS url FROM rich),
       |strip AS (SELECT doc_id, url, $urlStripExpr AS u2 FROM ext),
       |canon AS (SELECT doc_id, url,
       |    concat('http://', lower(string_split(u2, '/')[3]),
       |           substring(u2, 8 + length(string_split(u2, '/')[3]))) AS url_canon
       |  FROM strip)
       |SELECT url_canon,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
       |  min(doc_id) AS keeper_doc
       |FROM canon GROUP BY url_canon ORDER BY url_canon""".stripMargin
  ) { (spark, dir) =>
    documents(spark, dir)
      .selectExpr("doc_id", s"${urlRichExpr("STRING")} AS rich")
      .selectExpr("doc_id", s"regexp_extract(rich, '$CanonUrlPat', 0) AS url")
      .withColumn("u2", expr(urlStripExpr))
      .withColumn("host", expr("split(u2, '/')[2]"))
      .selectExpr("doc_id", "url",
        "concat('http://', lower(host), substring(u2, 8 + length(host))) AS url_canon")
      .groupBy("url_canon")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("url").as("n_variants"),
        min("doc_id").as("keeper_doc"))
      .orderBy("url_canon")
  }

  // ---- snapshot diff: incremental-ingest delta classification ----

  /** Ghost-row id offset for [[snapshotDiff]]'s derived prev snapshot —
    * 2^40, past any real doc_id (the repo-wide packing convention caps
    * doc ids well below it): a small offset would collide with genuine
    * ids in a large contiguous corpus and fan out the full-outer join
    * (round-8 review finding).
    */
  private val SnapRemovedOffset = 1L << 40

  /** Snapshot delta classification (the incremental-ingest bookkeeping
    * between two crawl snapshots — the step that decides what actually
    * needs re-processing): full-outer join the current corpus against
    * the previous snapshot by doc_id and classify every id as
    * added / removed / changed / unchanged by CONTENT HASH. The corpus
    * ships one snapshot, so prev is derived deterministically (the
    * markup-seam convention): ids ≡3 (mod 7) were absent (added), ids
    * ≡5 had reversed word order (changed), ids ≡1 additionally shipped
    * an archived ghost copy at id + 2^40 ([[SnapRemovedOffset]] — far
    * above any real doc id, so ghosts can never collide) (removed), the
    * rest unchanged.
    * The derivation is the fixture; the join + hash-compare ledger is
    * the operator.
    *
    * 100 TB shape: both sides project to (doc_id, md5) BEFORE the join,
    * so the only shuffle moves 16-byte hashes, never text — the reason
    * real snapshot stores persist a content-hash column. One
    * hash-partitioned full-outer join, map-side classification.
    */
  val snapshotDiff = QueryDef.sql(
    "llm_snapshot_diff",
    s"""WITH cur AS (SELECT doc_id, md5(text) AS h FROM documents),
       |prev AS (
       |  SELECT doc_id, md5(array_to_string(list_reverse(string_split(text, ' ')), ' ')) AS h
       |    FROM documents WHERE doc_id % 7 = 5
       |  UNION ALL SELECT doc_id, md5(text) FROM documents WHERE doc_id % 7 NOT IN (3, 5)
       |  UNION ALL SELECT doc_id + $SnapRemovedOffset, md5(text || ' archived')
       |    FROM documents WHERE doc_id % 7 = 1),
       |j AS (SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
       |        c.doc_id IS NOT NULL AS in_cur, p.doc_id IS NOT NULL AS in_prev,
       |        c.h IS NOT NULL AND p.h IS NOT NULL AND c.h != p.h AS chg
       |      FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id)
       |SELECT doc_id,
       |  CASE WHEN in_cur AND NOT in_prev THEN 'added'
       |       WHEN in_prev AND NOT in_cur THEN 'removed'
       |       WHEN chg THEN 'changed' ELSE 'unchanged' END AS status
       |FROM j ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = documents(spark, dir)
    val cur = docs.selectExpr("doc_id", "md5(text) AS h")
    val prev = docs.filter(pmod(col("doc_id"), lit(7)) === 5)
        .selectExpr("doc_id", "md5(array_join(reverse(split(text, ' ')), ' ')) AS h")
      .unionByName(docs.filter(!pmod(col("doc_id"), lit(7)).isin(3, 5))
        .selectExpr("doc_id", "md5(text) AS h"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 1)
        .selectExpr(s"doc_id + $SnapRemovedOffset AS doc_id",
          "md5(concat(text, ' archived')) AS h"))
    cur.withColumnRenamed("h", "ch")
      .join(prev.withColumnRenamed("h", "ph")
        .withColumnRenamed("doc_id", "pid"),
        col("doc_id") === col("pid"), "full_outer")
      .selectExpr("coalesce(doc_id, pid) AS doc_id",
        """CASE WHEN doc_id IS NOT NULL AND pid IS NULL THEN 'added'
          |     WHEN pid IS NOT NULL AND doc_id IS NULL THEN 'removed'
          |     WHEN ch != ph THEN 'changed' ELSE 'unchanged' END AS status""".stripMargin)
      .orderBy("doc_id")
  }

  /** Split-LEAKAGE audit — the governance check the other dedup/split
    * entries make possible but none performs: a near-dup CLUSTER whose
    * members land in different train/val/test splits means the eval set
    * contains (near-)copies of training documents, the classic silent
    * benchmark-inflation bug. One row per multi-doc cluster: its size,
    * per-split member counts, and the `leaky` verdict (spans >1 split).
    * Composes the two audited cores verbatim — the verified MinHash-LSH
    * pair stream → min-label connected components ([[dedupClusters]]'s
    * machinery), and [[splitAssign]]'s hash-bucket rule (one owner,
    * [[SplitCaseSql]]) — so a leak here is a REAL cross-split near-dup
    * under the pipeline's own definitions, not a re-derivation's.
    *
    * 100 TB shape: everything upstream is the already-probed cluster
    * pipeline (banded candidates, capped buckets, O(log diameter) label
    * propagation); this entry adds one map-side split projection and one
    * hash aggregate by cluster_id. Nothing new is quadratic in anything.
    */
  val splitLeakage = QueryDef.sql(
    "llm_split_leakage",
    s"""WITH $clusterLabelCtesSql,
       |sp AS (SELECT doc_id, $SplitCaseSql AS split
       |       FROM (SELECT doc_id, ${splitBucketSql("VARCHAR")} AS bucket
       |         FROM documents) b),
       |agg AS (SELECT cluster_id,
       |    CAST(count(*) AS BIGINT) AS cluster_size,
       |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |    CAST(count(DISTINCT split) AS BIGINT) AS n_splits
       |  FROM lab JOIN sp USING (doc_id) GROUP BY cluster_id)
       |SELECT cluster_id, cluster_size, n_train, n_val, n_test,
       |       n_splits > 1 AS leaky
       |FROM agg WHERE cluster_size > 1
       |ORDER BY cluster_id""".stripMargin
  ) { (spark, dir) =>
    val labels = clusterLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val sp = documents(spark, dir)
      .selectExpr("doc_id", s"${splitBucketSql("STRING")} AS bucket")
      .selectExpr("doc_id", s"$SplitCaseSql AS split")
    labels.join(sp, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
        countDistinct("split").as("n_splits"))
      .filter(col("cluster_size") > 1)
      .selectExpr("cluster_id", "cluster_size", "n_train", "n_val", "n_test",
        "n_splits > 1 AS leaky")
      .orderBy("cluster_id")
  }

  // ---- near-dup cluster representative selection (keep-best) ----

  /** Cluster-representative selection: near-dup dedup that keeps the
    * BEST document of every duplicate cluster instead of the first —
    * [[dedupClusters]]' connected components joined with
    * [[qualityScore]]'s signal, argmax quality (ties → lowest doc_id)
    * per cluster. This is the curation-grade dedup verdict: "drop the
    * duplicates, but keep the cleanest copy".
    *
    * 100 TB shape: pairs come from the capped banded-LSH stream (never
    * all-pairs), labels from the fenced iterative CC, quality is a
    * map-side projection; the selection itself is one per-cluster window
    * rank — a hash partition on cluster_id with small per-cluster sorts
    * (cluster size is bounded by near-dup semantics; a pathological
    * mega-cluster would already have been capped upstream at the LSH
    * bucket stage).
    */
  val clusterBest = QueryDef.sql(
    "llm_cluster_best",
    s"""WITH $clusterLabelCtesSql,
       |${qualCteSql("(SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents) d")},
       |ranked AS (SELECT l.doc_id, l.cluster_id, q.quality,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY q.quality DESC, l.doc_id) AS rn
       |  FROM lab l JOIN qual q USING (doc_id))
       |SELECT doc_id, cluster_id, quality, rn = 1 AS is_best,
       |  CASE WHEN rn = 1 THEN 'keep' ELSE 'drop_dup' END AS action
       |FROM ranked ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val labels = clusterLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val qual = qualityOf(documents(spark, dir).withColumn("tk", split(col("text"), " ")))
    labels.join(qual, "doc_id")
      .withColumn("rn", Ranked.rowNumber("cluster_id")(col("quality").desc, col("doc_id")))
      .selectExpr("doc_id", "cluster_id", "quality", "rn = 1 AS is_best",
        "CASE WHEN rn = 1 THEN 'keep' ELSE 'drop_dup' END AS action")
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(
    exactDedup, minhashLsh, incrementalNearDup, dedupClusters, ngramJaccard, spanDedup,
    dupSpanMerge, paragraphDedup, cdcChunk, simhash, simhashNearDup, fingerprint, urlDedup,
    snapshotDiff, bloomDedup, splitLeakage, clusterBest)
}
