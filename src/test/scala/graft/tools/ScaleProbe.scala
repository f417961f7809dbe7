package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.fixtures.Fixtures

/** Measured scale slope, one decade at a time: replicate a fixture
  * directory 10^(d-1)× and 10^d× for decade `d`, time each entry warm
  * (min-of-2 after a warmup that also counts its rows) at both sizes and
  * report the time ratio against the 10× data ratio. PERF_NOTES.md holds
  * every decade's tables (*10× scale probe* onwards).
  *
  * The replicas (deterministic, shape-preserving):
  *   - documents: replica r keeps the text for r = 0, otherwise a
  *     Fisher–Yates shuffle of its words seeded by the TEXT (plus r), so
  *     exact duplicates shuffle alike in every replica (exact-dup density
  *     per doc stays constant) while docs that only share bigrams diverge
  *     (replicas do not become near-dups; a verbatim ×10 would square the
  *     candidate pairs and measure a self-made explosion);
  *   - embeddings: replica r rotates the vector by 7r components (norms
  *     kept, cross-replica cosines decorrelated);
  *   - lineitem: l_orderkey + (r mod 99)·10⁶ keeps trade_no unique and
  *     leaves secid and trading day alone: the same market at 10× rate.
  *     trade_no's packing bounds orderkey below ~1.15e8, so the stride
  *     wraps after 99 replicas; beyond ×99 replicas reuse trade
  *     identities, which the timings tolerate;
  *   - events: event_id + r·10⁹, user_id + r·6·10⁶ (a multiple of 60, so
  *     the user → secid map is replica-invariant while sessions see 10×
  *     the users);
  *   - part: copied as-is; the securities dim does not grow with volume.
  * Every table is written as [[FileCount]] files, so both sizes of a
  * decade scan at the same parallelism (a one-file fixture scans on one
  * core, and the ratio would measure that instead).
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<fixture dir> sbt "Test/runMain graft.tools.ScaleProbe <decade> [<entry> ...]"
  * }}}
  */
object ScaleProbe {
  /** The default set: the pipelines whose plans carry a superlinear risk
    * (bucketed, banded, indexed, windowed or iterative), in the order the
    * PERF_NOTES.md scale sections added them.
    */
  val Entries: Seq[String] = Seq(
    "llm_minhash_lsh", "llm_ngram_jaccard", "llm_semdedup_guarded", "llm_dedup_clusters",
    "llm_incremental_neardup", "llm_embed_neardup", "llm_ann_lsh", "llm_tfidf_topk",
    "llm_simhash", "llm_doc_fingerprint", "llm_exact_dedup", "llm_semdedup_capped",
    "dedup_trades", "dedup_quotes", "a16_candles_batch", "qx_asof_custom",
    "qx_asof_trade_quote", "evt_sessions", "qx_salted_turnover", "q01_netto_buy_topk",
    "llm_seq_pack", "llm_lm_score", "llm_length_quantiles", "llm_dsir_weight",
    "llm_top_ngrams", "llm_contamination", "a01_candles_replay", "llm_ann_pq",
    "llm_span_dedup", "llm_lang_classify", "llm_ann_ivf_scaled", "llm_bloom_dedup",
    "llm_bm25_topk", "llm_host_cap", "llm_cdc_chunk", "llm_knn_graph",
    "llm_shuffle_shard", "llm_cluster_best", "llm_ccnet_bucket", "llm_sq_recall",
    "llm_bpe_train", "llm_bpe_apply", "llm_rrf_fusion", "llm_bpe_fertility",
    "llm_pack_spans", "llm_url_dedup", "llm_ann_ledger", "llm_paragraph_dedup",
    "llm_html_extract", "llm_doremi_weight", "llm_mrl_recall", "llm_token_budget",
    "llm_snapshot_diff", "llm_distinct_sketch", "llm_kn_lm_score", "llm_pagerank_hosts",
    "llm_neyman_sample", "llm_embed_outliers", "llm_epoch_expand", "llm_dataset_card",
    "llm_unigram_fertility", "evt_session_concurrency", "dedup_trades_scd2", "evt_funnel",
    "evt_sequence_match", "llm_cms_sketch", "evt_retention", "qx_topk_state_merge",
    "rollup_summing_merge", "a22_csv_source_roundtrip", "a23_json_source_roundtrip",
    "a25_orc_source_roundtrip", "a24_jdbc_source_roundtrip", "llm_uniq_state_merge",
    "qx_pivot_turnover", "qx_rollup_turnover", "qx_moving_turnover",
    "qx_range_frame_turnover", "llm_json_metadata", "layout_ttl_retention",
    "dedup_trades_collapsing", "dedup_trades_vcollapsing", "qx_collapsing_turnover",
    "layout_bucketed_join", "qx_sample_turnover", "qx_quantile_tdigest",
    "qx_tdigest_state_merge", "qx_limit_by", "qx_with_fill_turnover", "qx_semi_anti_codes",
    "layout_dpp_prune", "qx_with_fill_locf", "qx_set_ops_minutes", "layout_mutation_delete",
    "layout_mutation_update", "layout_optimize_compact", "llm_corpus_drift",
    "llm_dup_span_merge", "llm_split_leakage")
  val FileCount = 32
  /** Where the mains keep the replicas between runs. */
  val DefaultOut = s"${System.getProperty("java.io.tmpdir")}/graft_scale"
  private val IdStride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <decade> [<entry> ...]")
    val entries = if (args.length > 1) args.toSeq.tail else Entries
    ProbeMain((spark, dir) => run(spark, dir, DefaultOut, args(0).toInt, entries))
  }

  /** The replica directory of `reps`× under `out`. */
  def scaledDir(out: String, reps: Int): String = s"$out/x$reps"

  /** Replicate `base` 10^(decade-1)× and 10^decade× under `out` (only the
    * tables `entries` read) and report one line per entry: each size's
    * warm seconds and row count, and the time ratio.
    */
  def run(spark: SparkSession, base: String, out: String, decade: Int,
      entries: Seq[String]): Seq[String] = {
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    require(decade >= 1 && unknown.isEmpty,
      s"decade must be >= 1 ($decade); unknown entries: ${unknown.mkString(", ")}")
    val tables = entries.flatMap(n =>
      if (n.startsWith("llm_") || n.startsWith("mm_")) Seq("documents", "embeddings")
      else Seq("lineitem", "events", "part")).distinct
    val sizes = Seq(math.pow(10, decade - 1).toInt, math.pow(10, decade).toInt)
    val dirs = sizes.map(reps => materialize(spark, base, scaledDir(out, reps), reps, tables))
    def noop(n: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (n <- entries) yield {
      val Seq((t0, r0), (t1, r1)) = dirs.map { dir =>
        Fixtures.clearDerivedCache(spark)
        val rows = SparkEntry.queries(n)(spark, dir).count()
        ((1 to 2).map(_ => noop(n, dir)).min, rows)
      }
      f"[scale] entry=$n x${sizes(0)}_s=$t0%.3f x${sizes(0)}_rows=$r0 " +
        f"x${sizes(1)}_s=$t1%.3f x${sizes(1)}_rows=$r1 ratio=${t1 / t0}%.2f"
    }
  }

  /** Write `reps`× replicas of `base`'s `tables` into `out` (the
    * construction above); a table already complete there is kept, so
    * decades and probes share replicas. Returns `out`.
    */
  def materialize(spark: SparkSession, base: String, out: String, reps: Int,
      tables: Seq[String]): String = {
    val r = broadcast(spark.range(0, reps).select(col("id").cast("int").as("r")))
    for (t <- tables if !Files.exists(Paths.get(s"$out/$t.parquet/_SUCCESS"))) {
      val src = spark.read.parquet(s"$base/$t.parquet")
      val df = if (t == "part") src
        else replicate(t, src.crossJoin(r)).drop("r").repartition(FileCount)
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    out
  }

  private def replicate(table: String, df: DataFrame): DataFrame = table match {
    case "documents" => df
      .withColumn("doc_id", col("doc_id") + col("r") * IdStride)
      .withColumn("text", shuffleWords(col("text"), col("r")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    case "embeddings" => df
      .withColumn("vec_id", col("vec_id") + col("r") * IdStride)
      .withColumn("embedding", rotate(col("embedding"), col("r")))
    case "lineitem" => df
      .withColumn("l_orderkey", col("l_orderkey") + (col("r") % 99) * 1000000L)
    case "events" => df
      .withColumn("event_id", col("event_id") + col("r") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("r") * 6000000L)
  }

  private val shuffleWords = udf { (text: String, r: Int) =>
    if (r == 0) text
    else {
      val words = text.split(' ')
      val rnd = new scala.util.Random(
        scala.util.hashing.MurmurHash3.stringHash(text) * 31L + r)
      var i = words.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val tmp = words(i); words(i) = words(j); words(j) = tmp
        i -= 1
      }
      words.mkString(" ")
    }
  }

  private val rotate = udf { (v: Seq[Float], r: Int) =>
    if (r == 0) v
    else { val k = (7 * r) % v.length; v.drop(k) ++ v.take(k) }
  }
}
