package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.{documents, embeddings}
import graft.llm.{Embed, Ivf, Pq}

/** Embedding and lexical retrieval entries: brute-force and LSH/IVF/PQ
  * ANN search, embedding near-dup and KNN-graph banding, semantic dedup
  * and outliers over the IVF quantizer, TF-IDF/BM25/RRF ranking, and the
  * recall ledgers that compare the methods on one table. Each entry's
  * DuckDB twin sits next to its builder.
  */
object RetrievalQueries {
  import Ranked.{rowNumber, topK}

  // ---- embedding similarity ----

  private[graft] val NumQueries = 5
  private val IvfK = 16
  private val IvfProbes = 2

  /** Brute-force cosine top-10 for the first 5 vectors as queries —
    * broadcast the query set, one scan of the corpus, per-query heap
    * (window rank) for the top-k.
    */
  val embedTopk = QueryDef.sql(
    "llm_embed_topk",
    s"""WITH emb AS (${Embed.preparedSql}),
       |q AS (SELECT vec_id AS query_id, qv AS qqv, nrm AS qnrm FROM emb WHERE vec_id < $NumQueries),
       |scored AS (SELECT query_id, vec_id,
       |    ${Embed.cosineSql(Embed.dotSql("qqv", "qv"), "qnrm", "nrm")} AS cos_sim
       |  FROM emb, q WHERE vec_id != query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos_sim, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  ) { (spark, dir) =>
    rankTopK(queryCosines(Embed.prepared(embeddings(spark, dir)), NumQueries),
      "vec_id", "cos_sim", 10)
  }

  /** Every corpus vector scored against each of the first `n` (the query
    * block) by quantized cosine, self-pairs dropped: (vec_id, qv, nrm,
    * query_id, qqv, qnrm, cos_sim).
    */
  private def queryCosines(emb: DataFrame, n: Int): DataFrame = {
    val q = emb.select(col("vec_id").as("query_id"), col("qv").as("qqv"),
      col("nrm").as("qnrm")).filter(col("query_id") < n)
    emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm")))
  }

  /** The `k` best-`score` rows per query, ties to the lower `id`:
    * (query_id, id, score, rank).
    */
  private def rankTopK(scored: DataFrame, id: String, score: String, k: Int): DataFrame =
    topK(scored, "rank", k)(rowNumber("query_id")(col(score).desc, col(id)))
      .select(col("query_id"), col(id), col(score), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")

  /** LSH-bucketed ANN: 8 deterministic hyperplanes → 256 sign buckets;
    * candidates share the query's bucket (equi-join, no full scan per
    * query); top-3 by exact cosine within the bucket.
    */
  val annLsh = QueryDef.sql(
    "llm_ann_lsh", {
      val dots = (0 until 8).map(j => s"${Embed.hyperplaneDotSql(j)} AS d$j").mkString(",\n  ")
      s"""WITH emb AS (${Embed.preparedSql}),
         |bucketed AS (SELECT vec_id, qv, nrm, ${Embed.bucketSql(8)} AS bucket FROM (
         |  SELECT vec_id, qv, nrm, $dots FROM emb) d),
         |q AS (SELECT vec_id AS query_id, qv AS qqv, nrm AS qnrm, bucket
         |      FROM bucketed WHERE vec_id < $NumQueries),
         |scored AS (SELECT query_id, vec_id,
         |    ${Embed.cosineSql(Embed.dotSql("qqv", "qv"), "qnrm", "nrm")} AS cos_sim
         |  FROM bucketed JOIN q USING (bucket) WHERE vec_id != query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
         |           FROM scored)
         |SELECT query_id, vec_id, cos_sim, rank FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
  ) { (spark, dir) =>
    rankTopK(lshCandidates(Embed.prepared(embeddings(spark, dir)))
      .withColumn("cos_sim",
        expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm"))), "vec_id", "cos_sim", 3)
  }

  /** Query-block × corpus pairs that share one 8-hyperplane sign bucket,
    * self-pairs dropped: (bucket, vec_id, qv, nrm, query_id, qqv, qnrm).
    */
  private def lshCandidates(emb: DataFrame): DataFrame = {
    val bucketed = emb
      .withColumn("dots", expr("hyperplane_dots(qv, 8)"))
      .withColumn("bucket", expr(Embed.bandKeyDotsExpr(0, 8)))
      .select(col("vec_id"), col("qv"), col("nrm"), col("bucket"))
    val q = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nrm").as("qnrm"), col("bucket"))
    bucketed.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
  }

  // ---- embedding near-dup: banded multi-bit hyperplane LSH ----

  private val NdBands = 4
  private val NdBits = 8 // MINIMUM signature width; widens with the corpus
  private val NdMaxBits = 16 // static plane layout: band b owns planes [16b, 16b+16)
  private val NdTargetBucket = 16 // expected bucket occupancy the width maintains

  /** Embedding-cosine NEAR-DUP (the dedup-shaped variant of similarity
    * search), run over [[Fixtures.embeddingsNearDup]] (base
    * corpus + planted perturbed twins).
    *
    * Banded multi-bit signatures, same shape as MinHash-LSH: 32
    * independent hyperplanes → 4 bands × 8 sign bits; a pair is a
    * candidate iff it shares ANY band's full 8-bit key. Candidates come
    * only from the (band, bkey) equi-join — never all-pairs — and are
    * verified with exact quantized cosine ≥ 0.4.
    *
    * Scale: the round-2 form used ONE 4-bit bucket (16 values), so the
    * self-join degenerated to ~N²/32 pairs — quadratic with a small
    * constant. Per band, an 8-bit key spreads a random pair to 1/256;
    * 4 bands ⇒ expected candidates ~N²/128 of all pairs from random
    * collisions, while a true near-dup (cos ≈ 0.99, per-bit agreement
    * ≈ 0.96) shares a band with p ≈ 1-(1-0.96⁸)⁴ ≈ 0.99. Banding buys
    * recall concentrated on real dups instead of coarser buckets; more
    * bands/bits tune recall vs candidate volume independently. The bands
    * table carries only (vec_id, band, bkey) — vectors are joined back
    * for verification from the cached prepared table, so the exploded
    * shuffle payload stays 3 small integers per row.
    *
    * Round 7 — ADAPTIVE signature width: any FIXED bit count leaves the
    * N²/2^bits random-collision term quadratic, which is exactly what
    * the 10× ScaleProbe measures. The width now derives from the corpus
    * ([[graft.llm.Embed.adaptiveBits]]: keep expected bucket occupancy ≈
    * [[NdTargetBucket]]), computed with the same floor+integer-correct
    * arithmetic in both engines, over a STATIC [[NdMaxBits]]-bit plane
    * layout (band b owns planes [16b, 16b+16); the full 16-bit key is
    * masked down to the runtime width, so the SQL twin stays static).
    * At the correctness SFs and sf0.1 the formula yields the historical
    * 8 bits — behavior unchanged where the oracle gates; it widens only
    * when the corpus does (sf1 → 11 bits). Like [[graft.llm.SemDedup
    * .chooseK]], the knob is f(corpus), not a constant. Past
    * [[NdMaxBits]] the mask saturates harmlessly (the 16-bit key mod a
    * larger power of two is the identity, in both engines alike) —
    * ~1M vectors per 2^16-bucket band at target occupancy; beyond that
    * the static layout itself would grow (more planes/bands), a
    * one-constant change.
    */
  val embedNearDup = QueryDef.sql(
    "llm_embed_neardup",
    s"""WITH ${Fixtures.embeddingsNearDupCte},
       |emb AS (${Embed.preparedSqlFrom("emb_nd")}),
       |$ndCandCtesSql
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT vec_a, vec_b,
       |    ${Embed.cosineSql(Embed.dotSql("a.qv", "b.qv"), "a.nrm", "b.nrm")} AS cos_sim
       |  FROM cand JOIN emb a ON a.vec_id = cand.vec_a
       |            JOIN emb b ON b.vec_id = cand.vec_b) p
       |WHERE cos_sim >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  ) { (spark, dir) =>
    val emb = nearDupCorpus(spark, dir).cache()
    ndScored(ndBands(emb), emb)
      .filter(col("cos_sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** The prepared twinned near-dup corpus
    * ([[Fixtures.embeddingsNearDup]]).
    */
  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame =
    Embed.prepared(Fixtures.embeddingsNearDup(spark, dir))

  /** Banded sign keys of a prepared corpus, (vec_id, band, bkey): the
    * [[NdMaxBits]]-bit band key masked to the corpus-adaptive width
    * ([[graft.llm.Embed.adaptiveBits]] — the count is a scalar action
    * over `emb`, the chooseK precedent).
    */
  private def ndBands(emb: DataFrame): DataFrame = {
    val bits = Embed.adaptiveBits(emb.count(), NdBits, NdTargetBucket)
    val mask = 1L << bits
    val bandCols = (0 until NdBands).map(b => struct(lit(b).as("band"),
      (expr(Embed.bandKeyDotsExpr(b, NdMaxBits)) % lit(mask)).as("bkey")))
    emb
      .withColumn("dots", expr(s"hyperplane_dots(qv, ${NdBands * NdMaxBits})"))
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Pairs sharing any band bucket (vec_a < vec_b), joined back to `emb`
    * and scored by exact quantized cosine: (vec_b, vec_a, qa, na, qb, nb,
    * cos_sim).
    */
  private def ndScored(bands: DataFrame, emb: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")).distinct()
      .join(emb.select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("nrm").as("na")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("qv").as("qb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos_sim", expr(Embed.cosineSql(Embed.dotExpr("qa", "qb"), "na", "nb")))

  /** DuckDB twin of [[ndBands]] + the candidate join: CTEs `params` …
    * `cand(vec_a, vec_b)` over a prepared CTE named `emb`.
    */
  private def ndCandCtesSql: String = {
    val dots = (0 until NdBands * NdMaxBits)
      .map(j => s"${Embed.hyperplaneDotSql(j)} AS d$j").mkString(",\n  ")
    val bandsSql = (0 until NdBands)
      .map(b => s"SELECT vec_id, $b AS band, ${Embed.bandKeySql(b, NdMaxBits)} AS key FROM dots")
      .mkString("\nUNION ALL\n")
    s"""${Embed.adaptiveBitsCteSql("emb", NdBits, NdTargetBucket)},
       |dots AS (SELECT vec_id, $dots FROM emb),
       |bands AS ($bandsSql),
       |bandsm AS (SELECT vec_id, band,
       |             key % CAST(POW(2, (SELECT bits FROM params)) AS BIGINT) AS bkey
       |           FROM bands),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bandsm a JOIN bandsm b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)""".stripMargin
  }

  /** Neighbors kept per node in the KNN graph. */
  private val KnnK = 3

  /** KNN-graph construction — per-NODE top-k neighbor edges over the
    * whole corpus (where [[embedTopk]]/[[annLsh]] serve a fixed QUERY
    * set, and [[embedNearDup]] emits threshold pairs): the edge list
    * that graph-based curation consumes (SemDeDup-style cluster
    * analysis, connected-component dedup via [[dedupClusters]], graph
    * diversity sampling). Candidates come ONLY from shared adaptive-width
    * LSH band buckets — the same banded machinery as [[embedNearDup]],
    * reused verbatim — then each node ranks its bucket-mates by exact
    * quantized cosine and keeps [[KnnK]]. Nodes whose buckets hold no
    * other member emit no edges (documented: the graph is over
    * LSH-connectable nodes, exactly the set a threshold variant sees).
    *
    * 100 TB shape: bucket occupancy is held ≈[[NdTargetBucket]] by the
    * corpus-adaptive signature width, so candidate edges stay LINEAR in
    * n; the per-src top-k is a window over those bounded candidate sets
    * (WindowGroupLimit prunes to k per partition before the final sort).
    * No all-pairs stage anywhere.
    */
  val knnGraph = QueryDef.sql(
    "llm_knn_graph",
    s"""WITH emb AS (${Embed.preparedSql}),
       |$ndCandCtesSql,
       |scored AS (SELECT vec_a, vec_b,
       |    ${Embed.cosineSql(Embed.dotSql("a.qv", "b.qv"), "a.nrm", "b.nrm")} AS cos_sim
       |  FROM cand JOIN emb a ON a.vec_id = cand.vec_a
       |            JOIN emb b ON b.vec_id = cand.vec_b),
       |edges AS (SELECT vec_a AS src, vec_b AS dst, cos_sim FROM scored
       |          UNION ALL
       |          SELECT vec_b AS src, vec_a AS dst, cos_sim FROM scored),
       |ranked AS (SELECT src, dst, cos_sim, row_number() OVER (
       |    PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
       |  FROM edges)
       |SELECT src, dst, cos_sim, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY src, rank""".stripMargin
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir)).cache()
    // materialize (round 16, guide §5): bands feeds BOTH sides of the
    // candidate self-join — left lazy, the 16-hyperplane dot projection
    // executed twice per rep
    val bands = Fixtures.materialized(ndBands(emb))
    // materialize: scored feeds BOTH unionAll branches of the edge
    // symmetrization — left lazy, the verify join + cosine executed twice
    val scored = Fixtures.materialized(ndScored(bands, emb)
      .select(col("vec_a"), col("vec_b"), col("cos_sim")))
    val edges = scored.select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos_sim"))
      .unionAll(scored.select(col("vec_b").as("src"), col("vec_a").as("dst"), col("cos_sim")))
    topK(edges, "rank", KnnK)(rowNumber("src")(col("cos_sim").desc, col("dst")))
      .select(col("src"), col("dst"), col("cos_sim"), col("rank").cast("long").as("rank"))
      .orderBy("src", "rank")
  }

  /** IVF-style ANN (the coarse-quantizer scale path alongside the LSH
    * variant): K=16 centroids partition the corpus into inverted lists;
    * a query probes only its nprobe=2 nearest lists, so the exact-scoring
    * scan touches nprobe/K of the corpus instead of all of it.
    *
    * The centroids here are the first K NON-QUERY corpus vectors (the
    * deterministic init — disjoint from the query block, see
    * [[graft.llm.Ivf.initCent]]); [[annIvfTrained]] runs the same search
    * over a codebook trained in-engine from the same init. Assignment is one scan against the BROADCAST codebook — a
    * bounded N×K nested loop (K constant ⇒ linear), collapsed by a HASH
    * aggregate before any exchange — see [[graft.llm.Ivf]] for the plan
    * shape (no window over N×K, no N×K cache).
    */
  val annIvf = QueryDef.sql(
    "llm_ann_ivf",
    s"""WITH emb AS (${Embed.preparedSql}),
       |cent AS (${Ivf.initCentSql(IvfK, NumQueries)}),
       |${Ivf.searchSql(IvfK, NumQueries, IvfProbes, 3)}""".stripMargin
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir)).cache()
    Ivf.search(emb, Ivf.initCent(emb, IvfK, NumQueries), IvfK, NumQueries, IvfProbes, 3)
  }

  /** Number of in-engine Lloyd iterations for the trained codebook. */
  private val IvfIters = 2

  /** [[annIvf]] with the codebook TRAINED in-engine: [[IvfIters]]
    * deterministic Lloyd iterations (init = first K corpus vectors), each
    * a pair of hash aggregations with integer-quantized centroid output so
    * the DuckDB oracle replays training bit-identically
    * ([[graft.llm.Ivf.lloydIter]]). Exercises iterative DataFrame
    * aggregation — the codebook lineage chains through K-row broadcasts.
    */
  val annIvfTrained = QueryDef.sql(
    "llm_ann_ivf_trained", {
      val iterCtes = (1 to IvfIters).map { i =>
        val prev = if (i == 1) "cent0" else s"cent${i - 1}"
        val next = if (i == IvfIters) "cent" else s"cent$i"
        Ivf.lloydIterSql(prev, next, IvfK)
      }.mkString(",\n")
      s"""WITH emb AS (${Embed.preparedSql}),
         |cent0 AS (${Ivf.initCentSql(IvfK, NumQueries)}),
         |$iterCtes,
         |${Ivf.searchSql(IvfK, NumQueries, IvfProbes, 3)}""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir)).cache()
    val trained = (1 to IvfIters).foldLeft(Ivf.initCent(emb, IvfK, NumQueries))(
      (c, _) => Ivf.lloydIter(emb, c, IvfK))
      .cache() // K rows — stops the search's two broadcasts re-running Lloyd
    Ivf.search(emb, trained, IvfK, NumQueries, IvfProbes, 3)
  }

  /** [[annIvf]] at the RUNTIME-K scale shape (round 14): the fixture
    * entries pin K = 16, but a production IVF sizes its codebook from the
    * corpus (K = [[graft.llm.SemDedup.chooseK]](N, 35) here, the same
    * sizing the semantic-dedup path uses) — and at that shape the flat
    * N×K assignment is FLOP-quadratic, so this entry routes assignment
    * through the two-level [[graft.llm.Ivf.assignHier]]
    * ([[graft.llm.Ivf.searchScaled]]). Probe selection stays a bounded
    * numQueries×K scan. The oracle derives the SAME K from COUNT(*) and
    * states the SAME two-level algorithm — like [[semDedupGuarded]], the
    * gate exercises the degenerate G = K branch at sf0.001/sf0.01
    * (K = 13) and the trained G = ⌈√K⌉ branch at sf0.1 (K = 58).
    */
  /** Codebook sizing target for [[annIvfScaled]] — same value as
    * [[semDedupGuarded]]'s `GuardedTarget` (declared separately because
    * Scala object vals initialize in declaration order and that one
    * lives further down the file).
    */
  private val ScaledTarget = 35

  val annIvfScaled = QueryDef.sql(
    "llm_ann_ivf_scaled",
    s"""WITH emb AS (${Embed.preparedSql}),
       |kk AS (SELECT GREATEST(4, LEAST((COUNT(*) + ${ScaledTarget - 1}) // $ScaledTarget,
       |                                1048576)) AS k FROM emb),
       |cent AS (SELECT CAST(vec_id - $NumQueries AS INT) AS cent_id, qv AS cqv, nrm AS cnrm
       |         FROM emb WHERE vec_id >= $NumQueries
       |           AND vec_id < $NumQueries + (SELECT k FROM kk)),
       |${Ivf.hierGSql},
       |${Ivf.searchScaledSql(NumQueries, IvfProbes, 3)}""".stripMargin
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir)).cache()
    val k = graft.llm.SemDedup.chooseK(emb.count(), ScaledTarget)
    val cent = Ivf.initCent(emb, k, NumQueries)
    // round 16: the two-level corpus assignment IS the IVF index (the
    // inverted lists) — a deployment builds it once and serves query
    // blocks against it (the frozen-index discipline of
    // llm_incremental_neardup). Memoized per (app, dir), released by
    // clearDerivedCache; the SEARCH (probe selection, candidate join,
    // exact rescore, top-N) stays per-rep — it is the serve-side
    // operator. Values unchanged: the memo holds the identical frame
    // searchScaled built inline.
    val index = Fixtures.derived(spark, dir,
      "ivf_scaled_index")(Ivf.assignHier(emb, cent, k))
    Ivf.searchWith(index, emb, cent, k, NumQueries, IvfProbes, 3)
  }

  /** PQ shortlist size (ADC candidates per query before exact re-rank).
    * ~8× over-retrieve for top-3 — on the (near-random, worst case)
    * fixture, recall@3 measured 0.22/0.39/0.61 at shortlist 10/25/50
    * with the trained codebook (PERF_NOTES.md, *Probe mains folded into
    * four*); 25 is the knee of that curve.
    */
  private val PqShortlist = 25

  /** Product-quantization ANN — the MEMORY scale path alongside IVF
    * (compute) and LSH (bucketing): corpus stored as 4×4-bit codes
    * (128× smaller than the float vectors), queries scan codes via a
    * broadcast ADC distance table, and raw vectors are touched only to
    * re-rank a [[PqShortlist]]-bounded shortlist. Codebooks are trained
    * in-engine (one deterministic Lloyd step per subspace — all M
    * subspaces in ONE exploded stream, two hash aggregates total); every
    * distance is exact integer L2² so the oracle replays training,
    * encoding, and ADC bit-identically. See [[graft.llm.Pq]] for the
    * 100 TB argument.
    */
  val annPq = QueryDef.sql(
    "llm_ann_pq",
    s"""WITH emb AS (SELECT * FROM (${Embed.preparedSql}) e0 WHERE nrm > 0),
       |${Pq.subvecsSql},
       |${Pq.initCbSql(NumQueries)},
       |${Pq.lloydIterSql(NumQueries)},
       |${Pq.searchSql(NumQueries, PqShortlist, 3)}""".stripMargin
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir))
      .filter(col("nrm") > 0).cache()
    val subn = Pq.subvecs(emb)
    // M·K rows — cache stops the search's two consumers re-running Lloyd
    val cb = Pq.lloydIter(subn, Pq.initCb(subn, NumQueries), NumQueries).cache()
    Pq.search(emb, subn, cb, NumQueries, PqShortlist, 3)
  }

  // ---- TF-IDF retrieval: sparse-vector cosine top-k ----

  private val TfidfQueries = 8
  private val TfidfTopN = 5

  /** Integer idf quantum: weight = tf · min((N·1024) div df, 2^20). The
    * cap bounds every product/sum far below 2^63 at ANY corpus size (w ≤
    * tf·2^20; doc norms ≤ Σ tf²·2^40 — safe while docs stay under ~2^10
    * tokens of one term), and integer division keeps both engines
    * bit-identical where `ln`-based idf would diverge in the last ulp.
    */
  private val IdfCap = 1 << 20

  /** Sparse TF-IDF cosine retrieval — the lexical complement of the dense
    * [[embedTopk]]: inverted-index join on terms, not an all-pairs scan.
    *
    * 100 TB shape: postings (doc, term, w) are one token explode + hash
    * aggregate; the QUERY block's postings are tiny and broadcast, so
    * scoring is a broadcast-hash join on term + one partial-aggregated
    * sum per (query, doc) — the corpus-side postings never shuffle. The
    * idf cap doubles as the hot-term guard: ubiquitous terms carry the
    * minimum weight (df-cut on stopword-like terms is the same lever as
    * ngram_jaccard's, applicable here when the termlist grows).
    */
  val tfidfTopk = QueryDef.sql(
    "llm_tfidf_topk",
    s"""WITH $docTermsCtesSql,
       |total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
       |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS dfv FROM toks GROUP BY t),
       |w AS (SELECT doc_id, toks.t AS t,
       |        tf * least((n_docs * 1024) // dfv, $IdfCap) AS w
       |      FROM toks JOIN dfreq ON toks.t = dfreq.t CROSS JOIN total),
       |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm FROM w GROUP BY doc_id),
       |dots AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
       |           CAST(sum(q.w * c.w) AS BIGINT) AS dot
       |         FROM w q JOIN w c ON q.t = c.t
       |         WHERE q.doc_id < $TfidfQueries AND q.doc_id <> c.doc_id
       |         GROUP BY q.doc_id, c.doc_id),
       |scored AS (SELECT query_id, dots.doc_id AS doc_id,
       |    ${Embed.cosineSql("dot", "nq.nrm", "nc.nrm")} AS tfidf_cos
       |  FROM dots JOIN nrm nq ON nq.doc_id = dots.query_id
       |            JOIN nrm nc ON nc.doc_id = dots.doc_id),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY tfidf_cos DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT query_id, doc_id, tfidf_cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $TfidfTopN
       |ORDER BY query_id, rank""".stripMargin
  ) { (spark, dir) =>
    val (docs, toks) = docTerms(spark, dir)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = toks.groupBy("t").agg(count(lit(1)).as("dfv"))
    val w = toks.join(dfreq, "t").crossJoin(broadcast(total))
      .selectExpr("doc_id", "t",
        s"tf * least((n_docs * 1024) div dfv, CAST($IdfCap AS BIGINT)) AS w")
      .cache()
    val nrm = w.groupBy("doc_id").agg(sum(expr("w * w")).as("nrm"))
    val qw = w.filter(col("doc_id") < TfidfQueries)
      .select(col("doc_id").as("query_id"), col("t"), col("w").as("wq"))
    val dots = w.join(broadcast(qw), "t")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(sum(expr("w * wq")).as("dot"))
    rankTopK(dots
      .join(nrm.select(col("doc_id").as("query_id"), col("nrm").as("nq")), "query_id")
      .join(nrm.select(col("doc_id"), col("nrm").as("nc")), "doc_id")
      .withColumn("tfidf_cos", expr(Embed.cosineSql("dot", "nq", "nc"))),
      "doc_id", "tfidf_cos", TfidfTopN)
  }

  /** Tokenized docs (doc_id, tk) and their term counts (doc_id, t, tf) —
    * the postings [[tfidfTopk]] and [[bm25Scores]] weight.
    */
  private def docTerms(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val toks = docs.select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    (docs, toks)
  }

  /** DuckDB CTEs `docs`, `toks`: the [[docTerms]] postings. */
  private def docTermsCtesSql: String =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |toks AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      |         FROM (SELECT doc_id, unnest(tk) AS t FROM docs) u
      |         GROUP BY doc_id, t)""".stripMargin

  // ---- BM25 retrieval: length-normalized lexical ranking ----

  /** BM25 score scaled to integers — k1 = 1.2 and b = 0.75 spelled as
    * exact rationals so BOTH engines compute the identical BIGINT.
    * With A = (1024·total_tokens) div n_docs (avgdl in 1/1024 units),
    * the per-term saturation tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * multiplied through by 20·A becomes
    *   (1024 · 44·tf·A) div (20·A·tf + 6·A + 18432·dl)
    * — every factor integer, bounded by 1024·44/20 ≈ 2252 regardless of
    * corpus size (A is an AVERAGE, ~dl-sized, so the numerator never
    * grows with N — the reason avgdl is quantized up front instead of
    * carrying total_tokens through the formula). The idf leg reuses
    * [[IdfCap]]'s capped rational proxy: monotone in 1/df like log-idf,
    * but `ln`-free because ln is not bit-identical across engines (the
    * [[langClassify]] precedent).
    */
  private def bm25TermSql(tf: String, dl: String) =
    s"(45056 * $tf * A) // (20 * A * $tf + 6 * A + 18432 * $dl)"

  /** BM25 top-k retrieval — the length-normalized complement of
    * [[tfidfTopk]]'s raw-tf cosine: long docs stop winning on bulk (the
    * b·dl/avgdl leg), repeated terms saturate (the k1 leg). Query docs
    * are the first [[TfidfQueries]] doc_ids; query-term multiplicity
    * multiplies the score (qtf · idf · saturation — the common k3→∞
    * simplification, stated rather than implied).
    *
    * 100 TB shape: identical to tfidf — postings from one explode +
    * hash aggregate, tiny query-side postings broadcast, the corpus
    * side never shuffles; dl/A add one map-side join against a
    * broadcast two-scalar table. Ranking is a per-query top-k window
    * over only the docs sharing a query term.
    */
  val bm25Topk = QueryDef.sql(
    "llm_bm25_topk",
    s"""WITH ${bm25CtesSql("scored")},
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT query_id, doc_id, bm25, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $TfidfTopN
       |ORDER BY query_id, rank""".stripMargin
  ) { (spark, dir) => rankTopK(bm25Scores(spark, dir), "doc_id", "bm25", TfidfTopN) }

  /** BM25 scores (query_id, doc_id, bm25) of every doc sharing a term with
    * one of the first [[TfidfQueries]] docs, over the cached weight table
    * `w` (doc_id, t, tf, w).
    */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val (docs, toks) = docTerms(spark, dir)
    val dls = docs.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      expr("(1024 * sum(dl)) div count(*)").as("A"))
    val w = toks
      .join(toks.groupBy("t").agg(count(lit(1)).as("dfv")), "t")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id", "t", "tf",
        s"least((n_docs * 1024) div dfv, CAST($IdfCap AS BIGINT)) * " +
          s"${bm25TermSql("tf", "dl").replace("//", "div")} AS w")
      .cache()
    val qw = w.filter(col("doc_id") < TfidfQueries)
      .select(col("doc_id").as("query_id"), col("t"), col("tf").as("qtf"))
    w.join(broadcast(qw), "t")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(sum(expr("qtf * w")).as("bm25"))
  }

  /** DuckDB twin of [[bm25Scores]]: CTEs `docs` … `w` and the score table
    * under the name `scored`.
    */
  private def bm25CtesSql(scored: String): String =
    s"""$docTermsCtesSql,
       |dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM docs),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 (1024 * CAST(sum(dl) AS BIGINT)) // count(*) AS A
       |          FROM dls),
       |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS dfv FROM toks GROUP BY t),
       |w AS (SELECT toks.doc_id AS doc_id, toks.t AS t,
       |        least((n_docs * 1024) // dfv, $IdfCap) *
       |          ${bm25TermSql("tf", "dl")} AS w, tf
       |      FROM toks JOIN dfreq ON toks.t = dfreq.t
       |                JOIN dls ON toks.doc_id = dls.doc_id
       |                CROSS JOIN stats),
       |$scored AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
       |             CAST(sum(q.tf * c.w) AS BIGINT) AS bm25
       |           FROM w q JOIN w c ON q.t = c.t
       |           WHERE q.doc_id < $TfidfQueries AND q.doc_id <> c.doc_id
       |           GROUP BY q.doc_id, c.doc_id)""".stripMargin

  // ---- hybrid retrieval: reciprocal-rank fusion of BM25 + dense ----

  /** Depth of each source rank list entering the fusion, and the RRF
    * smoothing constant (60 is the canonical choice from the original
    * reciprocal-rank-fusion evaluation; it damps the head so one list's
    * #1 cannot outvote broad agreement lower down).
    */
  private val RrfDepth = 20
  private val RrfC = 60L

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical
    * ([[bm25Topk]]) and dense (quantized-cosine, [[embedTopk]]) rank
    * lists: score(d) = Σ_lists 10^6 div (C + rank_list(d)), fused top-10
    * per query with per-source membership flags. The RAG-stack shape:
    * rank fusion needs no score calibration between incommensurable
    * scorers (integer BM25 vs cosine), only ranks — which is why it
    * ships in production hybrid search. Queries are the first
    * [[TfidfQueries]] doc_ids; vec_id keys the same item's embedding
    * (the fixture generates them in correspondence).
    *
    * 100 TB shape: both sources keep their own scale plans (postings
    * equi-join / brute-force-to-ANN scan); the fusion itself touches
    * only the two depth-[[RrfDepth]] rank lists per query — queries ×
    * depth × 2 rows, broadcast-sized by construction. All-integer
    * scores, deterministic ties by doc_id.
    */
  val rrfFusion = QueryDef.sql(
    "llm_rrf_fusion",
    s"""WITH ${bm25CtesSql("lexscored")},
       |lex AS (SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS lex_rank
       |    FROM lexscored) r WHERE lex_rank <= $RrfDepth),
       |emb AS (${Embed.preparedSql}),
       |qe AS (SELECT vec_id AS query_id, qv AS qqv, nrm AS qnrm FROM emb
       |       WHERE vec_id < $TfidfQueries),
       |semscored AS (SELECT query_id, vec_id AS doc_id,
       |    ${Embed.cosineSql(Embed.dotSql("qqv", "qv"), "qnrm", "nrm")} AS cos_sim
       |  FROM emb, qe WHERE vec_id != query_id),
       |sem AS (SELECT query_id, doc_id, sem_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS sem_rank
       |    FROM semscored) r WHERE sem_rank <= $RrfDepth),
       |fused AS (SELECT coalesce(l.query_id, s.query_id) AS query_id,
       |    coalesce(l.doc_id, s.doc_id) AS doc_id,
       |    coalesce(1000000 // ($RrfC + l.lex_rank), 0)
       |      + coalesce(1000000 // ($RrfC + s.sem_rank), 0) AS rrf,
       |    l.lex_rank IS NOT NULL AS in_lex,
       |    s.sem_rank IS NOT NULL AS in_sem
       |  FROM lex l FULL JOIN sem s
       |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
       |SELECT query_id, doc_id, rrf, in_lex, in_sem,
       |  CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank FROM fused) f
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  ) { (spark, dir) =>
    val lex = topK(bm25Scores(spark, dir), "lex_rank", RrfDepth)(
        rowNumber("query_id")(col("bm25").desc, col("doc_id")))
      .select("query_id", "doc_id", "lex_rank")
    val sem = topK(queryCosines(Embed.prepared(embeddings(spark, dir)), TfidfQueries),
        "sem_rank", RrfDepth)(rowNumber("query_id")(col("cos_sim").desc, col("vec_id")))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full")
      .selectExpr("query_id", "doc_id",
        s"coalesce(CAST(1000000 AS BIGINT) div ($RrfC + lex_rank), CAST(0 AS BIGINT)) " +
          s"+ coalesce(CAST(1000000 AS BIGINT) div ($RrfC + sem_rank), CAST(0 AS BIGINT)) AS rrf",
        "lex_rank IS NOT NULL AS in_lex",
        "sem_rank IS NOT NULL AS in_sem")
    topK(fused, "rank", 10)(rowNumber("query_id")(col("rrf").desc, col("doc_id")))
      .selectExpr("query_id", "doc_id", "rrf", "in_lex", "in_sem",
        "CAST(rank AS BIGINT) AS rank")
      .orderBy("query_id", "rank")
  }

  // ---- semantic dedup: IVF-clustered embedding near-dup drop ----

  /** Twins perturb at cos ≈ 0.99; the raw corpus maxes at 0.51 — the
    * threshold sits in the wide gap.
    */
  private val SemThreshold = 0.98

  /** Semantic deduplication (the SemDeDup design): coarse-cluster the
    * embedding space with the IVF quantizer, then compare pairs ONLY
    * within a cluster and drop every vector with a ≥-threshold neighbor
    * of smaller id. The cluster restriction is what makes it scale — the
    * pairwise stage is K independent problems of ~N/K vectors (quadratic
    * only within a cluster; K grows with the corpus), and near-dups
    * land in the same cluster by construction since the quantizer maps
    * cos-0.99 twins to the same nearest centroid. Runs on the twinned
    * near-dup fixture so recall is measurable, like [[embedNearDup]].
    *
    * K here is fixture-pinned (a static DuckDB twin cannot derive K from
    * a runtime count — and [[graft.llm.SemDedup.chooseK]](550, 35) = 16
    * is exactly this entry's shape). The PRODUCTION path is
    * [[graft.llm.SemDedup.guardedAssign]] (round 6): K = f(corpus size),
    * oversized clusters split by a second-level quantizer, unsplittable
    * ones flagged `capped` and excluded from the quadratic stage —
    * SemDedupSpec pins all three behaviors on a skewed fixture.
    */
  val semDedup = QueryDef.sql(
    "llm_semdedup", {
      val pairCos = Embed.cosineSql(Embed.dotSql("x.qv", "y.qv"), "x.nrm", "y.nrm")
      s"""WITH ${Fixtures.embeddingsNearDupCte},
         |emb AS (${Embed.preparedSqlFrom("emb_nd")}),
         |cent AS (${Ivf.initCentSql(IvfK, 0)}),
         |${Ivf.assignCtesSql(IvfK)},
         |mem AS (SELECT a.vec_id, a.cent_id, e.qv, e.nrm
         |        FROM assign a JOIN emb e USING (vec_id)),
         |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
         |          FROM mem x JOIN mem y
         |            ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
         |          WHERE $pairCos >= $SemThreshold),
         |dups AS (SELECT b AS vec_id, min(a) AS dup_of FROM pairs GROUP BY b)
         |SELECT s.vec_id, s.cent_id, coalesce(d.dup_of, -1) AS dup_of,
         |       d.vec_id IS NOT NULL AS dropped
         |FROM assign s LEFT JOIN dups d USING (vec_id)
         |ORDER BY s.vec_id""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = nearDupCorpus(spark, dir).cache()
    val assigned = Ivf.assign(emb, Ivf.initCent(emb, IvfK, 0), IvfK)
    val mem = assigned.join(emb.select("vec_id", "qv", "nrm"), "vec_id")
    val x = mem.select(col("vec_id").as("a"), col("cent_id"),
      col("qv").as("aqv"), col("nrm").as("anrm"))
    val y = mem.select(col("vec_id").as("b"), col("cent_id"),
      col("qv").as("bqv"), col("nrm").as("bnrm"))
    val pairs = x.join(y, Seq("cent_id"))
      .filter(col("a") < col("b"))
      .filter(expr(Embed.cosineSql(Embed.dotExpr("aqv", "bqv"), "anrm", "bnrm"))
        >= SemThreshold)
    val dups = pairs.groupBy(col("b").as("vec_id")).agg(min("a").as("dup_of"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNotNull.as("dropped"))
      .orderBy("vec_id")
  }

  /** [[semDedupGuarded]]'s target cluster size — also baked into its
    * oracle's K derivation below.
    */
  private val GuardedTarget = 35

  /** The guarded production path of [[semDedup]], driver-gated (round 6):
    * [[graft.llm.SemDedup.guardedAssign]] with K derived from the corpus
    * count. The oracle derives the SAME K in SQL (round 12 — the r11-asked
    * full sf0.1 gate caught the r6 static-K=16 twin diverging at N = 2050,
    * where `chooseK` = 59): `chooseK(n, target) = max(4, min(⌈n/target⌉,
    * 2^20))` is pure integer arithmetic both engines state identically
    * (the adaptiveBits discipline), the codebook CTE seeds vec_id < K —
    * so the twin holds at EVERY SF, not just where K happens to equal 16.
    *
    * Round 14 (r13 verdict item 1): the assignment itself is now the
    * TWO-LEVEL [[graft.llm.Ivf.assignHier]] — O(N·√K) dots instead of the
    * FLOP-quadratic O(N·K) flat argmax — and the oracle states the SAME
    * two-level algorithm ([[graft.llm.Ivf.hierAssignCtesSql]]: G from
    * [[graft.llm.Ivf.hierGSql]], coarse codebook Lloyd-trained on the
    * centroid table, live-cell coarse argmax, fine argmax within), so the
    * cross-engine hash holds on BOTH branches: the degenerate G = K one
    * (≡ flat; sf0.001/sf0.01, K = 4/16) and the trained G = ⌈√K⌉ one
    * (sf0.1, K = 59 ≥ HierMinK = 32). On the twinned fixture no cluster
    * exceeds the 550 bound at any shipped SF, so the guarded output
    * equals the assignment mapped to refined keys (`cent_id·64`, no
    * splits, nothing capped) — and if a future fixture DID trip a
    * split/cap, the Spark side would emit split/capped rows the oracle
    * doesn't state: a loud value failure, never a silent one. The
    * guard-FIRING paths (split, cap, zero-norm reserve) stay pinned by
    * SemDedupSpec on a skewed fixture.
    */
  val semDedupGuarded = QueryDef.sql(
    "llm_semdedup_guarded", {
      s"""WITH ${Fixtures.embeddingsNearDupCte},
         |emb AS (${Embed.preparedSqlFrom("emb_nd")}),
         |kk AS (SELECT GREATEST(4, LEAST((COUNT(*) + ${GuardedTarget - 1}) // $GuardedTarget,
         |                                1048576)) AS k FROM emb),
         |cent AS (SELECT CAST(vec_id AS INT) AS cent_id, qv AS cqv, nrm AS cnrm
         |         FROM emb WHERE vec_id >= 0 AND vec_id < (SELECT k FROM kk)),
         |${Ivf.hierGSql},
         |${Ivf.hierAssignCtesSql}
         |SELECT vec_id, cluster_key, split, capped FROM (
         |  SELECT vec_id,
         |    CAST(cent_id AS BIGINT) * ${graft.llm.SemDedup.SubCap} AS cluster_key,
         |    false AS split, false AS capped
         |  FROM assign
         |  UNION ALL
         |  -- zero-norm vectors: the assign CTE's nrm > 0 filter drops them,
         |  -- the Scala path surfaces them under the reserved capped key -1 —
         |  -- keep both renderings TOTAL so a future zero-norm fixture vector
         |  -- fails on values, not on a confusing row-count diff (r6 advice)
         |  SELECT vec_id, CAST(-1 AS BIGINT) AS cluster_key,
         |    false AS split, true AS capped
         |  FROM emb WHERE nrm <= 0
         |) u ORDER BY vec_id""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = nearDupCorpus(spark, dir).cache()
    graft.llm.SemDedup.guardedAssign(emb,
        targetClusterSize = GuardedTarget, maxClusterSize = 550)
      .orderBy("vec_id")
  }

  /** The exact-dedup fold capped clusters are routed to
    * ([[graft.llm.SemDedup.cappedExactDedup]], round 7 — round 6 flagged
    * capped clusters but ran nothing over them). Driver-oracled via a
    * deterministic capped scenario both engines can state: the K=16
    * assignment over the REDELIVERED embedding fixture (exact re-crawl
    * copies under fresh ids, [[graft.fixtures.Fixtures
    * .embeddingsRedelivered]]), with clusters whose size exceeds 1.1× the
    * mean marked capped — a relative threshold, so it fires at every SF
    * (both engines derive it from identical integer counts, so the double
    * compare agrees). The redelivered copies quantize identically to
    * their originals and collapse under the fold; the ≈0.99-cosine twins
    * do NOT (exact dedup is precision-honest). The guard-FIRING composition
    * guardedAssign → cappedExactDedup (runtime-K, unsplittable identical
    * cluster, zero-norm reserve key) is pinned by SemDedupSpec.
    */
  val semDedupCapped = QueryDef.sql(
    "llm_semdedup_capped",
    s"""WITH ${Fixtures.embeddingsNearDupCte},
       |${Fixtures.embeddingsRedeliveredCte},
       |emb AS (${Embed.preparedSqlFrom("emb_rd")}),
       |cent AS (${Ivf.initCentSql(IvfK, 0)}),
       |${Ivf.assignCtesSql(IvfK)},
       |sizes AS (SELECT cent_id, COUNT(*) AS sz FROM assign GROUP BY cent_id),
       |capped AS (SELECT cent_id FROM sizes
       |           WHERE sz > 1.1 * (SELECT AVG(sz) FROM sizes)),
       |mem AS (SELECT a.vec_id, a.cent_id, e.qv
       |        FROM assign a JOIN capped USING (cent_id) JOIN emb e USING (vec_id)),
       |keep AS (SELECT cent_id, qv, MIN(vec_id) AS keeper
       |         FROM mem GROUP BY cent_id, qv)
       |SELECT m.vec_id, CAST(m.cent_id AS BIGINT) * ${graft.llm.SemDedup.SubCap} AS cluster_key,
       |  CASE WHEN m.vec_id = k.keeper THEN CAST(-1 AS BIGINT) ELSE k.keeper END AS dup_of,
       |  m.vec_id <> k.keeper AS dropped
       |FROM mem m JOIN keep k ON m.cent_id = k.cent_id AND m.qv = k.qv
       |ORDER BY m.vec_id""".stripMargin
  ) { (spark, dir) =>
    val emb = Embed.prepared(
      Fixtures.embeddingsRedelivered(spark, dir)).cache()
    val assigned = Ivf.assign(emb, Ivf.initCent(emb, IvfK, 0), IvfK)
    val sizes = assigned.groupBy("cent_id").agg(count(lit(1)).as("sz"))
    // K rows — the mean is a broadcast scalar, same role as in guardedAssign
    val meanSz = sizes.agg(avg("sz").as("mean_sz"))
    val flagged = sizes.crossJoin(broadcast(meanSz))
      .select(col("cent_id"), (col("sz") > lit(1.1) * col("mean_sz")).as("capped"))
    val assignment = assigned.join(broadcast(flagged), "cent_id")
      .select(col("vec_id"),
        (col("cent_id").cast("long") * graft.llm.SemDedup.SubCap).as("cluster_key"),
        lit(false).as("split"), col("capped"))
    graft.llm.SemDedup.cappedExactDedup(emb, assignment).orderBy("vec_id")
  }

  // ---- embedding outliers: prototypicality pruning ----

  /** Cells for the outlier pass; 500 vectors → ~60/cell. */
  private val OutlierK = 8

  /** Cosine quantum 2^40 (the [[graft.llm.Ivf]] packed-key scale) and the
    * outlier margin 0.15·2^40 — sized to the corpus geometry: member
    * cosines cluster at ≈0.19 with a below-mean deficit of 0.146 at p95,
    * so 0.15 flags the genuine ~5% tail rather than a third of every
    * cell. pos_q = floor(cos·2^40) + 2^40 shifts the
    * quantized cosine non-negative so the per-cell integer mean is
    * floor-division in BOTH engines (Spark `div` truncates toward zero,
    * DuckDB `//` floors — they only agree on non-negatives; the shift
    * cancels out of the `pos_q < avg − margin` comparison exactly).
    */
  private val OutScale = 1099511627776L
  private val OutMargin = 164926744166L

  /** Embedding-outlier pruning (the prototypicality filter — SemDeDup's
    * companion pass: where [[semDedup]] drops points TOO CLOSE to a
    * neighbor, this flags points too FAR from their region — broken
    * embeddings, mislabeled modality, encoder failures): assign every
    * vector to its nearest coarse cell ([[graft.llm.Ivf.assign]], the
    * max_by hash aggregate), compute each cell's mean member→centroid
    * cosine in exact integer arithmetic, and flag members whose cosine
    * sits more than 0.05 below their cell mean.
    *
    * 100 TB shape: assignment is the one corpus-sized pass (map-side
    * partial-aggregated, never materializing N×K); the member cosine is
    * a map-side expression under a BROADCAST centroid join; cell stats
    * are K rows broadcast back. No windows, no corpus shuffle beyond the
    * assignment aggregate. Caveat pinned: Σpos_q per cell must stay
    * under 2^63 — fine to ~4·10^21-member cells, i.e. always.
    */
  val embedOutliers = QueryDef.sql(
    "llm_embed_outliers", {
      val memberCos = Embed.cosineSql(Embed.dotSql("c.cqv", "e.qv"), "c.cnrm", "e.nrm")
      s"""WITH emb AS (${Embed.preparedSql}),
         |cent AS (${Ivf.initCentSql(OutlierK, 0)}),
         |${Ivf.assignCtesSql(OutlierK)},
         |scored AS (SELECT a.vec_id, a.cent_id,
         |    CAST(floor(($memberCos) * $OutScale) AS BIGINT) + $OutScale AS pos_q
         |  FROM assign a JOIN emb e ON e.vec_id = a.vec_id
         |                JOIN cent c ON c.cent_id = a.cent_id),
         |cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS cell_n,
         |    CAST(sum(pos_q) AS BIGINT) // CAST(count(*) AS BIGINT) AS cell_avg_q
         |  FROM scored GROUP BY cent_id)
         |SELECT s.vec_id, s.cent_id, s.pos_q - $OutScale AS cos_q, c.cell_n,
         |  c.cell_avg_q - $OutScale AS cell_avg_cos_q,
         |  s.pos_q < c.cell_avg_q - $OutMargin AS is_outlier
         |FROM scored s JOIN cells c USING (cent_id)
         |ORDER BY s.vec_id""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir))
    val cent = Ivf.initCent(emb, OutlierK, 0)
    val scored = Ivf.assign(emb, cent, OutlierK)
      .join(emb.select("vec_id", "qv", "nrm"), "vec_id")
      .join(broadcast(cent), "cent_id")
      .withColumn("ccos",
        expr(Embed.cosineSql(Embed.dotExpr("cqv", "qv"), "cnrm", "nrm")))
      .selectExpr("vec_id", "cent_id",
        s"CAST(floor(ccos * $OutScale) AS BIGINT) + CAST($OutScale AS BIGINT) AS pos_q")
    val cells = scored.groupBy("cent_id")
      .agg(count(lit(1)).as("cell_n"), sum("pos_q").as("spq"))
      .selectExpr("cent_id", "cell_n", "spq div cell_n AS cell_avg_q")
    scored.join(broadcast(cells), "cent_id")
      .selectExpr("vec_id", "cent_id",
        s"pos_q - CAST($OutScale AS BIGINT) AS cos_q", "cell_n",
        s"cell_avg_q - CAST($OutScale AS BIGINT) AS cell_avg_cos_q",
        s"pos_q < cell_avg_q - CAST($OutMargin AS BIGINT) AS is_outlier")
      .orderBy("vec_id")
  }

  // ---- int8 scalar quantization + recall ledger ----

  /** Scalar-quantization code range (int8 symmetric: [-127, 127]). */
  private val SqLevels = 127L

  /** Int8 scalar quantization of the embedding corpus + a recall@10
    * ledger against exact search — the OTHER standard embedding
    * compression next to [[annPq]]'s product quantization: one scale per
    * DIMENSION (corpus absmax), code_d = sign(v_d) · (|v_d|·127 div
    * scale_d), all integer so both engines agree bit-for-bit. For each of
    * the [[NumQueries]] probe queries the entry emits how many of the
    * exact integer-dot top-10 survive in the symmetric code-dot top-10 —
    * the number a deployment actually cares about (16× memory cut at
    * what recall?).
    *
    * 100 TB shape: the scale table is a 64-row aggregate (posexplode →
    * partial-aggregated max per dimension) broadcast back; encoding is a
    * map-side projection; the ADC scan is the brute-force baseline
    * (right up to ~10^9 vector·query products, same argument as
    * [[embedTopk]]) — at larger scale the codes drop into the IVF/LSH
    * bucketed variants unchanged, since they are just smaller integer
    * vectors.
    */
  val sqRecall = QueryDef.sql(
    "llm_sq_recall", {
      s"""WITH emb AS (${Embed.preparedSql}),
         |${Embed.sqCodedSql("emb", SqLevels)},
         |q AS (SELECT vec_id AS query_id, qv AS qqv, codes AS qcodes
         |      FROM coded WHERE vec_id < $NumQueries),
         |exact AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${Embed.dotSql("qqv", "qv")} DESC, vec_id) AS rank
         |    FROM coded, q WHERE vec_id != query_id) r WHERE rank <= 10),
         |approx AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${Embed.dotSql("qcodes", "codes")} DESC, vec_id) AS rank
         |    FROM coded, q WHERE vec_id != query_id) r WHERE rank <= 10)
         |SELECT e.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
         |  CAST(count(a.vec_id) AS DOUBLE) / 10.0 AS recall_at_10
         |FROM exact e LEFT JOIN approx a
         |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = Embed.prepared(embeddings(spark, dir))
    val coded = Embed.sqCoded(emb, SqLevels)
      .select(col("vec_id"), col("qv"), col("codes"))
    val q = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("codes").as("qcodes"))
    val cands = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
    // round 16: the exact-dot top-10 is the ground-truth referent (the
    // ann_exact_top10 class) — memoized per (app, dir); the code-dot
    // scan and the overlap count stay per-rep (the operator).
    val exact = Fixtures.derived(spark, dir,
      "sq_exact_top10")(top10(cands, "d", Embed.dotExpr("qqv", "qv")))
    val approx = top10(cands, "d", Embed.dotExpr("qcodes", "codes"))
    exact.withColumn("hit_key", hitKey)
      .join(approx.select(hitKey.as("hit_key"), lit(1L).as("hit")), Seq("hit_key"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .selectExpr("query_id", "n_overlap",
        "CAST(n_overlap AS DOUBLE) / 10.0 AS recall_at_10")
      .orderBy("query_id")
  }

  // ---- unified ANN recall ledger ----

  /** Bytes per stored vector for each method at deployment width (the
    * ledger's memory column): a float32 corpus vector is
    * [[graft.llm.Embed.Dim]]·4 = 256 bytes; LSH/IVF keep full vectors
    * plus one byte of bucket/list id; PQ stores [[graft.llm.Pq.M]]
    * 4-bit codes = 2 bytes; int8 SQ stores Dim bytes.
    */
  private val LedgerBytes =
    Map("a_exact" -> 256L, "ivf" -> 257L, "lsh" -> 257L, "pq" -> 2L, "sq" -> 64L)

  // -- shared recall-ledger scaffolding ([[annLedger]] + [[mrlRecall]]:
  // the two entries emit ONE table, so the ground-truth construction and
  // the recall/memory arithmetic exist exactly once per dialect
  // (round-8 review finding) --

  /** DuckDB CTEs `qh`, `x10`: exact cosine top-10 ground truth over a
    * prepared CTE named `emb`.
    */
  private def ledgerExactCteSql: String = {
    val cos = Embed.cosineSql(Embed.dotSql("qqv", "qv"), "qnrm", "nrm")
    s"""qh AS (SELECT vec_id AS query_id, qv AS qqv, nrm AS qnrm
       |       FROM emb WHERE vec_id < $NumQueries),
       |x10 AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, e.vec_id, row_number() OVER (PARTITION BY query_id
       |        ORDER BY $cos DESC, e.vec_id) AS rank
       |    FROM emb e, qh WHERE e.vec_id != query_id) r WHERE rank <= 10)""".stripMargin
  }

  /** DuckDB tail over CTEs `methods(method, query_id, vec_id)` and
    * `x10`: bytes table + per-method hit summary + the final
    * recall_q / mem_ratio_q select.
    */
  private def ledgerTailSql(bytesRows: Seq[(String, Long)]): String =
    s"""bytes AS (${bytesRows
        .map { case (m, b) => s"SELECT '$m' AS method, CAST($b AS BIGINT) AS bytes" }
        .mkString("\nUNION ALL\n")}),
       |summary AS (
       |  SELECT m.method, count(x.vec_id) AS n_hits
       |  FROM methods m LEFT JOIN x10 x
       |    ON x.query_id = m.query_id AND x.vec_id = m.vec_id
       |  GROUP BY m.method)
       |SELECT s.method,
       |  CAST((SELECT count(*) FROM x10) AS BIGINT) AS n_exact,
       |  CAST(s.n_hits AS BIGINT) AS n_hits,
       |  CAST(s.n_hits * 1000000 // (SELECT count(*) FROM x10) AS BIGINT) AS recall_q,
       |  b.bytes AS bytes_per_vec,
       |  CAST(${4 * Embed.Dim}000000 // b.bytes AS BIGINT) AS mem_ratio_q
       |FROM summary s JOIN bytes b USING (method)
       |ORDER BY s.method""".stripMargin

  /** The 10 best candidates per query by the `score` expression, kept as
    * column `name` (ties to the lower vec_id): (query_id, vec_id).
    */
  private def top10(cands: DataFrame, name: String, score: String): DataFrame =
    topK(cands.withColumn(name, expr(score)), "rank", 10)(
        rowNumber("query_id")(col(name).desc, col("vec_id")))
      .select(col("query_id"), col("vec_id"))

  /** Cosine top-10 within a candidate frame carrying
    * (query_id, qqv, qnrm, vec_id, qv, nrm).
    */
  private def cosTop10Over(cands: DataFrame): DataFrame =
    top10(cands, "cs", Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm"))

  /** Small daemon pool for overlapping the INDEPENDENT method subtrees of
    * the composite ANN ledger (guide §2.6): Spark's scheduler happily runs
    * several jobs at once — actions are only sequential because driver
    * code calls them sequentially. Under one action the five retrieval
    * methods' 5-task stages serialized (~3 s wall for ~1.5 s of work at
    * local[32], per-job timing in OPTIMIZATION_r16.md); materializing
    * each method from its own thread lets their stages back-fill each
    * other's idle cores. Sized to the ledger's method count; daemon
    * threads so the pool never blocks JVM exit.
    */
  private lazy val ledgerPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(5,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ledger-overlap")
          t.setDaemon(true); t
        }))

  /** The values of `futures`, awaited in order. Every future is waited
    * for before the first failure is rethrown, so a failed fan-out leaves
    * none of its Spark jobs running behind the caller.
    */
  private[graft] def awaitAll[T](futures: Seq[scala.concurrent.Future[T]]): Seq[T] =
    futures.map(f => scala.util.Try(
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))).map(_.get)

  /** Brute-force exact cosine top-10 ground truth (the embedTopk plan). */
  private def exactCosTop10(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nrm").as("qnrm"))
    cosTop10Over(emb.join(broadcast(q), col("vec_id") =!= col("query_id")))
  }

  /** The recall ledgers' corpus: the prepared near-dup corpus without
    * zero-norm vectors, cached. Spark keys that cache by plan, so every
    * entry that builds this frame ([[annLedger]], [[mrlRecall]]) shares
    * one copy: the first `.cache()` fills it and a later one only logs
    * "Asked to cache already cached data". The copy lives until
    * [[Fixtures.clearDerivedCache]] drops every cached plan.
    */
  private def ledgerCorpus(spark: SparkSession, dir: String): DataFrame =
    nearDupCorpus(spark, dir).filter(col("nrm") > 0).cache()

  /** A top-10 hit `(query_id, vec_id)` as one BIGINT join key. Exact:
    * every query id is a corpus id in [0, [[NumQueries]]), so the key
    * decodes back, and it cannot overflow below ~1.8e18 vector ids. A
    * broadcast join on one integral key builds a `LongHashedRelation`;
    * on a STRING or two-column key it builds an `UnsafeHashedRelation`,
    * whose map takes a whole memory page (16 MiB at a 3 GB heap) for 50
    * rows — and the returned plan keeps that page alive for as long as
    * the caller holds the result.
    */
  private[graft] def hitKey: org.apache.spark.sql.Column =
    col("vec_id").cast("long") * NumQueries + col("query_id")

  /** Spark tail: union the per-method top-10 lists, count hits against
    * the ground truth, attach the memory column (a literal map lookup:
    * every method has an entry, so ANSI mode never sees a missing key).
    */
  private def recallLedger(
      methods: Seq[(String, DataFrame)],
      bytes: Map[String, Long],
      exact10: DataFrame): DataFrame = {
    val uni = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), hitKey.as("hit_key"))
    }.reduce(_.unionAll(_))
    val xagg = exact10.agg(count(lit(1)).as("n_exact"))
    uni.join(exact10.select(hitKey.as("hit_key"), lit(1L).as("hit")), Seq("hit_key"), "left")
      .groupBy("method")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("bytes", element_at(typedLit(bytes), col("method")))
      .crossJoin(broadcast(xagg))
      .selectExpr("method", "CAST(n_exact AS BIGINT) AS n_exact",
        "CAST(n_hits AS BIGINT) AS n_hits",
        "n_hits * CAST(1000000 AS BIGINT) div n_exact AS recall_q",
        "bytes AS bytes_per_vec",
        s"CAST(${4 * Embed.Dim}000000 AS BIGINT) div bytes AS mem_ratio_q")
      .orderBy("method")
  }

  /** Unified ANN recall ledger (round 8, r7 verdict item 6): the four
    * approximate methods — LSH sign-buckets, IVF (deployed [[annIvf]]
    * init-codebook form), PQ (trained codebook + ADC shortlist + exact
    * re-rank, the [[annPq]] deployment shape), int8 SQ code-dot — each
    * retrieve top-10 for the SAME query block over the SAME
    * planted-structure corpus ([[graft.fixtures.Fixtures
    * .embeddingsNearDup]]: every query has a cos≈0.99 twin, so ground
    * truth has real structure, not just random neighbors), and the
    * ledger emits per-method recall@10 against the exact cosine top-10
    * plus the memory cost that recall buys. `a_exact` is the control row
    * (recall 1.0 by construction — it pins the ground-truth size). This
    * is THE cross-method table a 100 TB memory/recall design choice
    * reads; until now each method measured recall on its own fixture.
    *
    * Scale shape: one cached prepared corpus, five bounded retrievals
    * (every per-method plan is the corresponding entry's plan with
    * topN=10), one union of (method, query, vec) lists — queries×10 rows
    * per method — and one aggregate. Integer recall quotients
    * (micro-units) keep both engines bit-identical.
    *
    * Reading the table (sf0.01: sq 0.84, pq 0.36, ivf 0.34, lsh 0.04):
    * single-probe single-band LSH scores low BY DESIGN — one 8-bit sign
    * bucket holds ~N/256 vectors, far fewer than 10, so it cannot fill a
    * top-10 list; it is a candidate-pruning gate (the near-dup entries'
    * role, where its banded multi-probe form has measured recall 50/50),
    * not a top-k retriever. SQ dominates recall because code-dot
    * preserves ranking almost exactly at 4× compression; PQ trades most
    * of the remaining recall for 128×. That asymmetry — visible only
    * side-by-side — is what the ledger is for.
    */
  val annLedger = QueryDef.sql(
    "llm_ann_ledger", {
      val dots8 = (0 until 8).map(j => s"${Embed.hyperplaneDotSql(j)} AS d$j").mkString(",\n  ")
      val cos = Embed.cosineSql(Embed.dotSql("qqv", "qv"), "qnrm", "nrm")
      s"""WITH ${Fixtures.embeddingsNearDupCte},
         |emb AS (SELECT * FROM (${Embed.preparedSqlFrom("emb_nd")}) p0 WHERE nrm > 0),
         |$ledgerExactCteSql,
         |lshb AS (SELECT vec_id, qv, nrm, ${Embed.bucketSql(8)} AS bucket FROM (
         |    SELECT vec_id, qv, nrm, $dots8 FROM emb) d),
         |lshq AS (SELECT vec_id AS query_id, qv AS qqv, nrm AS qnrm, bucket
         |         FROM lshb WHERE vec_id < $NumQueries),
         |lsh10 AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, b.vec_id, row_number() OVER (PARTITION BY query_id
         |        ORDER BY $cos DESC, b.vec_id) AS rank
         |    FROM lshb b JOIN lshq USING (bucket) WHERE b.vec_id != query_id) r
         |  WHERE rank <= 10),
         |ivf10 AS (SELECT query_id, vec_id FROM (
         |    WITH cent AS (${Ivf.initCentSql(IvfK, NumQueries)}),
         |    ${Ivf.searchSql(IvfK, NumQueries, IvfProbes, 10)}) iv),
         |pq10 AS (SELECT query_id, vec_id FROM (
         |    WITH ${Pq.subvecsSql},
         |    ${Pq.initCbSql(NumQueries)},
         |    ${Pq.lloydIterSql(NumQueries)},
         |    ${Pq.searchSql(NumQueries, PqShortlist, 10)}) pv),
         |sq10 AS (SELECT query_id, vec_id FROM (
         |    WITH ${Embed.sqCodedSql("emb", SqLevels)},
         |    sq_q AS (SELECT vec_id AS query_id, codes AS qcodes
         |             FROM coded WHERE vec_id < $NumQueries)
         |    SELECT query_id, vec_id FROM (
         |      SELECT query_id, c.vec_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY ${Embed.dotSql("qcodes", "codes")} DESC, c.vec_id) AS rank
         |      FROM coded c, sq_q WHERE c.vec_id != query_id) r WHERE rank <= 10) s),
         |methods AS (
         |  SELECT 'a_exact' AS method, query_id, vec_id FROM x10
         |  UNION ALL SELECT 'ivf', query_id, vec_id FROM ivf10
         |  UNION ALL SELECT 'lsh', query_id, vec_id FROM lsh10
         |  UNION ALL SELECT 'pq', query_id, vec_id FROM pq10
         |  UNION ALL SELECT 'sq', query_id, vec_id FROM sq10),
         |${ledgerTailSql(LedgerBytes.toSeq.sorted)}""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = ledgerCorpus(spark, dir)
    // ground truth: brute-force exact cosine (the embedTopk plan).
    // localCheckpoint (round 15; was .cache()): queries x 10 rows feeding
    // THREE consumers (the a_exact method row, the hit join, the n_exact
    // scalar) - the cache kept the brute-force lineage in every
    // consumer's plan; the checkpoint truncates it at the same bounded
    // storage. derived-memo (round 16): a bare checkpoint is rebuilt by
    // every builder re-invocation (KeyProbe: warm ≈ cold ≈ 4.1 s, zero
    // steady-state reuse), so the ground truth — the evaluation referent
    // a session holds resident, queries×10 rows — is memoized per
    // (app, dir) and dropped by clearDerivedCache like every other
    // session cache. Shared with llm_mrl_recall (same referent).
    //
    // Round 16 overlap (guide §2.6): the five methods are INDEPENDENT
    // subtrees over the same cached corpus, each a handful of 5-task
    // stages — built under the single union action they serialized
    // (OPTIMIZATION_r16.md: ~3 s wall for ~1.5 s of summed job time at
    // local[32]). Materialize each method from its own thread so their
    // stages back-fill each other's idle cores; every rep still
    // recomputes every approximate method (only the ground truth and the
    // trained codebook are session-memoized), and the values are those
    // of the identical lazy plans.
    import scala.concurrent.Future
    implicit val ec: scala.concurrent.ExecutionContext = ledgerPool
    val exactF = Future(Fixtures.derived(spark, dir,
      "ann_exact_top10")(exactCosTop10(emb)))
    // LSH: annLsh plan at topN=10
    val lsh10 = cosTop10Over(lshCandidates(emb))
    val lshF = Future(Fixtures.materialized(lsh10))
    // IVF: the deployed annIvf plan at topN=10
    val ivfF = Future(Fixtures.materialized(
      Ivf.search(emb, Ivf.initCent(emb, IvfK, NumQueries),
        IvfK, NumQueries, IvfProbes, 10).select("query_id", "vec_id")))
    // PQ: the deployed annPq plan (trained cb, ADC shortlist, re-rank).
    // The codebook is memoized per (app, dir) under the train-once
    // contract (the BPE merge-table precedent: production trains a
    // codebook once and ships it; re-deriving the Lloyd iterations
    // measured ~1 s of every rep).
    val pqF = Future {
      val subn = Pq.subvecs(emb)
      val cb = Fixtures.derived(spark, dir, "ledger_pq_cb")(
        Pq.lloydIter(subn, Pq.initCb(subn, NumQueries), NumQueries))
      Fixtures.materialized(
        Pq.search(emb, subn, cb, NumQueries, PqShortlist, 10)
          .select("query_id", "vec_id"))
    }
    // SQ: int8 code-dot ranking (the sqRecall approx arm, shared kernel)
    val coded = Embed.sqCoded(emb, SqLevels)
      .select(col("vec_id"), col("codes"))
    val sqQ = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
    val sq10 = top10(coded.join(broadcast(sqQ), col("vec_id") =!= col("query_id")),
      "d", Embed.dotExpr("qcodes", "codes"))
    val sqF = Future(Fixtures.materialized(sq10))
    val methods = Seq("a_exact", "ivf", "lsh", "pq", "sq")
      .zip(awaitAll(Seq(exactF, ivfF, lshF, pqF, sqF)))
    // one union, one aggregate — the shared ledger tail
    recallLedger(methods, LedgerBytes, methods.head._2)
  }

  /** Matryoshka truncation widths (prefix dims) for [[mrlRecall]];
    * [[graft.llm.Embed.Dim]] itself rides along as the exact-control row.
    */
  private val MrlDims = Seq(16, 32, Embed.Dim)

  /** Matryoshka-representation truncation recall (the OTHER axis of the
    * [[annLedger]] memory/recall table): MRL-trained embeddings are
    * consumed by keeping only a PREFIX of each vector, so the design
    * question "how many dims can retrieval drop" is answered by
    * measuring recall@10 of prefix-cosine ranking against the full-dim
    * exact top-10 — on the same planted-structure corpus and in the same
    * (method, recall_q, bytes_per_vec, mem_ratio_q) schema as the
    * ledger, so the PQ/SQ/IVF rows and the mrl16/mrl32 rows read as one
    * table. The full-width row is the control (recall 1.0 by
    * construction). Note the fixture's embeddings are synthetic, not
    * MRL-trained — the measured recall is the UNTRAINED floor a real
    * MRL checkpoint improves on; the machinery (prefix slice, prefix
    * norms, rank, overlap) is what the entry pins.
    *
    * Scale shape: per width, one map-side prefix projection (slice +
    * integer prefix norm) and the brute-force broadcast-query scan of
    * [[embedTopk]] — corpus scanned once per width, queries×10 rows out;
    * norms are guarded with greatest(·,1) so an all-zero prefix cannot
    * divide by zero (deterministically, in both engines).
    */
  val mrlRecall = QueryDef.sql(
    "llm_mrl_recall", {
      def prefixSql(m: Int): String = {
        val pn = s"greatest(${Embed.normSqlOf(s"list_slice(qv, 1, $m)")}, 1)"
        s"""SELECT vec_id, list_slice(qv, 1, $m) AS pv, $pn AS pn FROM emb"""
      }
      def mrlTopSql(m: Int): String = {
        val cos = Embed.cosineSql(Embed.dotSql("qpv", "pv"), "qpn", "pn")
        s"""SELECT query_id, vec_id FROM (
           |    SELECT query_id, p.vec_id, row_number() OVER (PARTITION BY query_id
           |        ORDER BY $cos DESC, p.vec_id) AS rank
           |    FROM pm$m p CROSS JOIN (SELECT vec_id AS query_id, pv AS qpv, pn AS qpn
           |                            FROM pm$m WHERE vec_id < $NumQueries) q0
           |    WHERE p.vec_id != query_id) r WHERE rank <= 10""".stripMargin
      }
      s"""WITH ${Fixtures.embeddingsNearDupCte},
         |emb AS (SELECT * FROM (${Embed.preparedSqlFrom("emb_nd")}) p0 WHERE nrm > 0),
         |$ledgerExactCteSql,
         |${MrlDims.map(m => s"pm$m AS (${prefixSql(m)})").mkString(",\n")},
         |methods AS (${MrlDims.map(m =>
             s"SELECT 'mrl$m' AS method, query_id, vec_id FROM (${mrlTopSql(m)}) t$m")
           .mkString("\nUNION ALL ")}),
         |${ledgerTailSql(MrlDims.map(m => s"mrl$m" -> 4L * m))}""".stripMargin
    }
  ) { (spark, dir) =>
    val emb = ledgerCorpus(spark, dir)
    // checkpoint, not cache (round 15): same two-consumer plan
    // truncation as the annLedger ground truth; round 16: the SAME
    // derived-memo as annLedger (identical referent over the identical
    // prepared corpus — one brute-force pass per session, not one per rep
    // per entry)
    val exact10 = Fixtures.derived(spark, dir,
      "ann_exact_top10")(exactCosTop10(emb))
    def mrlTop(m: Int): DataFrame = {
      val pm = emb.select(col("vec_id"), expr(s"slice(qv, 1, $m)").as("pv"))
        .withColumn("pn", greatest(expr("vec_normsq(pv)"), lit(1L)))
      val pq = pm.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("pv").as("qpv"), col("pn").as("qpn"))
      top10(pm.join(broadcast(pq), col("vec_id") =!= col("query_id")),
        "cs", Embed.cosineSql(Embed.dotExpr("qpv", "pv"), "qpn", "pn"))
    }
    recallLedger(MrlDims.map(m => s"mrl$m" -> mrlTop(m)),
      MrlDims.map(m => s"mrl$m" -> 4L * m).toMap, exact10)
  }

  val all: Seq[QueryDef] = Seq(
    embedTopk, annLsh, annIvf, annIvfTrained, annIvfScaled, annPq, embedNearDup, knnGraph,
    tfidfTopk, bm25Topk, rrfFusion, semDedup, semDedupGuarded, semDedupCapped, sqRecall,
    annLedger, mrlRecall, embedOutliers)
}
