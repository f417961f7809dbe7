package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN (builder brief: similarity search — "an IVF
  * or LSH-bucketed variant as the scale path"). PQ is the MEMORY scale
  * path the IVF/LSH entries don't cover: the corpus is stored as
  * [[M]]×log2([[K]])-bit codes (4 subspaces × 4-bit codes = 2 BYTES per
  * vector vs 256 bytes of float32 — 128×), and a query scans codes with
  * an asymmetric-distance (ADC) table lookup instead of touching raw
  * vectors. At 100 TB of embeddings this is the difference between a
  * code table that fits in executor memory and a scan that cannot: the
  * raw vectors are read exactly twice (once to train/encode, once to
  * re-rank a bounded shortlist), everything between runs on codes.
  *
  * Pipeline (all exact integer arithmetic on the quantized vectors, so
  * the DuckDB oracle replays it bit-identically):
  *   1. subspace split — `qv[64]` → [[M]] contiguous [[SubDim]]-dim
  *      subvectors (an exploded (vec_id, sub, sv) stream);
  *   2. codebook — init from the first [[K]] non-query vectors'
  *      subvectors (disjoint from the query block, the
  *      [[Ivf.initCent]] lesson), refined by ONE deterministic Lloyd
  *      step per subspace ([[lloydIter]] — same floor-mean
  *      re-quantization as [[Ivf.lloydIter]], with `sub` as a plain
  *      grouping column: one exploded stream trains all M codebooks in
  *      two hash aggregates, not M separate jobs);
  *   3. encode — argmin code per (vector, subspace): ONE hash aggregate
  *      over the never-materialized N×M×K scored stream
  *      (`max_by(code, -(d·K+code))` — the packed-key idiom of
  *      [[Ivf.packedKeySqlOf]]; d is an exact integer L2², so the key is
  *      unique per (d, code) and ties resolve to the lowest code in both
  *      engines);
  *   4. ADC — per-query distance TABLE (numQueries×M×K integer rows,
  *      broadcast) joined to the code stream on (sub, code) and summed
  *      by (query, vector): approximate distance without touching any
  *      raw vector;
  *   5. shortlist + re-rank — a top-`PqShortlist` shortlist (set in
  *      [[graft.queries.RetrievalQueries]]) by exact-integer ADC distance, then exact cosine over raw
  *      vectors on that bounded set only.
  *
  * Scale shape: no all-pairs anywhere; the codebook and distance tables
  * are O(M·K) and O(Q·M·K) broadcasts; the only corpus-sized exchanges
  * are the two hash aggregates (encode, ADC-sum), both
  * partial-aggregated map-side. The window that ranks the shortlist runs
  * per query over N code-sum rows — at true scale that becomes a top-R
  * `graft_topk`-style bounded heap, a one-line swap kept out of the
  * oracled entry for cross-engine rank determinism.
  */
object Pq {

  /** Subspaces (codes per vector). */
  val M = 4

  /** Dimensions per subspace. */
  val SubDim: Int = Embed.Dim / M

  /** Codewords per subspace — 4-bit codes. */
  val K = 16

  // ---- 1. exploded subvector stream: (vec_id, sub, sv, svn) ----

  /** Spark subvector stream over a prepared embedding table (zero-norm
    * rows already excluded by the caller — cosine re-rank needs norms).
    */
  def subvecs(emb: DataFrame): DataFrame = {
    val parts = (0 until M).map(s => struct(lit(s).as("sub"),
      expr(s"slice(qv, ${s * SubDim + 1}, $SubDim)").as("sv")))
    emb.select(col("vec_id"), explode(array(parts: _*)).as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))
      .withColumn("svn", expr("vec_normsq(sv)"))
  }

  /** DuckDB twin: CTE `subn` (vec_id, sub, sv, svn) from CTE `emb`. */
  def subvecsSql: String =
    s"""subn AS (SELECT vec_id, s.s AS sub,
       |    list_slice(qv, s.s * $SubDim + 1, s.s * $SubDim + $SubDim) AS sv,
       |    CAST(list_sum(list_transform(
       |      list_slice(qv, s.s * $SubDim + 1, s.s * $SubDim + $SubDim),
       |      x -> x * x)) AS BIGINT) AS svn
       |  FROM emb, range(0, $M) s(s))""".stripMargin

  // ---- 2. codebook ----

  /** Init: subvectors of corpus vectors [off, off+K) — disjoint from the
    * query block (ids < off) so a query never seeds its own codeword.
    */
  def initCb(subn: DataFrame, off: Int): DataFrame =
    subn.filter(col("vec_id") >= off && col("vec_id") < off + K)
      .select(col("sub"), (col("vec_id") - off).cast("int").as("code"),
        col("sv").as("cv"), col("svn").as("cvn"))

  def initCbSql(off: Int): String =
    s"""cb0 AS (SELECT sub, CAST(vec_id - $off AS INT) AS code,
       |    sv AS cv, svn AS cvn FROM subn
       |  WHERE vec_id >= $off AND vec_id < ${off + K})""".stripMargin

  /** Scored stream (vec_id, sub, code, d[, sv]) against a BROADCAST
    * codebook: d = |sv|² + |cv|² − 2·sv·cv, exact integer L2². Never
    * materialized — every consumer collapses it with a hash aggregate.
    */
  private def scored(subn: DataFrame, cb: DataFrame, carrySv: Boolean): DataFrame = {
    val base = subn.join(broadcast(cb), Seq("sub"))
      .withColumn("d", expr("svn + cvn - 2 * vec_dot(sv, cv)"))
    val cols = Seq(col("vec_id"), col("sub"), col("code"), col("d")) ++
      (if (carrySv) Seq(col("sv")) else Nil)
    base.select(cols: _*)
  }

  /** Packed argmin ordering key: unique per (d, code) within a group —
    * `d1·K+c1 = d2·K+c2` with c ∈ [0,K) forces d1=d2 ∧ c1=c2 — so
    * `max_by` of its negation is THE argmin-lowest-code in both engines.
    */
  private def pk(dCol: String): String = s"-($dCol * $K + code)"

  /** One deterministic Lloyd step over all M subspaces at once: argmin
    * assignment (hash aggregate; `sv` rides in the grouping key so the
    * centroid update needs no join back), then per-dimension floor-mean
    * re-quantized to BIGINT. Codes that capture no subvectors drop out —
    * identically in both engines. Trains on vec_id >= trainOff only
    * (queries never shape the codebook).
    */
  def lloydIter(subn: DataFrame, cb: DataFrame, trainOff: Int): DataFrame = {
    val asg = scored(subn.filter(col("vec_id") >= trainOff), cb, carrySv = true)
      .withColumn("pk", expr(pk("d")))
      .groupBy("vec_id", "sub", "sv")
      .agg(max_by(col("code"), col("pk")).as("code"))
    asg.select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "code", "pos")
      .agg(expr("CAST(floor(CAST(sum(x) AS DOUBLE) / count(1)) AS BIGINT)").as("c"))
      .groupBy("sub", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("sub"), col("code"), col("pc.c").as("cv"))
      .withColumn("cvn", expr("vec_normsq(cv)"))
  }

  /** DuckDB twin of [[lloydIter]]: CTEs deriving `cb` from `subn`+`cb0`. */
  def lloydIterSql(trainOff: Int): String =
    s"""keyed_t AS (SELECT vec_id, sub, sv, code, ${pk("d")} AS pk FROM (
       |    SELECT t.vec_id, t.sub, t.sv, c.code,
       |           t.svn + c.cvn - 2 * ${subDotSql("t.sv", "c.cv")} AS d
       |    FROM subn t JOIN cb0 c ON c.sub = t.sub
       |    WHERE t.vec_id >= $trainOff) s0),
       |asg_t AS (SELECT vec_id, sub, sv, arg_max(code, pk) AS code
       |          FROM keyed_t GROUP BY vec_id, sub, sv),
       |comp_t AS (SELECT sub, code, i.i AS pos, sv[i.i] AS x
       |           FROM asg_t, range(1, ${SubDim + 1}) i(i)),
       |cb AS (SELECT sub, code, cv,
       |    CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cvn
       |  FROM (SELECT sub, code, list(c ORDER BY pos) AS cv FROM (
       |      SELECT sub, code, pos,
       |        CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS c
       |      FROM comp_t GROUP BY sub, code, pos) g
       |    GROUP BY sub, code) l)""".stripMargin

  /** Exact integer dot of two SubDim lists (oracle side). */
  private def subDotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, ${SubDim + 1}), i -> $a[i] * $b[i])) AS BIGINT)"

  // ---- 3-5. encode, ADC, shortlist, re-rank ----

  /** Full PQ search: encode the corpus (vec_id >= off), build per-query
    * ADC tables (vec_id < off), shortlist by ADC distance, re-rank the
    * shortlist with exact cosine. `cb` must be the (tiny, cached)
    * trained codebook. The top-N rows come back unordered, as
    * [[Ivf.searchWith]]'s: the callers that return them order by
    * (query_id, rank).
    */
  def search(emb: DataFrame, subn: DataFrame, cb: DataFrame, off: Int,
      shortlist: Int, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = scored(subn, cb, carrySv = false).withColumn("pk", expr(pk("d")))
    val codes = sc.filter(col("vec_id") >= off)
      .groupBy("vec_id", "sub").agg(max_by(col("code"), col("pk")).as("code"))
    val dtab = sc.filter(col("vec_id") < off)
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("d"))
    // dtab is off×M×K rows — broadcast; the corpus code stream never shuffles
    // on anything but its own (query_id, vec_id) aggregation key
    val adc = codes.join(broadcast(dtab), Seq("sub", "code"))
      .groupBy("query_id", "vec_id").agg(sum(col("d")).as("adc_dist"))
    val short = adc.withColumn("srn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("srn") <= shortlist)
    short
      .join(emb.select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nrm").as("qnrm")), "query_id")
      .join(emb.select(col("vec_id"), col("qv"), col("nrm")), "vec_id")
      .withColumn("cos_sim",
        expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        col("cos_sim"), col("rank").cast("long").as("rank"))
  }

  /** DuckDB twin of [[search]] (CTE chain + final SELECT; assumes `emb`,
    * `subn`, `cb` in scope).
    */
  def searchSql(off: Int, shortlist: Int, topN: Int): String = {
    val rescoreCos = Embed.cosineSql(Embed.dotSql("qq.qv", "cc.qv"), "qq.nrm", "cc.nrm")
    s"""scored AS (SELECT t.vec_id, t.sub, c.code,
       |    t.svn + c.cvn - 2 * ${subDotSql("t.sv", "c.cv")} AS d
       |  FROM subn t JOIN cb c ON c.sub = t.sub),
       |codes AS (SELECT vec_id, sub, arg_max(code, ${pk("d")}) AS code
       |          FROM scored WHERE vec_id >= $off GROUP BY vec_id, sub),
       |dtab AS (SELECT vec_id AS query_id, sub, code, d
       |         FROM scored WHERE vec_id < $off),
       |adc AS (SELECT t.query_id, c.vec_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
       |        FROM codes c JOIN dtab t ON t.sub = c.sub AND t.code = c.code
       |        GROUP BY t.query_id, c.vec_id),
       |short AS (SELECT query_id, vec_id, adc_dist, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dist, vec_id) AS srn FROM adc),
       |rescored AS (SELECT s.query_id, s.vec_id, s.adc_dist, $rescoreCos AS cos_sim
       |  FROM short s JOIN emb qq ON qq.vec_id = s.query_id
       |               JOIN emb cc ON cc.vec_id = s.vec_id
       |  WHERE s.srn <= $shortlist),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM rescored)
       |SELECT query_id, vec_id, adc_dist, cos_sim, rank FROM ranked
       |WHERE rank <= $topN ORDER BY query_id, rank""".stripMargin
  }
}
