package graft

import org.apache.spark.sql.functions._

/** Plan-level pins for the round-7 scale fixes — the two quadratics the
  * 10× ScaleProbe caught must not regress silently:
  *
  *  1. `llm_minhash_lsh` candidates come from CAPPED band buckets
  *     (`graft_capped_longs` aggregation + map-side pair explode), not a
  *     band self-join — the plan must carry the capped aggregate and no
  *     cartesian/nested-loop join anywhere.
  *  2. `llm_embed_neardup` signature width is corpus-adaptive: the band
  *     key is the full 16-bit key masked by 2^bits, with bits derived
  *     from the corpus ([[graft.llm.Embed.adaptiveBits]]); at fixture
  *     scale the historical 8 bits (mask 256) must appear in the plan,
  *     and no cartesian/nested-loop join anywhere.
  *
  * Plus an executable law for the shared map-side pair generator (the
  * sorted-list slice/transform both LSH and the ngram posting lists use).
  */
class ScaleShapeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("llm_minhash_lsh: capped-bucket aggregation, no self-join blowup shapes") {
    val p = plan("llm_minhash_lsh")
    assert(p.contains("graft_capped_longs"),
      "band buckets must aggregate under the hard-capped collect:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay equi-join/aggregate shaped:\n" + p.take(2000))
  }

  test("llm_incremental_neardup: capped frozen index, broadcast batch, no blowup shapes") {
    val p = plan("llm_incremental_neardup")
    assert(p.contains("graft_capped_longs"),
      "the frozen band index must store capped member lists:\n" + p.take(2000))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the batch side must broadcast against the index:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay equi-join/aggregate shaped:\n" + p.take(2000))
  }

  test("llm_embed_neardup: adaptive-width mask in the plan, no blowup shapes") {
    val p = plan("llm_embed_neardup")
    // derive the expected mask from the corpus itself so the pin survives
    // fixture growth (at today's SFs this is the historical 8 bits -> 256)
    val n = graft.llm.Embed.prepared(
      graft.fixtures.Fixtures.embeddingsNearDup(spark, dir)).count()
    val mask = 1L << graft.llm.Embed.adaptiveBits(n, 8, 16)
    assert(p.contains(s"% $mask"),
      s"band key must be masked to the corpus-adaptive width (expected % $mask):\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay equi-join shaped:\n" + p.take(2000))
  }

  test("llm_span_dedup: windowed span stats, no corpus-sized hash build") {
    // The r8 sf100 probe (5M docs, ~450M spans) crashed the r7
    // shuffle-hash span-index join ("can't acquire 256MB to build hash
    // relation"): a corpus-sized build side divided by a fixed partition
    // count is unbounded per-partition memory. The fix computes span
    // stats with count/min OVER (PARTITION BY h) — one spillable-sorted
    // shuffle of the span stream, no hash relation. Pin both halves.
    val p = plan("llm_span_dedup")
    assert(p.contains("Window"),
      "span stats must come from a window over h, not a join:\n" + p.take(2000))
    assert(!p.contains("ShuffledHashJoin"),
      "no span-index hash build may appear (sf100 OOM shape):\n" + p.take(2000))
  }

  test("llm_cdc_chunk: map-side chunk fold, no word-stream window, no hash build") {
    // The r8 THIRD-decade probe (5M docs, ~500M words, 256 partitions)
    // measured 15.9× on 10× data: the old plan exploded a corpus-sized
    // word stream and ran two doc-partitioned window sorts over it. The
    // fix folds each doc's tokens into chunks map-side (cdc_chunks
    // expression) and computes corpus duplicate stats with the span_dedup
    // window over (sig, len). Pin all three facts: the fold is in the
    // plan, exactly ONE window remains (the stats one — a second means
    // the word-stream windows came back), and no hash build.
    val p = plan("llm_cdc_chunk")
    assert(p.contains("cdc_chunks"),
      "chunking must be the map-side fold expression:\n" + p.take(2000))
    val windows = "(?<!\\w)Window(?!\\w)".r.findAllIn(p).length
    assert(windows <= 1,
      s"only the (sig, len) stats window may appear, found $windows:\n" + p.take(2000))
    assert(!p.contains("ShuffledHashJoin"),
      "no chunk-index hash build may appear:\n" + p.take(2000))
  }

  test("round-9 shapes: kn model joins never broadcast corpus-sized sides") {
    // llm_kn_lm_score: the scoring join keys the corpus bigram stream on
    // the bigram-TYPE q-table — shuffle-hashed by hint; the only
    // broadcast allowed is the single-row n_types scalar. A broadcast of
    // the q-table would OOM the driver at web scale (vocabulary² types).
    val p = plan("llm_kn_lm_score")
    assert(p.contains("ShuffledHashJoin"),
      "the scoring join must stay shuffle-hashed:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "the n_types scalar must ride a broadcast, never a cartesian:\n" + p.take(2000))
  }

  test("round-9 shapes: pagerank iterations run on broadcast host tables only") {
    // After the one corpus-sized edge dedup, every iteration must join
    // host-cardinality rank/degree tables BROADCAST onto the edge set —
    // a sort-merge there would re-shuffle the edge set three times.
    // Round 15: deg/nodes/per-iteration ranks are localCheckpoint'ed
    // (lineage truncation — each iteration's broadcast build used to
    // re-run the whole prefix chain), so the RETURNED plan reads only
    // the host-bounded checkpointed RDDs: it must carry no corpus scan
    // at all (the one cached edge-set scan runs during the eager
    // iteration materialization inside the builder).
    val p = plan("llm_pagerank_hosts")
    assert(p.contains("BroadcastHashJoin"),
      "iteration joins must broadcast the rank/deg side:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join may appear in the iteration chain:\n" + p.take(2000))
    assert(p.contains("Scan ExistingRDD"),
      "the final join must read the checkpointed host tables:\n" + p.take(2000))
    assert(!p.contains("FileScan") && !p.contains("InMemoryTableScan"),
      "the returned plan must be host-bounded only — no corpus rescan:\n" +
        p.take(2000))
  }

  test("round-9 shapes: neyman selection is one per-source window, alloc broadcast") {
    val p = plan("llm_neyman_sample")
    val windows = "(?<!\\w)Window(?!\\w)".r.findAllIn(p).length
    assert(windows == 1,
      s"exactly the per-source rank window, found $windows:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "the allocation table must broadcast onto the ranked corpus:\n" + p.take(2000))
  }

  test("round-9 shapes: embed outliers — assignment aggregate + broadcasts, no window") {
    val p = plan("llm_embed_outliers")
    assert("(?<!\\w)Window(?!\\w)".r.findFirstIn(p).isEmpty,
      "no window may appear — cell stats are a hash agg:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "centroids and cell stats must broadcast:\n" + p.take(2000))
  }

  test("round-11 shapes: dup-span merge keeps the windowed span stats, no hash build, no blowups") {
    // llm_dup_span_merge inherits span_dedup's post-r8-crash shape: span
    // stats via count/min OVER (PARTITION BY h) — one spillable-sorted
    // shuffle, never a corpus-sized ShuffledHashJoin build — and the
    // island merge runs on the sub-corpus dropped stream only.
    val p = plan("llm_dup_span_merge")
    assert(p.contains("Window"),
      "span stats must come from a window over h, not a join:\n" + p.take(2000))
    assert(!p.contains("ShuffledHashJoin"),
      "no span-index hash build may appear (sf100 OOM shape):\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the merge must stay window/aggregate shaped:\n" + p.take(2000))
  }

  test("round-10 shapes: session concurrency counts by rank difference; the pair join stays equi") {
    // evt_session_concurrency (round 10): the COUNT entry must never
    // materialize (session, event) pairs — its only join is the
    // broadcast of the timeline-bound bucket-prefix table; ranks come
    // from per-bucket windows (the two-level prefix sum). The r10 probe
    // measured the previous pair-join form at ratio 11.4 per ×10 data.
    val p = plan("evt_session_concurrency")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the range count must not fall to a nested loop:\n" + p.take(2000))
    assert(p.contains("bkt"),
      "the bucket key must carry the prefix sum:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "the bucket-prefix table must broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no events-sized join side may appear — pairs must not materialize:\n" + p.take(2000))
    // the pair-PRODUCING form (kept for consumers that need the pairs)
    // must remain a bucketed equi-join, never a nested loop
    val pj = graft.queries.EventQueries.sessionConcurrencyPairJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pj.contains("BroadcastNestedLoopJoin") && !pj.contains("CartesianProduct"),
      "the pair join must not fall to a nested loop:\n" + pj.take(2000))
    assert(pj.contains("bkt"),
      "the bucket key must carry the pair join:\n" + pj.take(2000))
  }

  test("analytics shapes: funnel is one partial-aggregated collect, no pair joins") {
    // the DP fold replaces the oracle's existential chain joins — the
    // plan must be ONE user-keyed aggregation (map-side partial
    // collect), the step filter must reach the scan, and no join of any
    // kind may appear (a chain-join shape is O(views × clicks))
    val p = plan("evt_funnel")
    assert(p.contains("partial_collect_list"),
      "per-user arrays must partial-aggregate map-side:\n" + p.take(2000))
    assert(!p.contains("Join"), "the funnel plan must be join-free:\n" + p.take(2000))
    assert(p.contains("In(event_type"),
      "step filter must push down to the parquet scan:\n" + p.take(2000))
  }

  test("analytics shapes: sequence-match shares ONE sort across both running maxes") {
    val p = plan("evt_sequence_match")
    assert("Window \\[".r.findAllIn(p).size == 1,
      "both running-max window functions must ride one Window node (one sort):\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no per-pair no-error-between check may appear:\n" + p.take(2000))
  }

  test("analytics shapes: cms probes the counter table by broadcast") {
    val p = plan("llm_cms_sketch")
    assert(p.contains("BroadcastExchange"),
      "the depth×width counter table must broadcast to the top-k probe:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the sketch join must stay equi-join shaped:\n" + p.take(2000))
  }

  test("incremental-aggregation shapes: queries answer from states/parts, never the facts") {
    // the AggregatingMergeTree contract is a PLAN property: the merge
    // side must scan the persisted states/parts table only — a fact-table
    // scan sneaking back in would silently void the whole idiom
    val ps = plan("qx_topk_state_merge")
    assert(ps.contains("graft_topk_merge"),
      "the merge side must fold states through the merge combinator:\n" + ps.take(2000))
    assert(!ps.contains("lineitem"),
      "topk merge must read ONLY the states table:\n" + ps.take(2000))
    val pu = plan("llm_uniq_state_merge")
    assert(!pu.contains("documents"),
      "uniq merge must read ONLY the persisted bottom-K states:\n" + pu.take(2000))
    val pr = plan("rollup_summing_merge")
    assert(!pr.contains("lineitem"),
      "the summing read path must re-sum parts, not facts:\n" + pr.take(2000))
    val pj = plan("a24_jdbc_source_roundtrip")
    assert(pj.contains("JDBCRelation") && pj.contains("numPartitions=8"),
      "the JDBC source must be the 8-way partitioned range scan:\n" + pj.take(2000))
  }

  test("relational-class shapes: one Expand rollup, fused Window frames, agg-only pivot") {
    def count(p: String, marker: String): Int =
      p.sliding(marker.length).count(_ == marker)
    val pr = plan("qx_rollup_turnover")
    assert(count(pr, "Expand [") == 1,
      "all three grouping levels must ride ONE Expand:\n" + pr.take(2000))
    val pm = plan("qx_moving_turnover")
    assert(count(pm, "Window [") == 1,
      "trailing sum + lag delta must fuse on one Window node:\n" + pm.take(2000))
    val pf = plan("qx_range_frame_turnover")
    assert(count(pf, "Window [") == 1,
      "the RANGE frame must plan one Window node:\n" + pf.take(2000))
    val pp = plan("qx_pivot_turnover")
    assert(!pp.contains("Expand [") && !pp.contains("CartesianProduct"),
      "declared-values pivot must stay pure hash aggregation:\n" + pp.take(2000))
  }

  test("nested fixture memoization is recursion-safe from a cold cache") {
    // embeddingsRedelivered's builder memoizes embeddingsNearDup INSIDE
    // its own memo call. The old computeIfAbsent-based memo threw
    // "Recursive update" whenever the two keys shared a hash bin — a
    // nondeterministic latent failure (the key embeds applicationId)
    // that ScaleProbe tripped in round 7. Pin the cold-cache nested path.
    graft.fixtures.Fixtures.clearDerivedCache(spark)
    assert(graft.fixtures.Fixtures.embeddingsRedelivered(spark, dir).count() > 0)
  }

  test("a01_stream_candles streams once per application, across clearDerivedCache") {
    // the replay is an application-lifetime SessionCache entry: the
    // session clear between the calls must not start a second stream
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      // QueryStartedEvent reaches session listeners synchronously
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val first = SparkEntry.queries("a01_stream_candles")(spark, dir).count()
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      val second = SparkEntry.queries("a01_stream_candles")(spark, dir).count()
      assert(first > 0 && second == first)
      assert(started.get == 1, s"${started.get} streaming queries started")
    } finally spark.streams.removeListener(listener)
  }

  test("map-side pair generator law: sorted list -> exactly C(k,2) ordered pairs") {
    import spark.implicits._
    // the exact expression minhashPairs and ngramJaccard explode
    val pairExpr =
      "flatten(transform(docs, (x, i) -> transform(slice(docs, i + 2, size(docs)), y -> named_struct('a', x, 'b', y))))"
    val rows = Seq(Seq(5L, 1L, 9L, 3L)).toDF("raw")
      .select(sort_array(col("raw")).as("docs"))
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = Seq(1L, 3L, 5L, 9L).combinations(2).map(s => (s(0), s(1))).toSeq
    assert(rows.sorted.toSeq == want.sorted, s"got ${rows.toSeq}")
    assert(rows.forall { case (a, b) => a < b })
  }

  test("round-9 relational waves keep their scale shapes") {
    // WITH FILL: the grid side must join the bucket aggregate via ONE
    // broadcast outer join (bucket-bound), never shuffle the grid
    val fill = plan("qx_with_fill_turnover")
    assert(fill.contains("BroadcastHashJoin") && fill.contains("LeftOuter"),
      "fill join must broadcast the bucket aggregate:\n" + fill.take(2000))
    // semi/anti: both sides broadcast the dimension — the distributed-IN
    val sa = plan("qx_semi_anti_codes")
    assert(sa.contains("LeftSemi") && sa.contains("LeftAnti"),
      "IN/NOT IN must plan as semi/anti joins:\n" + sa.take(2000))
    assert(!sa.contains("SortMergeJoin"),
      "the dimension side must broadcast, not shuffle:\n" + sa.take(2000))
    // SAMPLE: the hash predicate must sit in a Filter under the scan
    // side (map-side), with no join or window anywhere
    val smp = plan("qx_sample_turnover")
    assert(!smp.contains("Join") && !smp.contains("Window"),
      "hash sampling is a filtered scan + aggregate only:\n" + smp.take(2000))
    // collapsing no-FINAL: pure partial/final aggregate, no collapse op
    val ct = plan("qx_collapsing_turnover")
    assert(!ct.contains("Join") && !ct.contains("Window") &&
      !ct.contains("SortAggregate"),
      "sign-weighted aggregate must stay one hash aggregation:\n" + ct.take(2000))
  }
}
