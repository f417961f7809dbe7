package perfbench

import scala.jdk.CollectionConverters._

/** Reduces a traced run to the per-layer metrics. Every name is always
  * emitted; a layer the workload does not touch reports 0.
  */
object Layers {

  val Names: Seq[String] = Seq(
    "fixtures.build_ms", "fixtures.clear_ms", "fixtures.cached_mb",
    "queries.jobs", "queries.stages", "queries.tasks", "queries.plan_ms",
    "queries.task_ms", "queries.core_util", "queries.shuffle_mb", "queries.spill_mb",
    "ingest.rows_in", "ingest.rows_out", "ingest.candles_out", "ingest.candle_ratio",
    "streaming.batches", "streaming.rows_per_batch", "streaming.add_batch_ms",
    "streaming.state_update_ms", "streaming.wal_ms", "streaming.plan_ms",
    "streaming.state_commit_ms", "streaming.shards", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.rows_dropped_by_watermark",
    "sources.sink_ms", "sources.sink_rows", "sources.sink_calls",
    "sources.replays", "sources.replays_skipped", "jvm.gc_ms") ++
    Curation.Entries.flatMap(e => Seq(s"llm.entry_ms.$e.cold", s"llm.entry_ms.$e.rerun"))

  private val MB = 1048576.0

  def collect(ctx: Ctx, tr: Tracer): Unit = {
    val L = ctx.layers
    def med(xs: Iterable[Double]) = Main.nz(Stats.median(xs))

    // per SparkEntry.queries call: the curation entries
    val calls = tr.spansOf("llm")
    val pj = calls.map(s => s -> tr.jobs(s.id))
    L("queries.jobs") = med(pj.map(_._2.jobs.toDouble))
    L("queries.stages") = med(pj.map(_._2.stages.toDouble))
    L("queries.tasks") = med(pj.map(_._2.tasks.toDouble))
    L("queries.task_ms") = med(pj.map(_._2.taskMs.toDouble))
    L("queries.plan_ms") = med(calls.flatMap(s => Option(tr.planMs.get(s.id)).map(_.doubleValue)))
    L("queries.core_util") = med(pj.map { case (s, a) => a.taskMs / (s.ms * ctx.cores) })
    L("queries.shuffle_mb") = med(pj.map(_._2.shuffleBytes / MB))
    L("queries.spill_mb") = pj.map(_._2.spillBytes / MB).sum

    // micro-batches, from the StreamingQueryListener
    val prog = tr.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = med(prog.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val state = prog.flatMap(_.stateOperators.headOption)
    L("streaming.batches") = prog.length.toDouble
    L("streaming.rows_per_batch") = med(prog.map(_.numInputRows.toDouble))
    L("streaming.add_batch_ms") = dur("addBatch")
    L("streaming.wal_ms") = dur("walCommit")
    L("streaming.plan_ms") = dur("queryPlanning")
    L("streaming.state_update_ms") = med(state.map(_.allUpdatesTimeMs.toDouble))
    L("streaming.state_commit_ms") = med(state.map(_.commitTimeMs.toDouble))
    L("streaming.shards") = state.map(_.numShufflePartitions.toDouble).maxOption.getOrElse(0.0)
    L("streaming.state_rows") = state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    L("streaming.state_mem_mb") = state.map(_.memoryUsedBytes / MB).maxOption.getOrElse(0.0)
    L("streaming.rows_dropped_by_watermark") = state.map(_.numRowsDroppedByWatermark.toDouble).sum

    L("sources.sink_rows") = prog.map(_.numInputRows.toDouble).sum
  }

  /** Fill the names a workload did not produce, and derived ratios. */
  def complete(ctx: Ctx): Unit = {
    val L = ctx.layers
    Names.foreach(n => if (!L.contains(n)) L(n) = 0.0)
    val ticksIn = L("ingest.rows_in") / 2
    if (ticksIn > 0) L("ingest.candle_ratio") = L("ingest.candles_out") / ticksIn
  }
}
