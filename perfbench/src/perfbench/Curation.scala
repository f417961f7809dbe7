package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.fixtures.Fixtures

/** The LLM curation batch job: the nine heaviest / cold-regressed
  * entries once from a cleared session (the cold pass), then rerun in the
  * same session until the run's budget is spent, at least once. Each
  * call collects the full result, as a job client would. Latency samples
  * are the pass times; per-entry times are per-layer numbers
  * (`llm.entry_ms.*`). The results of the cold pass and of the last rerun
  * are both checked against their DuckDB twins.
  */
class Curation extends Workload {
  type Results = mutable.LinkedHashMap[String, (Array[Row], DataFrame)]
  private val coldRows: Results = mutable.LinkedHashMap.empty
  private val rerunRows: Results = mutable.LinkedHashMap.empty
  private val coldMs = mutable.LinkedHashMap.empty[String, Double]
  private val rerunMs = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private var entries: Seq[String] = Nil

  def setupRep(ctx: Ctx): Unit = {
    entries = ctx.resolve(Curation.Entries)
    ctx.clear()
    ctx.build(Curation.Tables)
  }

  /** No separate warm-up: a batch job starts in a fresh JVM, so its cold
    * pass includes JIT and codegen.
    */
  def warmup(ctx: Ctx): Unit = ()

  /** One pass over the entries in their fixed order (in the cold pass
    * the first entries pay the JIT, so a permuted order would move that
    * cost between entries per seed); returns its wall time in seconds.
    */
  private def pass(ctx: Ctx, request: String, keep: Results,
      perEntry: mutable.Map[String, Double]): Double = {
    val t0 = System.nanoTime()
    Tracer.span(ctx.tracer, ctx.spark, request, "", request, "client", request) {
      entries.foreach { n =>
        val id = s"$request/$n"
        val c0 = System.nanoTime()
        ctx.attempt(n) {
          Tracer.span(ctx.tracer, ctx.spark, id, request, request, "llm", n) {
            val df = ctx.queries(n)(ctx.spark, ctx.dir)
            val rows = df.collect()
            ctx.tracer.foreach { t =>
              val ph = df.queryExecution.tracker.phases.values.map(_.durationMs).sum
              t.planMs.put(id, ph.toDouble)
            }
            keep(n) = (rows, df)
          }
        }
        perEntry(n) = Stats.ms(System.nanoTime() - c0)
      }
    }
    Stats.sec(System.nanoTime() - t0)
  }

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    val t0 = System.nanoTime()
    ctx.clear()
    p.cold += pass(ctx, "curation-cold", coldRows, coldMs)
    Main.settle(ctx)
    p.addLat(p.cold.last * 1000)
    ctx.info("entry_ms_cold") = coldMs.clone()
    while (Main.another(t0, seconds, p.pass.length, p.pass.sum)) {
      val r = p.pass.length + 1
      val ms = mutable.LinkedHashMap.empty[String, Double]
      p.pass += pass(ctx, s"curation-rerun-$r", rerunRows, ms)
      Main.settle(ctx)
      p.addLat(p.pass.last * 1000)
      ctx.info(s"entry_ms_rerun_$r") = ms
      ms.foreach { case (k, v) => rerunMs(k) = rerunMs.getOrElse(k, Nil) :+ v }
    }
    p.work = (1 + p.pass.length) * entries.length
    p.workSec = p.cold.sum + p.pass.sum
    p
  }

  def finish(ctx: Ctx): Unit = {
    Curation.Entries.foreach { e =>
      ctx.layers(s"llm.entry_ms.$e.cold") = Main.nz(coldMs.getOrElse(e, Double.NaN))
      ctx.layers(s"llm.entry_ms.$e.rerun") = Main.nz(Stats.median(rerunMs.getOrElse(e, Nil)))
    }
    for ((pass, keep) <- Seq("cold" -> coldRows, "rerun" -> rerunRows); n <- entries)
      keep.get(n) match {
        case Some((rows, df)) => ctx.saveForOracle(n, pass, rows, df)
        case None => ctx.fail(s"$n/$pass: no successful call to check")
      }
  }
}

object Curation {
  val Entries: Seq[String] = Seq(
    "llm_curation", "llm_minhash_lsh", "llm_semdedup_guarded",
    "llm_ann_ledger", "llm_kn_lm_score", "llm_lang_classify",
    "llm_sq_recall", "llm_mrl_recall", "llm_bpe_apply")

  val Tables: Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Seq(Fixtures.documents, Fixtures.embeddings, Fixtures.embeddingsNearDup)
}
