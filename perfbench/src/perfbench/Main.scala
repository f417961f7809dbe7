package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.fixtures.Fixtures

/** Samples of one measured phase, reduced to the end-to-end metrics.
  * `lat` holds (latency ms, weight) pairs: a curation pass weighs 1, a
  * micro-batch weighs the rows it committed.
  */
final class Phase {
  val lat = ArrayBuffer.empty[(Double, Long)]
  val pass = ArrayBuffer.empty[Double]
  val cold = ArrayBuffer.empty[Double]
  var work = 0.0
  var workSec = 0.0

  def addLat(ms: Double, w: Long = 1L): Unit = synchronized { lat += ((ms, w)) }

  /** Weighted percentile. Where the rank falls exactly between two
    * samples, as the median of an even count does, their midpoint: in
    * `catchup` every batch weighs the same, so the median sits between
    * the trade stream's first batches and the tick stream's second ones,
    * and the midpoint keeps both streams in it.
    */
  def latPct(q: Double): Double = {
    val s = lat.sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) Double.NaN
    else {
      val rank = q * total
      var acc = 0L
      val i = s.indexWhere { case (_, w) => acc += w; acc >= rank }
      if (acc == rank && i + 1 < s.length) (s(i)._1 + s(i + 1)._1) / 2 else s(i)._1
    }
  }

  def samples: Long = lat.map(_._2).sum

  def e2e: Map[String, Double] = Map(
    "latency_p50_ms" -> latPct(0.5),
    "latency_p90_ms" -> latPct(0.9),
    "pass_s" -> Stats.median(pass),
    "cold_pass_s" -> Stats.median(cold),
    "throughput_per_s" -> (if (workSec > 0) work / workSec else Double.NaN))
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val dir: String, val run: String,
    val cores: Int) {
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  lazy val oracle: Map[String, String] = SparkEntry.oracleSql
  var tracer: Option[Tracer] = None
  val attempted = new AtomicLong()
  val failures = new ConcurrentLinkedQueue[String]()
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val layers = Stats.om[Double]()
  val info = Stats.om[Any]()
  val clearMs = ArrayBuffer.empty[Double]
  val buildMs = ArrayBuffer.empty[Double]
  var heapLiveMb = 0.0

  /** Count one operation; a NonFatal error is recorded as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failures.add(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(what: String): Unit = { attempted.incrementAndGet(); failures.add(what) }

  def check(c: Map[String, Any]): Unit = synchronized { checks += c }

  /** Drop the program's session caches (the cold state). */
  def clear(): Unit = {
    val t0 = System.nanoTime()
    Fixtures.clearDerivedCache(spark)
    synchronized { clearMs += Stats.ms(System.nanoTime() - t0) }
  }

  /** Build and materialize fixture tables, as one set-up step. */
  def build(tables: Seq[(SparkSession, String) => DataFrame]): Unit = {
    val t0 = System.nanoTime()
    tables.foreach(t => t(spark, dir).count())
    synchronized { buildMs += Stats.ms(System.nanoTime() - t0) }
  }

  /** Resolve the named entries; a missing one fails the run loudly. */
  def resolve(names: Seq[String]): Seq[String] = {
    val missing = names.filterNot(queries.contains)
    missing.foreach(n => fail(s"$n: entry missing from SparkEntry.queries"))
    names.filter(queries.contains)
  }

  /** Save one call's result of entry `name` (from pass `pass`) for the
    * DuckDB oracle check.
    */
  def saveForOracle(name: String, pass: String, rows: Array[Row], df: DataFrame): Unit =
    oracle.get(name) match {
      case Some(sql) =>
        val path = s"$run/out/$name/$pass"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        check(Map("kind" -> "oracle", "name" -> s"$name/$pass", "sql" -> sql, "path" -> path))
      case None => fail(s"$name: no DuckDB oracle in SparkEntry.oracleSql")
    }
}

/** A workload: a repeatable set-up step, a warm-up, and a measured phase. */
trait Workload {
  def setupRep(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Phase
  def finish(ctx: Ctx): Unit
}

/** Benchmark entry point: runs one workload in one process and writes
  * `result.json` into the run directory. Output checks that need DuckDB
  * are listed there and run by the launcher.
  *
  * Args: key=value pairs — dir, run, workload, seconds, trace, cores.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val run = opts("run")
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = new Ctx(spark, opts("dir"), run, cores)
    val wl: Workload = opts("workload") match {
      case "catchup" => new Catchup
      case "curation" => new Curation
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }

    // set-up: the input set-up step several times (median reported), then
    // the workload's warm-up, if it has one
    val reps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setupRep(ctx); Stats.sec(System.nanoTime() - t0)
    }
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    val warmS = Stats.sec(System.nanoTime() - w0)
    val setupS = sessionS + Stats.median(reps) + warmS
    ctx.info("setup_session_s") = sessionS
    ctx.info("setup_reps_s") = reps
    ctx.info("setup_warmup_s") = warmS

    // traced runs attach the benchmark's listeners for the whole measured
    // phase; the launcher compares their end-to-end numbers with a
    // trace-off run of the same seed (the tracing overhead)
    val tr = if (traced) Some(new Tracer(spark)) else None
    ctx.tracer = tr
    tr.foreach(_.attach())
    val gc0 = gcMs()
    val p = wl.measure(ctx, seconds)
    val e2e = Stats.om[Double]()
    e2e ++= p.e2e
    ctx.info("latency_samples") = p.samples
    ctx.info("pass_samples") = p.pass.length
    ctx.info("cold_samples") = p.cold.length
    ctx.layers("jvm.gc_ms") = (gcMs() - gc0).toDouble
    tr.foreach { t => t.detach(); Layers.collect(ctx, t) }
    ctx.layers("fixtures.clear_ms") = nz(Stats.median(ctx.clearMs))
    ctx.layers("fixtures.build_ms") = nz(Stats.median(ctx.buildMs))
    ctx.layers("fixtures.cached_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val f0 = System.nanoTime()
    wl.finish(ctx)
    ctx.info("finish_s") = Stats.sec(System.nanoTime() - f0)
    ctx.info("measured_s") = Stats.sec(f0 - w0) - warmS
    if (traced) Layers.complete(ctx)
    e2e("setup_s") = setupS
    e2e("heap_live_mb") = ctx.heapLiveMb
    ctx.info("rss_peak_mb") = rssPeakMb()

    val result = Stats.om[Any]()
    result("e2e") = e2e
    result("layers") = ctx.layers
    result("attempted") = ctx.attempted.get()
    result("failures") = ctx.failures.asScala.toSeq
    result("checks") = ctx.checks
    result("info") = ctx.info
    Files.writeString(Paths.get(s"$run/result.json"), Stats.json(result))
    spark.stop()
  }

  def nz(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Start another measured unit? Always the first; after that only if
    * one more unit of the average length so far fits in the budget.
    */
  def another(t0: Long, seconds: Double, units: Int, unitSec: Double): Boolean =
    units == 0 || Stats.sec(System.nanoTime() - t0) + unitSec / units <= seconds

  /** Untimed, between passes: a full GC, so no pass inherits the previous
    * one's garbage, and the heap it leaves is the retained working set.
    */
  def settle(ctx: Ctx): Unit = {
    // the second collection also frees what Spark's ContextCleaner
    // released in response to the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    ctx.synchronized { ctx.heapLiveMb = math.max(ctx.heapLiveMb, used) }
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
