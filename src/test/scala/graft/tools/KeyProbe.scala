package graft.tools

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.fixtures.Fixtures

/** Per-key timing under the bench's protocols, without paying a full
  * 188-entry run per reading: after one warmup pass (JIT, codegen,
  * memoized base tables), each of [[Rounds]] rounds times every named
  * entry warm (clearDerivedCache, then two reps, min-of-2) and cold
  * (clearDerivedCache before each of two reps, min-of-2). Each rep's Spark
  * jobs and tasks are counted too, so an overhead-bound key's cost can be
  * attributed to jobs (broadcast builds, eager checkpoints, the final
  * action) rather than guessed.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<fixture dir> sbt "Test/runMain graft.tools.KeyProbe <entry> [<entry> ...]"
  * }}}
  */
object KeyProbe {
  val Rounds = 3
  private val RepKey = "graft.probe.rep"
  private val Reps = Seq("w1", "w2", "c1", "c2")

  def main(args: Array[String]): Unit =
    ProbeMain((spark, dir) => run(spark, dir, args.toSeq))

  /** One line per round and entry: `warm`, `cold` (seconds), each rep's
    * time, `jobs` and `tasks` (reps in order w1/w2/c1/c2); then one line
    * counting the warmup passes that failed.
    */
  def run(spark: SparkSession, dir: String, entries: Seq[String]): Seq[String] = {
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    require(entries.nonEmpty && unknown.isEmpty,
      s"usage: KeyProbe <entry> [<entry> ...]; unknown: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    def exec(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val failures = entries.flatMap { n =>
      try { exec(n); None } catch { case NonFatal(e) => Some(s"$n: ${e.getMessage}") }
    }

    // (jobs, tasks) per rep, keyed by the local property each rep sets
    val counts = new ConcurrentHashMap[String, (Long, Long)]()
    val lastEvent = new AtomicLong(System.nanoTime())
    def add(props: Properties, jobs: Long, tasks: Long): Unit =
      Option(props).flatMap(p => Option(p.getProperty(RepKey))).foreach { rep =>
        lastEvent.set(System.nanoTime())
        counts.merge(rep, (jobs, tasks), (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add(e.properties, 1, 0)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        add(e.properties, 0, e.stageInfo.numTasks)
    }
    def rep(label: String, n: String, clear: Boolean): Double = {
      if (clear) Fixtures.clearDerivedCache(spark)
      sc.setLocalProperty(RepKey, label)
      try exec(n) finally sc.setLocalProperty(RepKey, null)
    }
    sc.addSparkListener(listener)
    val times = try {
      for (r <- 1 to Rounds; n <- entries) yield
        (r, n, Reps.map(i => rep(s"$r|$n|$i", n, clear = i != "w2")))
    } finally {
      // the listener bus is asynchronous: wait until it has been quiet
      // for 300 ms (at most 5 s) before reading the counts
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() - lastEvent.get < 300000000L && System.nanoTime() < deadline)
        Thread.sleep(50)
      sc.removeSparkListener(listener)
    }
    times.map { case (r, n, ts) =>
      val cs = Reps.map(i => counts.getOrDefault(s"$r|$n|$i", (0L, 0L)))
      f"[keyprobe] round=$r entry=$n warm=${ts.take(2).min}%.3f cold=${ts.drop(2).min}%.3f " +
        s"reps=${ts.map(t => f"$t%.3f").mkString("/")} " +
        s"jobs=${cs.map(_._1).mkString("/")} tasks=${cs.map(_._2).mkString("/")}"
    } :+ (s"[keyprobe] warmup_failures=${failures.size}" +
      failures.map("; " + _).mkString)
  }
}
