package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs of a warm call — the second call of an entry in one
  * session, after the first has filled its caches and memos — of the two
  * curation entries whose time on a small corpus is job overhead, not
  * work. Each count is pinned as an upper bound, measured on sf0.001
  * (CHANGES.md records the count before and after the cut of dead
  * branches and sorts).
  */
class WarmJobsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, from any thread: the jobs the
    * listener sees between a start and an end sentinel job.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val nonce = System.nanoTime()
    val (start, end) = (s"warm-jobs-start-$nonce", s"warm-jobs-end-$nonce")
    val groups = new ConcurrentLinkedQueue[String]()
    val endSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        groups.add(g)
        if (g == end) endSeen.countDown()
      }
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel(start)
      body
      // listener events arrive in order: once the end sentinel is seen,
      // every job the body started has been recorded
      sentinel(end)
      assert(endSeen.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq.dropWhile(_ != start).drop(1).takeWhile(_ != end).size
  }

  for ((name, bound) <- Seq("llm_semdedup_guarded" -> 11, "llm_ann_ledger" -> 43))
    test(s"a warm $name call runs at most $bound Spark jobs") {
      def call() = SparkEntry.queries(name)(spark, dir).collect().toSeq
      val cold = call()
      var warm = Seq.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf { warm = call() }
      assert(warm == cold)
      info(s"$name: $jobs jobs on a warm call")
      assert(jobs <= bound, s"$name ran $jobs jobs on a warm call, bound $bound")
    }
}
