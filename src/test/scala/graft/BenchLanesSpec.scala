package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Bench.Lane
import graft.fixtures.{Fixtures, SessionCache}
import graft.schema.Tick

/** The bench's one streaming replay loop, on a short feed cut from the
  * sf0.001 ticks: what it times, what it counts, and what it leaves behind.
  */
class BenchLanesSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val overrides = Map(Shuffle -> "3",
    Provider -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  // four batches of unequal size, so a count that kept the untimed first
  // batch (or dropped a timed one) cannot match by accident
  private lazy val feed: Seq[Seq[Tick]] = {
    val ticks = Fixtures.wireTicks(spark, dir)
    val sizes = Seq(40, 30, 20, 10)
    sizes.indices.map(i => ticks.slice(sizes.take(i).sum, sizes.take(i + 1).sum))
  }

  private def noop(df: DataFrame, ck: String): StreamingQuery =
    df.writeStream.format("noop").option("checkpointLocation", ck).start()

  private def assertConfRestored(shuffleBefore: String): Unit = {
    assert(spark.conf.get(Shuffle) == shuffleBefore)
    assert(!spark.conf.getAll.contains(Provider), "provider must be unset again")
  }

  test("replay times the three batches after the first and counts only their rows") {
    val s = spark; import s.implicits._
    assert(feed.map(_.length) == Seq(40, 30, 20, 10))
    val shuffleBefore = spark.conf.get(Shuffle)
    assert(!spark.conf.getAll.contains(Provider))
    var query: StreamingQuery = null
    // a stateful lane: its state shards come from the lane's conf
    val lane = Lane[Tick]("plain", 1, () => feed, { (srcs, ck) =>
      query = noop(srcs.head.dropDuplicates("tickNo").toDF(), ck)
      query
    }, conf = overrides)
    val ckRoot = Files.createTempDirectory("bench_lanes")
    try {
      val r = Bench.replay(spark, lane, feed, ckRoot)
      assert(r.batches == 3)
      assert(r.rowsPerSec > 0)
      assert(r.shards == overrides(Shuffle).toLong)
      val first = query.recentProgress.head.batchId
      val timed = query.recentProgress.filter(_.batchId > first)
      assert(timed.map(_.numInputRows).sum == feed.tail.map(_.length).sum)
    } finally SessionCache.deleteRecursively(ckRoot.toString)
    assertConfRestored(shuffleBefore)
    assert(spark.streams.active.isEmpty)
  }

  test("batched keeps the fixed size at three batches or more and splits shorter feeds into thirds") {
    assert(Bench.batched(1 to 30, 10).map(_.length) == Seq(10, 10, 10))
    assert(Bench.batched(1 to 21, 10).map(_.length) == Seq(10, 10, 1))
    assert(Bench.batched(1 to 20, 10).map(_.length) == Seq(6, 7, 7))
    assert(Bench.batched(1 to 5, 10).map(_.length) == Seq(1, 2, 2))
    assert(Bench.batched(1 to 20, 10).flatten == (1 to 20))
  }

  test("a failing lane records its own error, restores the conf, stops its query; the next lane runs") {
    val s = spark; import s.implicits._
    val shuffleBefore = spark.conf.get(Shuffle)
    val bad = feed(2).head.tickNo
    val lanes = Seq[Lane[_]](
      Lane[Tick]("start_throws", 1, () => feed,
        (_, _) => throw new IllegalStateException("injected at start"), conf = overrides),
      Lane[Tick]("fails_mid_stream", 1, () => feed, (srcs, ck) => noop(srcs.head.selectExpr("*",
        s"CASE WHEN tickNo = $bad THEN raise_error('injected mid-stream') ELSE 0 END AS ok"), ck),
        conf = overrides),
      // a null row fails inside addData, before any task, while the query runs
      Lane[Tick]("fails_in_feed", 1, () => Seq(feed.head, Seq(null)),
        (srcs, ck) => noop(srcs.head.toDF(), ck)),
      Lane[Tick]("plain", 2, () => feed, (srcs, ck) => noop(srcs.head.toDF(), ck)))
    val out = Bench.runLanes(spark, lanes)
    assert(out.map(_._1) == Seq("start_throws", "fails_mid_stream", "fails_in_feed", "plain"))
    assert(out(0)._2.left.exists(_.contains("injected at start")))
    assert(out(1)._2.isLeft)
    assert(out(2)._2.isLeft)
    assert(out(3)._2.exists(reps => reps.length == 2 && reps.forall(_.batches == 3)))
    assertConfRestored(shuffleBefore)
    assert(spark.streams.active.isEmpty)

    assert(Bench.laneJson(out(0)._2, 1) == """{"error":"injected at start"}""")
    val plain = Bench.laneJson(out(3)._2, 1)
    assert(plain.startsWith("""{"rows_per_sec":""") && plain.contains(""""batches":3,""") &&
      plain.contains(""""state_disk_bytes":0,"rps_other_rep":"""))
  }
}
