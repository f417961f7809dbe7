package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{SessionEvent, SessionStream}

/** Streaming sessionization parity ([[SessionStream]]): the watermarked
  * `session_window` aggregation over micro-batches must reach the batch
  * sessionize answer row-exactly — including a session that SPANS a
  * micro-batch boundary and the final still-open sessions, which only the
  * two-sentinel watermark flush closes. The restart case pins that open
  * session state survives a full query stop/start over one checkpoint.
  */
class SessionStreamSpec extends SparkSuite {

  private def ev(user: Long, t: String): SessionEvent =
    SessionEvent(user, Timestamp.valueOf(s"2024-01-05 $t"))

  // batch 1 ends mid-session for user 1: events at 10:00 and 10:10; batch 2
  // extends it at 10:25 (gap 15 < 30 min -> same session) and opens the
  // late sessions that only the sentinel flush can close
  private val batch1 = Seq(
    ev(1, "10:00:00"), ev(1, "10:10:00"),
    ev(2, "10:05:00"))
  private val batch2 = Seq(
    ev(1, "10:25:00"), // extends user 1's open session across the boundary
    ev(2, "11:30:00"), // > 30 min after 10:05 -> user 2's SECOND session
    ev(3, "11:45:00"))

  private def batchSessions(events: Seq[SessionEvent]) = {
    import spark.implicits._
    events.toDF()
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.getTime)).toSeq
  }

  /** Sentinel flush — arithmetic owned by [[SessionStream.flushSentinels]]
    * (with a nonzero watermark delay the sentinels must clear gap + delay
    * past the max event time).
    */
  private def flush(ms: MemoryStream[SessionEvent],
      q: org.apache.spark.sql.streaming.StreamingQuery, maxTs: Long,
      delayMin: Long = 0L): Unit =
    SessionStream.flushSentinels(maxTs, delayMin = delayMin).foreach { s =>
      ms.addData(Seq(s)); q.processAllAvailable()
    }

  private def readSink(outDir: String) =
    spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(r.fieldIndex("user_id")),
        r.getTimestamp(r.fieldIndex("session_start")),
        r.getTimestamp(r.fieldIndex("session_end")),
        r.getLong(r.fieldIndex("n_events"))))
      .sortBy(t => (t._1, t._2.getTime)).toSeq

  test("streamed sessions ≡ batch sessionize, incl. cross-batch merge and sentinel flush") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val outDir = Files.createTempDirectory("sess_out").toString
    val q = SessionStream.sinkToParquet(
      SessionStream.sessions(ms.toDS()), outDir,
      Files.createTempDirectory("sess_ck").toString)
    try {
      Seq(batch1, batch2).foreach { b => ms.addData(b); q.processAllAvailable() }
      flush(ms, q, batch2.map(_.ts.getTime).max)
    } finally q.stop()
    val got = readSink(outDir)
    assert(got == batchSessions(batch1 ++ batch2), got.toString)
    // the row that PROVES the cross-batch merge: user 1's single session
    // spans 10:00 -> 10:25+30min with all three events
    assert(got.contains((1L, Timestamp.valueOf("2024-01-05 10:00:00"),
      Timestamp.valueOf("2024-01-05 10:55:00"), 3L)))
    assert(!got.exists(_._1 < 0), "sentinel sessions must never flush")
  }

  test("parity is split-invariant: random micro-batch boundaries never change the answer") {
    // The dimension that could break streaming/batch parity is WHERE the
    // micro-batch boundaries fall (state merge + watermark advance happen
    // there). Replay one event set under seeded random splits; every
    // split must reach the same batch answer.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val events = (0 until 60).map { i =>
      ev(rnd.nextInt(4).toLong, f"${9 + rnd.nextInt(4)}%02d:${rnd.nextInt(60)}%02d:00")
    }.sortBy(_.ts.getTime)
    val want = batchSessions(events)
    for (seed <- Seq(1, 2, 3)) {
      val r = new scala.util.Random(seed)
      // random cut points -> 1..60-sized batches, order preserved
      val splits = events.foldLeft(List(Vector.empty[SessionEvent])) { (acc, e) =>
        if (r.nextInt(10) == 0) Vector(e) :: acc
        else (acc.head :+ e) :: acc.tail
      }.reverse.filter(_.nonEmpty)
      val ms = MemoryStream[SessionEvent]
      val outDir = Files.createTempDirectory(s"sess_split_$seed").toString
      val q = SessionStream.sinkToParquet(
        SessionStream.sessions(ms.toDS()), outDir,
        Files.createTempDirectory(s"sess_split_ck_$seed").toString)
      try {
        splits.foreach { b => ms.addData(b); q.processAllAvailable() }
        flush(ms, q, events.map(_.ts.getTime).max)
      } finally q.stop()
      assert(readSink(outDir) == want, s"split seed $seed diverged from batch")
    }
  }

  test("watermark delay: a late event drops only once its session END is behind the watermark") {
    // The replay entry feeds in order with zero delay; an actual wire
    // reorders. The engine's late-row line for session windows is the
    // WINDOW END, not the timestamp: a straggler whose would-be session
    // [ts, ts+gap) could still change emitted output (end > watermark) is
    // accepted and merged; one whose window end ≤ watermark can no longer
    // affect anything and is dropped. Pin both sides, plus that the
    // already-closed session it would have extended stays closed.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val outDir = Files.createTempDirectory("sess_late_out").toString
    val q = SessionStream.sinkToParquet(
      SessionStream.sessions(ms.toDS(), delay = "10 minutes"), outDir,
      Files.createTempDirectory("sess_late_ck").toString)
    // batch 1 max = 11:00 -> watermark for batch 2 = 10:50
    val onTime = Seq(ev(1, "10:00:00"), ev(2, "11:00:00"))
    val dropped = ev(1, "10:15:00") // window [10:15, 10:45) ends ≤ 10:50
    // THE DISCRIMINATOR: ts 10:30 is behind the 10:50 watermark (a plain
    // timestamp rule would drop it) but its window [10:30, 11:00) ends
    // past the watermark — only the window-end rule accepts it
    val discriminator = ev(3, "10:30:00")
    val accepted = ev(1, "10:55:00") // not late under either rule
    try {
      ms.addData(onTime)
      q.processAllAvailable()
      ms.addData(Seq(dropped, discriminator, accepted))
      q.processAllAvailable()
      flush(ms, q, Timestamp.valueOf("2024-01-05 11:00:00").getTime, delayMin = 10L)
    } finally q.stop()
    // the dropped straggler WOULD have merged 10:00's and 10:15's covers
    // into one [10:00, 10:45) session in a batch recompute — the streamed
    // answer must instead equal the batch answer over the ACCEPTED set:
    // u1 [10:00,10:30) already emitted, u3 [10:30,11:00) (the
    // discriminator — present iff the engine drops by window end),
    // u1 [10:55,11:25) new, u2 [11:00,11:30)
    assert(readSink(outDir) == batchSessions(onTime ++ Seq(discriminator, accepted)))
  }

  test("checkpoint restart: open session state survives a full query stop/start") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val outDir = Files.createTempDirectory("sess_rs_out").toString
    val ckDir = Files.createTempDirectory("sess_rs_ck").toString
    val q1 = SessionStream.sinkToParquet(
      SessionStream.sessions(ms.toDS()), outDir, ckDir)
    ms.addData(batch1)
    q1.processAllAvailable()
    q1.stop() // hard stop: every batch-1 session is still OPEN state
    val q2 = SessionStream.sinkToParquet(
      SessionStream.sessions(ms.toDS()), outDir, ckDir)
    try {
      ms.addData(batch2)
      q2.processAllAvailable()
      flush(ms, q2, batch2.map(_.ts.getTime).max)
    } finally q2.stop()
    assert(readSink(outDir) == batchSessions(batch1 ++ batch2))
  }

  test("evt_sessions_stream: one committed micro-batch per fed batch, batch answer") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("evt_sessions_stream")(spark, dir).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == SparkEntry.queries("evt_sessions")(spark, dir).collect().toSeq)
    // the entry's filled scratch dir (a filled key is returned as is)
    val root = graft.fixtures.SessionCache.scratchDir(
      s"evt_sessions_stream|${spark.sparkContext.applicationId}|$dir")
    val commits = new java.io.File(s"$root/ck/commits").list().count(!_.startsWith("."))
    // four event batches plus the two flush sentinels, and no no-data batch
    val events = graft.fixtures.Fixtures.events(spark, dir).count().toInt
    assert(commits == graft.streaming.Replay.batches(Seq.fill(events)(()), minRows = 1).size + 2)
  }
}
