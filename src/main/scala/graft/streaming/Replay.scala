package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** How the replay entries push a wire-ordered feed through a stream: the
  * reference's main loop (feed → parse/candle → store, main.go +
  * process.go:126-169) with a MemoryStream as the wire. Each batch is
  * one micro-batch, processed before the next is fed (a watermarked
  * query may run no-data micro-batches of its own in between). The
  * caller states only its query: `start` builds it over the source and
  * starts it.
  *
  * `parts` fixes the source partitions: MemoryStream ships each task's
  * slice of a micro-batch inside the task closure, so an unpartitioned
  * batch would travel as one driver-sized task.
  */
object Replay {

  /** Feed `batches` in order through the query `start` builds over a
    * fresh source, waiting for each to be processed; the query is
    * stopped whether or not the feed succeeds.
    */
  def run[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]], parts: Int)(
      start: Dataset[T] => StreamingQuery): Unit = {
    val source = MemoryStream[T](parts)(implicitly[Encoder[T]], spark.sqlContext)
    val q = start(source.toDS())
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  /** [[run]] under [[Supervisor.run]] with zero backoff, with one
    * [[TransientFault]] armed under `faultKey`: `start` places the
    * `tripwire`, and each restart resumes the feed from the first batch
    * not yet handed to the source (the checkpoint's offset log replays
    * the one in flight). Fails unless the fault fired, i.e. at least one
    * restart happened.
    */
  def supervised[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]], parts: Int,
      faultKey: String)(start: Dataset[T] => StreamingQuery): Supervisor.Outcome = {
    val source = MemoryStream[T](parts)(implicitly[Encoder[T]], spark.sqlContext)
    TransientFault.arm(faultKey, 1)
    var fed = 0
    val outcome = Supervisor.run(() => start(source.toDS()),
        maxRestarts = 10, backoff = java.time.Duration.ZERO) { q =>
      while (fed < batches.length) {
        source.addData(batches(fed)); fed += 1; q.processAllAvailable()
      }
      // a kill during the last feed leaves pending offsets: flush them
      q.processAllAvailable()
    }
    require(outcome.restarts >= 1,
      s"fault $faultKey did not fire (attempts=${outcome.attempts})")
    outcome
  }

  /** `rows` in at most four batches of at least `minRows` rows (the last
    * may be shorter): a feed above `minRows` crosses micro-batch
    * boundaries, so the replay covers state carried between them.
    */
  def batches[T](rows: Seq[T], minRows: Int = 50000): Seq[Seq[T]] =
    rows.grouped(math.max(minRows, rows.length / 4 + 1)).toSeq

  /** `rows` in exactly `n` contiguous slices, whatever their count. */
  def slices[T](rows: Seq[T], n: Int): Seq[Seq[T]] =
    (0 until n).map(i => rows.slice(i * rows.length / n, (i + 1) * rows.length / n))
}
