package graft

import java.util.concurrent.Executors

import scala.concurrent.{ExecutionContext, Future}

import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.queries.RetrievalQueries

/** The ANN ledger's fan-out: a failing method future must not leave the
  * other methods' Spark jobs running behind the entry.
  */
class AwaitAllSpec extends SparkSuite with Eventually {

  private implicit lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutor(Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(r, "await-all-spec"); t.setDaemon(true); t
    }))

  test("awaitAll waits for every future before it rethrows the first failure") {
    val failing = Future[Long](throw new IllegalStateException("injected"))
    val slow = Future(spark.sparkContext.parallelize(1 to 2, 2)
      .map { i => Thread.sleep(2000); i }.count())
    val e = intercept[IllegalStateException](RetrievalQueries.awaitAll(Seq(failing, slow)))
    assert(e.getMessage == "injected")
    assert(slow.isCompleted)
    // the status store hears of the job's end over the async listener
    // bus; a job still running would stay active for about 2 s more
    eventually(timeout(Span(1, Seconds))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    }
  }

  test("awaitAll returns the values in the order of the futures") {
    val fs = Seq(3, 1, 2).map(i => Future { Thread.sleep(50L * i); i })
    assert(RetrievalQueries.awaitAll(fs) == Seq(3, 1, 2))
  }
}
