package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, max, sum}

import graft.fixtures.Fixtures
import graft.queries.E2eQueries

/** The e2e ingest path on its own, without the dashboard panels that
  * read it: each streamed Derby store (plain append, exactly-once under
  * a supervised mid-ingest kill, exactly-once with ledger pruning) holds
  * exactly the fixture trades and securities.
  */
class E2eIngestSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def stats(trades: DataFrame): Seq[Any] =
    trades.agg(count(lit(1)), sum("quantity"), max("trade_no")).head().toSeq

  private lazy val expected = stats(Fixtures.trades(spark, dir))
  private lazy val securities = Fixtures.securities(spark, dir).count()

  for ((name, read) <- Seq(
      "append" -> E2eQueries.readStore _,
      "exactly-once restart" -> E2eQueries.readRestartStore _,
      "exactly-once pruned" -> E2eQueries.readPrunedStore _))
    test(s"the $name store holds count, sum(quantity) and max(trade_no) of the fixture trades") {
      val store = read(spark, dir)
      assert(stats(store("transaq_trades")) == expected)
      assert(store("transaq_securities").count() == securities)
    }
}
