package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the suites: the session config of
  * Verify/Bench ([[Mains.localSession]]) on four cores.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSuite {
  lazy val session: SparkSession = Mains.localSession(4).getOrCreate()
}
