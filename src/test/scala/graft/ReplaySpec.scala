package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.fixtures.SessionCache
import graft.sources.Sinks
import graft.streaming.{Replay, TransientFault}

/** The replay driver of the streaming entries: what `run` delivers and
  * commits, and that `run` and `supervised` leave no query running,
  * also when the query fails or the armed fault never fires.
  */
class ReplaySpec extends SparkSuite {

  private val feed: Seq[Seq[Int]] = Seq(Seq(1, 2, 3), Seq(4, 5), Seq(6, 7, 8, 9))

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("replay_spec").toString
    try body(dir) finally SessionCache.deleteRecursively(dir)
  }

  private def committed(ck: String): Int =
    Option(new java.io.File(s"$ck/commits").list()).toSeq.flatten.count(_.forall(_.isDigit))

  test("run delivers every row of every batch in batch order, one committed micro-batch each") {
    val s = spark; import s.implicits._
    withDir { dir =>
      val seen = new ConcurrentLinkedQueue[(Long, Seq[Int])]()
      Replay.run(spark, feed, 2) { ds =>
        ds.writeStream.option("checkpointLocation", s"$dir/ck")
          .foreachBatch { (b: Dataset[Int], id: Long) =>
            seen.add(id -> b.collect().toSeq.sorted); ()
          }
          .start()
      }
      val batches = seen.asScala.toSeq.sortBy(_._1)
      assert(batches.map(_._1) == feed.indices.map(_.toLong))
      assert(batches.map(_._2) == feed)
      assert(committed(s"$dir/ck") == feed.length)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("run rethrows a failure on batch 2, in the query or in the feed, and leaves no active query") {
    val s = spark; import s.implicits._
    withDir { dir =>
      val e = intercept[StreamingQueryException] {
        Replay.run(spark, feed, 2) { ds =>
          ds.toDF("v").selectExpr("v",
            "CASE WHEN v = 4 THEN raise_error('injected on batch 2') ELSE 0 END AS ok")
            .writeStream.format("noop").option("checkpointLocation", s"$dir/ck").start()
        }
      }
      assert(e.getMessage.contains("injected on batch 2"))
      assert(committed(s"$dir/ck") == 1)
    }
    assert(spark.streams.active.isEmpty)
    // a null row fails inside addData, before any task, while the query runs
    withDir { dir =>
      intercept[Exception] {
        Replay.run(spark, Seq[Seq[(Int, String)]](Seq(1 -> "a"), Seq(null)), 2) { ds =>
          ds.toDF().writeStream.format("noop").option("checkpointLocation", s"$dir/ck").start()
        }
      }
    }
    assert(spark.streams.active.isEmpty)
  }

  test("supervised fails with 'did not fire' when start never trips the fault") {
    val s = spark; import s.implicits._
    withDir { dir =>
      var query: StreamingQuery = null
      val e = intercept[IllegalArgumentException] {
        Replay.supervised(spark, feed, 2, s"replay_spec_unfired|$dir") { ds =>
          query = Sinks.streamAppend(ds, s"$dir/out", s"$dir/ck")
          query
        }
      }
      assert(e.getMessage.contains("did not fire"))
      assert(!query.isActive)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("supervised recovers a fault on batch 1 with one restart and every row once") {
    val s = spark; import s.implicits._
    withDir { dir =>
      val key = s"replay_spec_fired|$dir"
      val out = Replay.supervised(spark, feed, 2, key) { ds =>
        Sinks.streamAppend(ds.map { v => TransientFault.tripwire(key); v },
          s"$dir/out", s"$dir/ck")
      }
      assert(out.restarts == 1)
      assert(spark.read.parquet(s"$dir/out").collect().map(_.getInt(0)).sorted.toSeq ==
        feed.flatten)
    }
    assert(spark.streams.active.isEmpty)
  }
}
