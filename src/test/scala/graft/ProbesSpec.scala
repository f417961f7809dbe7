package graft

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils

import graft.tools.{CostProbe, KeyProbe, RecallProbe, ScaleProbe}

/** Each probe main's `run` once, at its smallest size, on sf0.001: the
  * probes stay runnable, and their reports stay in range.
  */
class ProbesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val out = Files.createTempDirectory("graft_probes").toString

  override def afterAll(): Unit = JavaUtils.deleteRecursively(new java.io.File(out))

  /** The `key=value` fields of a report line. */
  private def fields(line: String): Map[String, String] =
    line.split(' ').toSeq.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap

  test("KeyProbe times an entry warm and cold and counts each rep's jobs") {
    val lines = KeyProbe.run(spark, dir, Seq("dedup_trades"))
    assert(lines.size == KeyProbe.Rounds + 1)
    lines.init.map(fields).foreach { f =>
      assert(f("entry") == "dedup_trades")
      assert(f("warm").toDouble > 0 && f("cold").toDouble > 0)
      assert(f("jobs").split('/').map(_.toInt).forall(_ > 0), f)
      assert(f("tasks").split('/').map(_.toInt).forall(_ > 0), f)
    }
    assert(fields(lines.last)("warmup_failures") == "0")
  }

  test("ScaleProbe at decade 1 writes 10x replicas and one ratio row per entry") {
    val entries = Seq("llm_exact_dedup", "dedup_trades")
    val lines = ScaleProbe.run(spark, dir, out, 1, entries)
    val docs = spark.read.parquet(s"${ScaleProbe.scaledDir(out, 10)}/documents.parquet")
    val baseDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(docs.count() == 10 * baseDocs)
    assert(docs.select("doc_id").distinct().count() == 10 * baseDocs)
    assert(lines.map(fields(_)("entry")) == entries)
    lines.map(fields).foreach { f =>
      assert(f("ratio").toDouble > 0, f)
      assert(f("x10_rows").toLong > 0, f)
    }
  }

  test("RecallProbe finds the planted near-dup pairs at the fixture and at 10x") {
    val lines = RecallProbe.run(spark, dir, out)
    assert(lines.size == 2)
    lines.map(fields).foreach { f =>
      val recall = f("recall").toDouble
      assert(recall > 0 && recall <= 1, f)
      assert(f("pairs").toLong >= f("planted").toLong, f)
    }
  }

  test("CostProbe reports agreement, dot ratios and route shares in range") {
    val lines = CostProbe.run(spark, dir, hierSizes = Seq(2000), overshoots = Seq(1))
    val (hier, postCap) = lines.map(fields).partition(_.contains("agree"))
    assert(hier.map(_("shape")) == Seq("clustered", "random"))
    hier.foreach { f =>
      val agree = f("agree").toDouble
      assert(agree >= 0 && agree <= 1, f)
      assert(f("dot_ratio").toDouble > 0, f)
    }
    assert(postCap.size == 1)
    postCap.foreach { f =>
      for (k <- Seq("split_share", "capped_share")) {
        val share = f(k).toDouble
        assert(share >= 0 && share <= 1, f)
      }
    }
  }
}
