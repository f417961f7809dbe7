package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A1-A3 — the engine's source surface (SURVEY §2.A).
  *
  * The reference consumes one gRPC stream demultiplexed over typed Go
  * channels (process.go:15-67) plus two batch snapshots (securities
  * directory, history candles). Spark-first mapping: ONE source per event
  * type — batch `spark.read` with an explicit schema (never inference;
  * the reference declares DDL up front, main.go:61-65) and
  * `spark.readStream` over the same layout for the live path. Demux is
  * "separate sources", not a union-then-split: each stream keeps its own
  * schema, watermark and sink.
  *
  * Scale notes: sources take explicit schemas so the parquet footer scan
  * is the only metadata read; a production deployment points the same
  * readers at a Kafka topic per event type with identical downstream
  * plumbing (the transforms only see a typed DataFrame).
  */
object Sources {

  /** A2-analog batch read with enforced schema. */
  def batch(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** A1-analog file stream: tails a directory of parquet drops with the
    * same schema as the batch path (tests feed it from an in-memory stream
    * instead — see StreamingSpec — since the semantics live in the
    * transforms, not the transport).
    */
  def stream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  // =======================================================================
  // Text-format ingest surface (round 9): the reference's upstream feeds
  // are text on the wire (XML envelopes re-serialized to CSV/JSON drops in
  // typical deployments), so the engine exposes CSV and JSON-lines readers
  // with the same explicit-schema discipline as the parquet path. Options
  // are centralized here so the write and read sides CANNOT drift: the
  // registered round-trip entries (a22/a23) hold write→read to an identity
  // oracle, which pins quoting, escaping, embedded newlines (multiLine),
  // timestamp text format and null encoding in one hash.
  //
  // Scale notes: both readers are splittable per FILE; CSV with
  // multiLine=true additionally can't split INSIDE a file (a quoted field
  // may span lines), so the writer keeps the input's partitioning — many
  // moderate files — rather than coalescing, and a 100 TB drop stays
  // parallel. JSON-lines splits by line unconditionally. These formats are
  // the INGEST EDGE only; first hop materializes to parquet (batchAppend).
  // =======================================================================

  /** Shared CSV options — header row, full quoting with `"` doubled as the
    * escape (RFC-4180), ISO timestamps; `multiLine` lets quoted text carry
    * embedded newlines. Known format limit (inherent to CSV, not an
    * option away): an EMPTY STRING and NULL serialize identically, so
    * empty strings read back as null — feeds that need the distinction
    * take the JSON edge ([[writeJsonl]]), which preserves both.
    */
  private def csvOptions(r: org.apache.spark.sql.DataFrameReader) =
    r.option("header", true).option("quote", "\"").option("escape", "\"")
      .option("multiLine", true)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", true).option("quote", "\"").option("escape", "\"")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      // the WRITER trims cell whitespace by default (StateMergeSpec
      // caught "trailing space " arriving back as "trailing space");
      // data fidelity wins over pretty output on an ingest edge
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    csvOptions(spark.read.schema(schema)).csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(path)

  /** ORC edge (round 12) — the OTHER first-class columnar format (the
    * Hive/Trino interchange; orc-core ships with Spark, and Spark's
    * vectorized ORC reader is on by default). Binary + typed like
    * parquet — no text-rendering seams — so the identity round-trip pins
    * the vectorized reader/writer's TYPE fidelity (timestamp precision,
    * double bits, integer widths, string bytes) through a second
    * columnar container. Same scale story as parquet: ORC stripes carry
    * min/max statistics, so a key-clustered write gets the same
    * stat-based pruning class ([[Sinks.batchAppend]]'s argument).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}
