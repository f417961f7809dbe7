package graft

import org.apache.spark.sql.SparkSession

/** What the mains (Verify, Bench, Explain) and the test session share:
  * one local-session configuration and one JSON string escaper.
  */
object Mains {

  /** A local session on `cpus` cores. Callers add only what differs.
    *  - session time zone UTC: the fixtures are zone-naive;
    *  - events.parquet stores INT64 TIMESTAMP(NANOS): read it as long and
    *    rebuild µs timestamps in Fixtures.events;
    *  - ObjectHashAggregate (graft_topk, graft_last_by) stays on the hash
    *    path at dedup-key cardinality (the COUNT-based fallback engages
    *    beyond 4M groups);
    *  - a codegen cache that holds this program's own classes: one
    *    `llm_ann_ledger` call alone compiles ~190 classes, more than
    *    Spark's default of 100 entries, so every rerun recompiled most of
    *    them (sf0.01, 4 cores: a second call compiled 135 classes in
    *    4.8 s with 100 entries, 4 classes in 2.8 s with 1024).
    */
  def localSession(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.cache.maxEntries", "1024")
    .config("spark.ui.enabled", "false")

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped — a tab or CR left raw makes the whole
    * artifact unparseable.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
