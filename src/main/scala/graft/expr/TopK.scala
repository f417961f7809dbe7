package graft.expr

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters state: at most `capacity` counters; evicting
  * the minimum counter charges its count as the newcomer's error bound
  * (Metwally et al., "Efficient Computation of Frequent and Top-k Elements
  * in Data Streams"). While distinct values ≤ capacity the sketch is EXACT —
  * which covers the reference's only use, ClickHouse `topK(10)(sec_code)`
  * (grafana-dashboard-trades.json:374) over ≤60 instrument codes.
  */
final class TopKBuffer(val capacity: Int) {
  // value -> (count, overestimation error)
  val counters: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty

  def add(v: String): Unit = counters.get(v) match {
    case Some((c, e)) => counters.update(v, (c + 1L, e))
    case None if counters.size < capacity => counters.update(v, (1L, 0L))
    case None =>
      val (mv, (mc, _)) = counters.minBy { case (k, (c, _)) => (c, k) }
      counters.remove(mv)
      counters.update(v, (mc + 1L, mc))
  }

  /** Merge another sketch in (exact while combined cardinality ≤ capacity;
    * otherwise keeps the top `capacity` counters — standard approximate
    * SpaceSaving merge).
    */
  def merge(o: TopKBuffer): Unit = {
    o.counters.foreach { case (v, (c, e)) =>
      counters.get(v) match {
        case Some((c0, e0)) => counters.update(v, (c0 + c, e0 + e))
        case None => counters.update(v, (c, e))
      }
    }
    if (counters.size > capacity) {
      val keep = counters.toSeq
        .sortBy { case (v, (c, _)) => (-c, v) }.take(capacity)
      counters.clear()
      counters ++= keep
    }
  }

  /** Top k values by (count desc, value asc) — the value tiebreak keeps the
    * result deterministic for the oracle compare.
    */
  def topK(k: Int): Array[String] =
    counters.toSeq.sortBy { case (v, (c, _)) => (-c, v) }
      .take(k).map(_._1).toArray
}

/** Shared wire format for [[TopKBuffer]] — used both between partial and
  * final aggregation ([[TopK]].serialize) and AT REST by the
  * `-State`/`-Merge` combinator pair ([[TopKState]]/[[TopKMerge]]): a
  * state persisted by one job must deserialize in a later one, so the
  * layout is explicit (int capacity, int n, then n × (UTF value, long
  * count, long error)) rather than Java serialization. Entries are
  * written value-sorted so equal sketches produce identical bytes
  * (HashMap iteration order would otherwise leak into the parquet).
  */
object TopKBuffer {
  def write(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.capacity)
    out.writeInt(b.counters.size)
    b.counters.toSeq.sortBy(_._1).foreach { case (v, (c, e)) =>
      out.writeUTF(v); out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  def read(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val v = in.readUTF(); val c = in.readLong(); val e = in.readLong()
      b.counters.update(v, (c, e))
      i += 1
    }
    b
  }
}

/** `graft_topk(col, k)` — approximate top-k heavy hitters as
  * array&lt;string&gt;, the Spark-native port of ClickHouse `topK(k)(col)`.
  * A [[TypedImperativeAggregate]] so it participates in partial/final
  * aggregation (map-side combine) like any built-in — sketches merge across
  * partitions, no row shuffle beyond the group keys.
  */
case class TopK(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  // ClickHouse reserves k*3 cells by default; round up for a wider exact regime
  private def capacity: Int = math.max(k * 5, 64)

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(capacity)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.toString)
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = { b.merge(o); b }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.topK(k).map(UTF8String.fromString))

  override def serialize(b: TopKBuffer): Array[Byte] = TopKBuffer.write(b)

  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopK =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def prettyName: String = "graft_topk"
}

/** `graft_topk_state(col, k)` — the ClickHouse `topKState` combinator:
  * aggregates like [[TopK]] but emits the SERIALIZED SKETCH (binary)
  * instead of the finished array. The AggregatingMergeTree idiom at
  * 100 TB: each ingest batch (a day, an hour, one micro-batch) persists
  * per-group states into a parts table whose size tracks GROUPS × PARTS,
  * not rows; any later query folds states via [[TopKMerge]] and never
  * rescans the raw facts. While every per-part sketch stays under
  * capacity the round-trip is lossless; past capacity it degrades to the
  * standard SpaceSaving-merge approximation (TopKStateSpec pins both
  * regimes).
  */
case class TopKState(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  private def capacity: Int = math.max(k * 5, 64)

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(capacity)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.toString)
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = { b.merge(o); b }

  override def eval(b: TopKBuffer): Any = TopKBuffer.write(b)

  override def serialize(b: TopKBuffer): Array[Byte] = TopKBuffer.write(b)
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKState =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def prettyName: String = "graft_topk_state"
}

/** `graft_topk_merge(state, k)` — the ClickHouse `topKMerge` combinator:
  * folds PERSISTED [[TopKState]] blobs (one row per part × group) back
  * into a sketch and finishes it to the top-k array, with the same
  * (count desc, value asc) determinism as [[TopK]]. Input states may
  * carry any capacity (it travels in the wire format); the fold keeps
  * the widest seen so a merge never narrows what a part measured.
  */
case class TopKMerge(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  private def capacity: Int = math.max(k * 5, 64)

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(capacity)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v == null) return b
    val other = TopKBuffer.read(v.asInstanceOf[Array[Byte]])
    // fold into the wider of the two buffers so a high-capacity part
    // state is never truncated by the default merge buffer
    if (other.capacity > b.capacity) { other.merge(b); other }
    else { b.merge(other); b }
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer =
    if (o.capacity > b.capacity) { o.merge(b); o } else { b.merge(o); b }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.topK(k).map(UTF8String.fromString))

  override def serialize(b: TopKBuffer): Array[Byte] = TopKBuffer.write(b)
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMerge =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def prettyName: String = "graft_topk_merge"
}

/** The engine's SQL function surface, installed two ways: per session by
  * [[GraftFunctions.register]] and in every session of an application by
  * [[graft.GraftExtensions]]. Both iterate [[GraftFunctions.Surface]], so
  * they cannot diverge. Two entries are the non-ANSI constructs the
  * reference SQL uses (SURVEY §2.C): `topK(k)(col)` (GD:374) and
  * `toStartOfInterval(t, INTERVAL n)` (GD:113), exposed to Spark SQL as
  * `graft_topk(col, k)` and `to_start_of_interval(t, seconds)`.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Pmod, SecondsToTimestamp, Subtract, UnixSeconds}
  import org.apache.spark.sql.types.{LongType, TimestampType}

  /** `toStartOfInterval(t, seconds)` as a Catalyst tree. */
  def toStartOfInterval(exprs: Seq[Expression]): Expression = {
    val us = UnixSeconds(Cast(exprs.head, TimestampType))
    SecondsToTimestamp(Subtract(us, Pmod(us, Cast(exprs(1), LongType))))
  }

  /** One SQL function: its name, its `DESCRIBE FUNCTION` usage line and
    * the builder from its argument expressions.
    */
  final case class Fn(name: String, usage: String, build: Seq[Expression] => Expression)

  // the n-gram, hyperplane and CDC kernels take their integer and boolean
  // arguments as literals: they parameterize the generated code
  private def litInt(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def litBool(e: Expression): Boolean = e.eval().asInstanceOf[Boolean]

  val Surface: Seq[Fn] = Seq(
    Fn("graft_topk", "graft_topk(col, k) - SpaceSaving top-k (ClickHouse topK)",
      e => TopK(e.head, e(1))),
    Fn("graft_topk_state", "graft_topk_state(col, k) - serialized sketch (ClickHouse topKState)",
      e => TopKState(e.head, e(1))),
    Fn("graft_topk_merge", "graft_topk_merge(state, k) - fold persisted states (ClickHouse topKMerge)",
      e => TopKMerge(e.head, e(1))),
    Fn("graft_last_by", "graft_last_by(value, ord) - value at max ord on the hash-aggregate path",
      e => LastBy(e.head, e(1))),
    Fn("graft_tdigest_quantiles", "graft_tdigest_quantiles(col, pcts) - merging t-digest quantiles",
      e => TDigestQuantiles(e.head, e(1))),
    Fn("graft_tdigest_state", "graft_tdigest_state(col) - serialized t-digest (quantileTDigestState)",
      e => TDigestState(e.head)),
    Fn("graft_tdigest_merge", "graft_tdigest_merge(state, pcts) - fold persisted digests (quantileTDigestMerge)",
      e => TDigestMerge(e.head, e(1))),
    Fn("graft_capped_longs", "graft_capped_longs(col, cap) - bounded-buffer BIGINT collect",
      e => CappedLongs(e.head, e(1))),
    Fn("to_start_of_interval", "to_start_of_interval(ts, seconds) - ClickHouse toStartOfInterval",
      toStartOfInterval),
    Fn("char_ngrams", "char_ngrams(text, n, dedup) - codegen'd char n-grams",
      e => CharNgrams(e.head, litInt(e(1)), litBool(e(2)))),
    Fn("word_ngrams", "word_ngrams(tokens, n, dedup) - codegen'd word n-grams",
      e => WordNgrams(e.head, litInt(e(1)), litBool(e(2)))),
    Fn("vec_normsq", "vec_normsq(qv) - exact squared norm of a quantized vector",
      e => VecNormSq(e.head)),
    Fn("vec_dot", "vec_dot(a, b) - exact integer dot product",
      e => VecDot(e.head, e(1))),
    Fn("hyperplane_dots", "hyperplane_dots(qv, n) - n deterministic hyperplane dots",
      e => HyperplaneDots(e.head, litInt(e(1)))),
    Fn("cdc_chunks", "cdc_chunks(tokens, mod) - map-side CDC chunk signatures",
      e => CdcChunks(e.head, litInt(e(1)))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Every QueryDef run calls register, and createOrReplaceTempFunction
    // logs a "replaced a previously registered function" WARN on each
    // replacement. The surface is the same on every call, so skip when
    // EVERY name is already installed; any missing name (a fresh session)
    // re-installs the whole table.
    if (Surface.forall(f => registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)))) return
    Surface.foreach(f => registry.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}
