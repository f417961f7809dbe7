package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Map-side content-defined chunking: fold ONE document's token array
  * into its CDC chunk signatures in a single local pass.
  *
  * Why an expression and not the window form: the original
  * `llm_cdc_chunk` plan exploded the corpus into a WORD stream and ran
  * two doc-partitioned windows over it (boundary prefix-sum, chunk-start
  * min) — i.e. it shuffled and sorted every word in the corpus before
  * aggregating chunks. The third-decade scale probe (sf100, 5M docs,
  * ~500M words, 256 shuffle partitions) measured that shape at 15.9× on
  * 10× data — the word-stream sort spills unboundedly because its volume
  * is corpus tokens, not chunks. But chunk boundaries are decided by
  * each word's OWN hash (that is the point of CDC), so the whole per-doc
  * computation is local: this expression walks the token array once and
  * emits `(sig, len, start)` per chunk, no shuffle anywhere — exactly
  * how a real CDC deduper runs inside an ingest mapper. The corpus-wide
  * duplicate stats downstream then shuffle only the ~tokens/8 fixed-width
  * chunk rows.
  *
  * Semantics — bit-identical to the DuckDB oracle spelling
  * (`queries/DedupQueries.cdcChunk`):
  *   - positions are 1-based over the token array;
  *   - a word w is a BOUNDARY iff `int(hex8(md5(w))) % mod == 0`
  *     (first 8 hex chars of the md5 of its UTF-8 bytes); a boundary
  *     word CLOSES its chunk (belongs to it);
  *   - within a chunk, each word contributes
  *     `int(hex10(md5(off ++ "|" ++ w)))` where `off` is its 0-based
  *     decimal offset from the chunk start; `sig` is the plain Long sum
  *     (terms < 2^40, chunks ≤ 2^20 words → sum < 2^60, overflow-free);
  *   - `len` is the chunk's word count, `start` its 1-based position;
  *   - trailing words after the last boundary form a final chunk; every
  *     word belongs to exactly one chunk;
  *   - NULL array elements are skipped: they contribute no term, don't
  *     count toward `len`, and can never be a boundary (positions of the
  *     surrounding words are unchanged, so their terms are unaffected).
  *     Internal callers always feed `split()` output (no nulls); this
  *     defines behavior for direct SQL users of the registered function
  *     instead of throwing NPE.
  */
object CdcChunkUtil {

  private val StructFields = Array(
    StructField("sig", LongType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("start", IntegerType, nullable = false))
  val ChunkType: StructType = StructType(StructFields)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Integer value of the first `digits` hex chars of md5(bytes) —
    * `digits` ≤ 15 keeps the value under 2^60 (the [[graft.llm.Text
    * .hexPrefixIntSql]] twin; 4 bits per hex digit, big-endian).
    */
  private def md5HexPrefix(bytes: Array[Byte], digits: Int): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < digits) {
      val b = h(i >> 1) & 0xff
      val nibble = if ((i & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  def chunks(tokens: ArrayData, mod: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](n / mod + 2)
    var sig = 0L
    var len = 0L
    var start = 1
    var pos = 1
    while (pos <= n) {
      if (tokens.isNullAt(pos - 1)) { pos += 1 }
      else {
      val w = tokens.getUTF8String(pos - 1)
      val wBytes = w.getBytes
      val off = pos - start
      // term: md5("<off>|<word>") — decimal offset, the SQL concat spelling
      val offStr = String.valueOf(off).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val term = new Array[Byte](offStr.length + 1 + wBytes.length)
      System.arraycopy(offStr, 0, term, 0, offStr.length)
      term(offStr.length) = '|'
      System.arraycopy(wBytes, 0, term, offStr.length + 1, wBytes.length)
      sig += md5HexPrefix(term, 10)
      len += 1L
      if (md5HexPrefix(wBytes, 8) % mod == 0) {
        out.add(new GenericInternalRow(Array[Any](sig, len, start)))
        sig = 0L; len = 0L; start = pos + 1
      }
      pos += 1
      }
    }
    if (len > 0) out.add(new GenericInternalRow(Array[Any](sig, len, start)))
    new GenericArrayData(out.toArray)
  }
}

case class CdcChunks(child: Expression, mod: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks expects an array<string> column, got ${other.sql}")
    }
  override def dataType: DataType =
    ArrayType(CdcChunkUtil.ChunkType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    CdcChunkUtil.chunks(input.asInstanceOf[ArrayData], mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.CdcChunkUtil.chunks($c, $mod)")
  override def prettyName: String = "cdc_chunks"
  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}
