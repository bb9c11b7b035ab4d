package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass winnowing document fingerprints — the native form of the
  * SQL rule ([[graft.ops.TextAnalysis.fingerprints]] scaladoc):
  *
  *   grams:  h(i) = substr(md5(utf8_bytes(substr(text, i, gramLen))), 1, hexLen)
  *   minima: fp(p) = min(h(p-window+1) … h(p))  for every complete window
  *   output: distinct fp values, first-occurrence order
  *
  * Values are byte-identical to the transform/array_min SQL form the
  * DuckDB oracle replays (md5 of the gram's UTF-8 bytes, lowercase-hex
  * prefix, UTF8 binary min). Why native — three compounding wins over
  * the SQL form, which is TWO CodegenFallback `transform`s per row:
  *   - the per-gram hex array and per-window slice arrays are never
  *     materialized (the old plan allocated length(text) UTF8Strings
  *     plus a window-sized slice per position);
  *   - the sliding minimum runs as a monotonic deque — O(n) total
  *     instead of O(n × window) comparisons;
  *   - digests are compared as raw bytes and hex-encoded only for the
  *     distinct winners (hex prefix order == digest byte order).
  * Multi-byte text takes a char→byte offset pre-pass so gram slicing
  * matches SQL's CHARACTER-indexed substr exactly.
  */
object WinnowUtil {

  private val HexChars = "0123456789abcdef".getBytes

  def fingerprints(text: UTF8String, gramLen: Int, hexLen: Int, window: Int): GenericArrayData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val nGrams = nChars - gramLen + 1
    if (nGrams < window) return new GenericArrayData(Array.empty[Any])
    // char -> byte offset table (identity for pure-ASCII fast path)
    val offs: Array[Int] =
      if (bytes.length == nChars) null
      else {
        val o = new Array[Int](nChars + 1)
        var b = 0
        var c = 0
        while (c < nChars) {
          o(c) = b
          val first = bytes(b) & 0xff
          b += (if (first < 0x80) 1
                else if (first < 0xe0) 2
                else if (first < 0xf0) 3
                else 4)
          c += 1
        }
        o(nChars) = b
        o
      }
    @inline def gramStart(i: Int): Int = if (offs == null) i else offs(i)
    @inline def gramEnd(i: Int): Int = if (offs == null) i + gramLen else offs(i + gramLen)

    val md = MinhashUtil.md5
    val scratch = new Array[Byte](16)
    val prefixBytes = (hexLen + 1) / 2
    // ring buffer of hex prefixes for the last `window` grams + a
    // monotonic deque of gram indices (front = current window minimum)
    val ring = Array.fill(window)(new Array[Byte](hexLen))
    val deque = new Array[Int](nGrams)
    var dHead = 0
    var dTail = 0 // exclusive
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var lastMinIdx = -1
    var i = 0
    while (i < nGrams) {
      val slot = ring(i % window)
      md.reset()
      md.update(bytes, gramStart(i), gramEnd(i) - gramStart(i))
      md.digest(scratch, 0, 16)
      var j = 0
      while (j < prefixBytes) {
        val v = scratch(j) & 0xff
        if (2 * j < hexLen) slot(2 * j) = HexChars(v >> 4)
        if (2 * j + 1 < hexLen) slot(2 * j + 1) = HexChars(v & 0xf)
        j += 1
      }
      // drop deque entries that can no longer be the min: out of the
      // window from the front, dominated (>= new gram) from the back.
      // `>=` keeps the NEWEST of equal prefixes — same min VALUE either
      // way, and value is all the output keeps.
      while (dHead < dTail && deque(dHead) <= i - window) dHead += 1
      while (dHead < dTail && java.util.Arrays.compareUnsigned(ring(deque(dTail - 1) % window), slot) >= 0) dTail -= 1
      deque(dTail) = i
      dTail += 1
      if (i >= window - 1) {
        val minIdx = deque(dHead)
        if (minIdx != lastMinIdx) {
          // new window minimum (by position) — record its value once;
          // LinkedHashSet keeps first-occurrence order like
          // array_distinct. Re-recording the same POSITION is what the
          // guard skips; equal VALUES from different positions are
          // deduped by the set.
          seen.add(UTF8String.fromBytes(java.util.Arrays.copyOf(ring(minIdx % window), hexLen)))
          lastMinIdx = minIdx
        }
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** `winnow_fingerprints(text, gramLen, hexLen, window)` — see
  * [[WinnowUtil]]. The three shape parameters are plan constants
  * (fingerprint identity is part of the committed artifact schema).
  */
case class WinnowFingerprints(child: Expression, gramLen: Int, hexLen: Int, window: Int)
    extends UnaryExpression {

  require(gramLen > 0 && hexLen > 0 && hexLen <= 32 && window > 0, "bad winnow parameters")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(a: Any): Any =
    WinnowUtil.fingerprints(a.asInstanceOf[UTF8String], gramLen, hexLen, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      x => s"${ev.value} = graft.functions.WinnowUtil.fingerprints($x, $gramLen, $hexLen, $window);"
    )

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
