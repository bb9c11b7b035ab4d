package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Hex

/** Single-pass MinHash signature: for each seed `i` in `[0, seeds)`,
  * the minimum of `md5(concat('i:', token))` over the document's token
  * array — byte-identical to the per-seed SQL rule the DuckDB oracle
  * runs (`list_min(list_transform(toks, t -> md5('i:' || t)))`,
  * [[graft.ops.Dedup]] `minhashSig`).
  *
  * Why native: the SQL form is `seeds` separate `transform` passes, each
  * a `CodegenFallback` that materializes an intermediate array of
  * 32-char hex strings per document and dispatches an interpreted
  * lambda per token. This expression walks the token array once,
  * digesting `seeds` prefixed MD5s per token into a reused 16-byte
  * scratch and keeping only the running byte-wise minimum per seed —
  * hex-encoding happens `seeds` times per document, not
  * `seeds × tokens` times. Ordering is preserved exactly: lowercase-hex
  * strings compare (as UTF8 binary) in the same order as their digest
  * bytes compare unsigned, so taking the min over raw digests and
  * hex-encoding at the end is the same min.
  *
  * Null semantics match the SQL form: null token array → null; null
  * tokens are skipped (`array_min`/`list_min` ignore nulls); an empty
  * (or all-null) token array yields a signature of `seeds` nulls
  * (`array_min([])` is null), NOT a null array.
  *
  * One kernel for both MinHash stages: `Dedup`'s `minhash_sig` calls
  * [[sig]] on Catalyst arrays, and the cluster stage's banded blocking
  * ([[graft.cluster.CandidatePairs.bandKeys]]) calls [[sigBytes]] on
  * UTF-8 shingle bytes and hashes its bands with the same thread's
  * [[md5]] — both run the same loop.
  */
object MinhashUtil {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The calling thread's reused MD5 digest, reset. */
  def md5: MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  /** "i:" prefix bytes per seed index; seed counts are small plan
    * constants (16 in the dedup state and the cluster stage).
    */
  private val prefixes = Array.tabulate(64)(i => s"$i:".getBytes(StandardCharsets.US_ASCII))

  private def prefixFor(i: Int): Array[Byte] =
    if (i < prefixes.length) prefixes(i) else s"$i:".getBytes(StandardCharsets.US_ASCII)

  /** The shared loop: per seed, the hex (ASCII bytes) of the unsigned
    * minimum of `md5("i:" ++ token)` over the `n` tokens `tok(0 until n)`;
    * a null token is skipped, a seed no token reached is null.
    */
  private def minHex(n: Int, tok: Int => Array[Byte], seeds: Int): Array[Array[Byte]] = {
    val md = md5
    val mins = new Array[Array[Byte]](seeds)
    val scratch = new Array[Byte](16)
    var i = 0
    while (i < n) {
      val tb = tok(i)
      if (tb != null) {
        var s = 0
        while (s < seeds) {
          md.update(prefixFor(s))
          md.update(tb)
          md.digest(scratch, 0, 16)
          if (mins(s) == null) mins(s) = Arrays.copyOf(scratch, 16)
          else if (Arrays.compareUnsigned(scratch, mins(s)) < 0) System.arraycopy(scratch, 0, mins(s), 0, 16)
          s += 1
        }
      }
      i += 1
    }
    mins.map(m => if (m == null) null else Hex.bytes(m, 16))
  }

  /** Byte-array entry point: `toks` are UTF-8 token bytes. */
  def sigBytes(toks: Array[Array[Byte]], seeds: Int): Array[Array[Byte]] =
    minHex(toks.length, toks(_), seeds)

  def sig(toks: ArrayData, seeds: Int): ArrayData =
    new GenericArrayData(
      minHex(toks.numElements(), i => if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes, seeds)
        .map[Any](h => if (h == null) null else UTF8String.fromBytes(h))
    )
}

/** `minhash_sig(toks, seeds)` — see [[MinhashUtil]]. `seeds` is a plan
  * constant (signature width is part of the committed dedup-state
  * schema), so it is a case-class field, not a child expression.
  */
case class MinhashSig(child: Expression, seeds: Int)
    extends UnaryExpression {

  require(seeds > 0, s"seeds must be positive, got $seeds")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}"
      )
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any): Any =
    MinhashUtil.sig(a.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = graft.functions.MinhashUtil.sig($x, $seeds);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
