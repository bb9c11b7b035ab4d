package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Column-level API + session registration for graft's native catalyst
  * expressions.
  *
  * Two consumption paths, same expressions:
  *   - **Column API** (what graft's own operators use): `dotLong(a, b)`
  *     etc. build the Expression directly — no session mutation, works
  *     under any SparkSession including the driver's own (which does not
  *     load our extensions).
  *   - **SQL names** (`dot_long`, `normsq_long`, `cosine_parts_milli`,
  *     `minhash_sig`): registered either at session build time via
  *     `spark.sql.extensions=graft.functions.GraftSparkExtensions`
  *     (the spark-submit path) or idempotently at runtime via
  *     [[GraftFunctions.register]].
  */
object GraftFunctions {

  def dotLong(a: Column, b: Column): Column =
    Bridge.column(DotLong(Bridge.expression(a), Bridge.expression(b)))

  def normSqLong(v: Column): Column =
    Bridge.column(NormSqLong(Bridge.expression(v)))

  def cosinePartsMilli(qv: Column, nv: Column): Column =
    Bridge.column(CosinePartsMilli(Bridge.expression(qv), Bridge.expression(nv)))

  def minhashSig(toks: Column, seeds: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(toks), seeds))

  def quantize100(v: Column): Column =
    Bridge.column(Quantize100(Bridge.expression(v)))

  def signSketch(v: Column, bits: Int): Column =
    Bridge.column(SignSketch(Bridge.expression(v), bits))

  def winnowFingerprints(text: Column, gramLen: Int, hexLen: Int, window: Int): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), gramLen, hexLen, window))

  def distinctIntersectSize(a: Column, b: Column): Column =
    Bridge.column(DistinctIntersectSize(Bridge.expression(a), Bridge.expression(b)))

  /** Aggregate: keep the top `k` struct rows per group under the
    * field-by-field order given by `desc` — see
    * [[graft.functions.TopKRows]].
    */
  def topKRows(item: Column, k: Int, desc: Seq[Boolean]): Column =
    Bridge.column(TopKRows(Bridge.expression(item), k, desc).toAggregateExpression())

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$fn expects a literal int, got $other")
  }

  /** (name, builder) table shared by the extensions hook and the runtime
    * registrar.
    */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_long" -> { args => DotLong(args(0), args(1)) },
    "normsq_long" -> { args => NormSqLong(args(0)) },
    "cosine_parts_milli" -> { args => CosinePartsMilli(args(0), args(1)) },
    "minhash_sig" -> { args => MinhashSig(args(0), intLit(args(1), "minhash_sig")) },
    "quantize100" -> { args => Quantize100(args(0)) },
    "sign_sketch" -> { args => SignSketch(args(0), intLit(args(1), "sign_sketch")) },
    "distinct_intersect_size" -> { args => DistinctIntersectSize(args(0), args(1)) },
    "winnow_fingerprints" -> { args =>
      WinnowFingerprints(
        args(0),
        intLit(args(1), "winnow_fingerprints"),
        intLit(args(2), "winnow_fingerprints"),
        intLit(args(3), "winnow_fingerprints")
      )
    }
  )

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftFunctions.type].getCanonicalName, name)

  /** Idempotently register the SQL names on an existing session (the
    * path for sessions built without `spark.sql.extensions`).
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info(name), builder)
    }

  /** Idempotently install the optimizer rewrites
    * ([[graft.plans.TopKRewrite]]) on an existing session via
    * `experimental.extraOptimizations` — the runtime path the engine's
    * own mains (Verify / Bench) and test harness use; the
    * `spark.sql.extensions` route injects the same rule at build time.
    */
  def installOptimizations(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.TopKRewrite))
      spark.experimental.extraOptimizations = cur :+ graft.plans.TopKRewrite
  }
}

/** `spark.sql.extensions` entry point:
  * `--conf spark.sql.extensions=graft.functions.GraftSparkExtensions`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftSparkExtensions].getCanonicalName, name),
          builder
        )
      )
    }
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
