package graft.functions

import graft.{GenSampling, SparkTestBase}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must be bit-identical to the SQL forms they
  * replace — the oracle hash-compare rides on that — including the null
  * edge cases (null arrays, null elements, length mismatches, empty
  * arrays) and under BOTH evaluation paths (codegen and interpreted
  * eval).
  */
class GraftFunctionsSpec extends AnyFunSuite with GenSampling with SparkTestBase {

  import spark.implicits._

  private val maybeLongArr: Gen[Seq[Option[Long]]] =
    Gen.choose(0, 8).flatMap { n =>
      Gen.listOfN(
        n,
        Gen.frequency(
          9 -> Gen.choose(-1000L, 1000L).map(Some(_)),
          1 -> Gen.const(None)
        )
      )
    }

  test("dot_long / normsq_long / cosine_parts_milli match the zip_with/aggregate SQL forms") {
    forAllSamples(Gen.listOfN(40, Gen.zip(maybeLongArr, maybeLongArr)), n = 10) { pairs =>
      // include degenerate rows: null arrays, equal-length clones
      val rows = pairs.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((None, Some(Seq(Some(1L)))), (Some(Seq.empty[Option[Long]]), Some(Seq.empty[Option[Long]]))) ++
        pairs.take(3).map { case (a, _) => (Option(a), Option(a)) }
      val df = rows.toDF("qv", "nv")
      val sqlForm = df.select(
        expr("aggregate(zip_with(qv, nv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("dot"),
        expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)").as("qn"),
        expr("aggregate(nv, 0L, (acc, x) -> acc + x * x)").as("nn")
      )
      // zero denominator -> NULL is the native expression's documented
      // rule (production `div` would raise under ANSI; norms are never
      // zero in the pipeline's data, so the engines agree everywhere it
      // runs) — mirror it here so the degenerate generated rows compare
      val withScore = sqlForm.withColumn(
        "score_milli",
        expr("CASE WHEN nn * qn = 0 THEN CAST(NULL AS BIGINT) ELSE (1000 * dot * abs(dot)) div (nn * qn) END")
      )
      val native = df.select(
        GraftFunctions.dotLong(col("qv"), col("nv")).as("dot"),
        GraftFunctions.normSqLong(col("qv")).as("qn"),
        GraftFunctions.normSqLong(col("nv")).as("nn"),
        GraftFunctions.cosinePartsMilli(col("qv"), col("nv")).as("cp")
      )
      val a = withScore.collect().toSeq.map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
      val bothNonNull = rows.map { case (q, n) => q.isDefined && n.isDefined }
      val b = native.collect().toSeq.zip(bothNonNull).map { case (r, defined) =>
        val cp = r.getAs[Row]("cp")
        if (defined) {
          // the fused struct is defined exactly when both inputs are
          // (standalone qn/nn survive a null other side; the struct is
          // only used where both sides are present)
          assert(cp != null, "cosine_parts_milli must be non-null for non-null inputs")
          assert(r.get(0) == cp.get(0), "fused dot must equal standalone dot")
          assert(r.get(1) == cp.get(1) && r.get(2) == cp.get(2), "fused norms must equal standalone norms")
        } else assert(cp == null)
        (r.get(0), r.get(1), r.get(2), if (cp == null) null else cp.get(3))
      }
      // score column: rows with a null input have null score in both forms
      assert(a.map(t => (t._1, t._2, t._3)) == b.map(t => (t._1, t._2, t._3)))
      assert(a.zip(b).zip(bothNonNull).forall { case ((x, y), defined) => !defined || x._4 == y._4 })
    }
  }

  private val tokenGen: Gen[String] =
    Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(12)),
      2 -> Gen.oneOf("über", "naïve", "東京", "a b", "", "|", "0:"),
      2 -> Gen.listOfN(3, Gen.choose('a', 'z')).map(_.mkString)
    )

  test("minhash_sig matches the per-seed array_min(transform(md5)) SQL form") {
    val seeds = 16
    val arrGen: Gen[Seq[Option[String]]] =
      Gen.choose(0, 15).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(9 -> tokenGen.map(Some(_)), 1 -> Gen.const(None)))
      )
    forAllSamples(Gen.listOfN(30, arrGen), n = 10) { arrays =>
      val rows = arrays.map(Option(_)) ++ Seq(None, Some(Seq.empty[Option[String]]))
      val df = rows.toDF("toks")
      val sqlCols = (0 until seeds).map { i =>
        expr(s"array_min(transform(toks, t -> md5(concat('$i:', t))))").as(s"mh$i")
      }
      val a = df.select(sqlCols: _*).collect().toSeq.map(_.toSeq)
      val b = df
        .select(GraftFunctions.minhashSig(col("toks"), seeds).as("sig"))
        .collect()
        .toSeq
        .map { r =>
          val sig = r.getAs[scala.collection.Seq[String]]("sig")
          if (sig == null) Seq.fill[Any](seeds)(nullExpected(r)) else sig.toSeq
        }
      // SQL form: null toks -> every mh_i null; native: null toks -> null
      // array. Both normalize to seeds nulls for the compare, but the
      // native null-array case only arises when toks is null.
      val aNorm = a
      val bNorm = b.map {
        case s: Seq[_] => s
        case _         => Seq.fill[Any](seeds)(null)
      }
      assert(aNorm.map(_.map(x => x)) == bNorm)
    }
  }

  private def nullExpected(r: Row): Any = null

  test("MinhashUtil.sigBytes equals sig(ArrayData), nulls and empty input included") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arrGen: Gen[Seq[Option[String]]] =
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(9 -> tokenGen.map(Some(_)), 1 -> Gen.const(None)))
      )
    forAllSamples(Gen.listOfN(30, arrGen), n = 5) { arrays =>
      (arrays ++ Seq(Nil, Seq(None), Seq(None, Some("x"), None))).foreach { toks =>
        for (seeds <- Seq(1, 4, 16)) {
          val viaArrayData = MinhashUtil.sig(
            new GenericArrayData(toks.map(_.map(UTF8String.fromString).orNull).toArray[Any]),
            seeds
          )
          val viaBytes = MinhashUtil.sigBytes(toks.map(_.map(_.getBytes("UTF-8")).orNull).toArray, seeds)
          val a = (0 until seeds).map(i => if (viaArrayData.isNullAt(i)) null else viaArrayData.getUTF8String(i).toString)
          val b = viaBytes.toSeq.map(h => if (h == null) null else new String(h, "US-ASCII"))
          assert(a == b, s"toks $toks, seeds $seeds")
          // a seed is null exactly when no non-null token reached it
          assert(b.forall(_ == null) == toks.forall(_.isEmpty))
        }
      }
    }
  }

  test("interpreted eval path matches codegen path") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L), Seq(3L, 9L))
    ).toDF("a", "b")
    val cols = Seq(
      GraftFunctions.dotLong(col("a"), col("b")).as("d"),
      GraftFunctions.normSqLong(col("a")).as("n"),
      GraftFunctions.cosinePartsMilli(col("a"), col("b")).getField("score_milli").as("s")
    )
    val on = df.select(cols: _*).collect().toSeq.map(_.toSeq)
    val offSession = spark.newSession()
    offSession.conf.set("spark.sql.codegen.wholeStage", "false")
    offSession.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    import offSession.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val dfOff = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L), Seq(3L, 9L))
    ).toDF("a", "b")
    val off = dfOff.select(cols: _*).collect().toSeq.map(_.toSeq)
    assert(on == off)
    assert(on == Seq(Seq(32L, 14L, 1000L * 32 * 32 / (14 * 77)), Seq(-21L, 49L, 1000L * -21 * 21 / (49 * 90))))
  }

  test("native scoring projection stays inside WholeStageCodegen (zip_with form does not)") {
    // repartition keeps the projection a real executed stage (a bare
    // LocalRelation is folded by ConvertToLocalRelation before exec)
    val df = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("qv", "nv").repartition(1)
    // descend through AQE wrappers: AdaptiveSparkPlanExec holds the
    // finalized plan off-tree, and QueryStageExec nodes are leaves whose
    // real subtree hangs off `.plan`
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => Seq(q.plan)
        case other                                                            => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    def hasWSC(p: org.apache.spark.sql.DataFrame): Boolean = {
      p.collect() // materialize so AQE finalizes the physical plan
      allNodes(p.queryExecution.executedPlan).exists {
        case w: WholeStageCodegenExec =>
          w.child.exists(_.isInstanceOf[org.apache.spark.sql.execution.ProjectExec])
        case _ => false
      }
    }
    val native = df.select(GraftFunctions.cosinePartsMilli(col("qv"), col("nv")).as("cp"))
    val hof = df.select(
      expr("aggregate(zip_with(qv, nv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("dot")
    )
    assert(hasWSC(native), "native projection must be whole-stage codegen'd")
    assert(!hasWSC(hof), "higher-order-function projection is expected to fall back (if Spark ever fixes this, the native path is still never worse)")
  }

  test("quantize100 matches the transform(floor) SQL form on floats") {
    val arrGen: Gen[Seq[Option[Float]]] =
      Gen.choose(0, 8).flatMap(n =>
        Gen.listOfN(
          n,
          Gen.frequency(
            9 -> Gen.choose(-4.0f, 4.0f).map(Some(_)),
            2 -> Gen.oneOf(0.005f, -0.005f, 0.994999f, 1.5f, -1.5f).map(Some(_)),
            1 -> Gen.const(None)
          )
        )
      )
    forAllSamples(Gen.listOfN(30, arrGen), n = 10) { arrays =>
      val rows = arrays.map(Option(_)) ++ Seq(None, Some(Seq.empty[Option[Float]]))
      val df = rows.toDF("embedding")
      val a = df
        .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))").as("v"))
        .collect()
        .toSeq
        .map(r => Option(r.getAs[scala.collection.Seq[Any]]("v")).map(_.toSeq))
      val b = df
        .select(GraftFunctions.quantize100(col("embedding")).as("v"))
        .collect()
        .toSeq
        .map(r => Option(r.getAs[scala.collection.Seq[Any]]("v")).map(_.toSeq))
      assert(a == b)
    }
  }

  test("sign_sketch matches the nested-fold SQL form") {
    val arrGen: Gen[Seq[Option[Long]]] =
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(
          n,
          Gen.frequency(9 -> Gen.choose(-500L, 500L).map(Some(_)), 1 -> Gen.const(None))
        )
      )
    forAllSamples(Gen.listOfN(30, arrGen), n = 8) { arrays =>
      val rows = arrays.map(Option(_)) ++ Seq(Some(Seq.empty[Option[Long]]))
      val df = rows.toDF("v")
      Seq(8, 48).foreach { bits =>
        val a = df
          .select(expr(graft.ops.Similarity.sketchExpr("v", bits)).cast("long").as("s"))
          .collect()
          .toSeq
          .map(r => r.get(0))
        val b = df
          .select(GraftFunctions.signSketch(col("v"), bits).cast("long").as("s"))
          .collect()
          .toSeq
          .map(r => r.get(0))
        assert(a == b, s"bits=$bits")
      }
    }
  }

  test("winnow_fingerprints matches the two-transform SQL form") {
    val textGen: Gen[String] = Gen.frequency(
      5 -> Gen.listOfN(40, Gen.frequency(8 -> Gen.choose('a', 'e'), 2 -> Gen.const(' '))).map(_.mkString),
      3 -> Gen.listOfN(15, Gen.choose('a', 'z')).map(_.mkString),
      1 -> Gen.const("ababababababababab"), // periodic: equal-prefix dedup path
      1 -> Gen.const("héllo wörld — 東京 tökens répeat héllo wörld") // multi-byte offsets
    )
    forAllSamples(Gen.listOfN(25, textGen), n = 8) { texts =>
      val df = (texts ++ Seq("", "short", "exactly11ch")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .where(length(col("text")) >= 8 + 4 - 1)
      val sqlForm = df
        .select(
          col("doc_id"),
          expr(
            "transform(sequence(1, length(text) - 7), i -> substr(md5(CAST(substr(text, i, 8) AS BINARY)), 1, 8))"
          ).as("hs")
        )
        .select(
          col("doc_id"),
          explode(
            array_distinct(
              expr("transform(sequence(4, size(hs)), p -> array_min(slice(hs, p - 3, 4)))")
            )
          ).as("fp")
        )
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      val native = df
        .select(
          col("doc_id"),
          explode(GraftFunctions.winnowFingerprints(col("text"), 8, 8, 4)).as("fp")
        )
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      assert(native == sqlForm)
    }
  }

  test("distinct_intersect_size matches size(array_intersect) on distinct arrays") {
    val arrGen: Gen[Seq[String]] =
      Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "über", "東京")))
        .map(_.distinct)
    forAllSamples(Gen.listOfN(30, Gen.zip(arrGen, arrGen)), n = 8) { pairs =>
      val df = pairs.map { case (a, b) => (Option(a), Option(b)) }
        .++(Seq((None, Some(Seq("a"))), (Some(Seq.empty[String]), Some(Seq.empty[String]))))
        .toDF("a", "b")
      val sqlForm = df
        .select(expr("CAST(size(array_intersect(a, b)) AS BIGINT)").as("i"))
        .collect()
        .map(r => Option(r.get(0)).map { case l: Long => l; case i: Int => i.toLong })
        .toSeq
      val native = df
        .select(GraftFunctions.distinctIntersectSize(col("a"), col("b")).as("i"))
        .collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .toSeq
      // SQL size() of a null array is -1 under legacy or null under
      // default — with non-null arrays both agree; the null-input row
      // must be null on the native side
      assert(native.zip(sqlForm).forall { case (n, s) => n == s || (n.isEmpty && s.exists(_ < 0)) })
    }
  }

  test("SQL names register and resolve") {
    GraftFunctions.register(spark)
    val r = spark
      .sql("SELECT dot_long(array(1L,2L), array(3L,4L)) d, normsq_long(array(3L,4L)) n, " +
        "cosine_parts_milli(array(1L,0L), array(1L,0L)).score_milli s, " +
        "minhash_sig(array('a','b'), 2) sig")
      .collect()(0)
    assert(r.getLong(0) == 11L)
    assert(r.getLong(1) == 25L)
    assert(r.getLong(2) == 1000L)
    val sig = r.getAs[scala.collection.Seq[String]](3)
    assert(sig.length == 2 && sig.forall(_.matches("[0-9a-f]{32}")))
  }
}
