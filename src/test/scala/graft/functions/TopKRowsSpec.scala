package graft.functions

import graft.{GenSampling, SparkTestBase}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** TopKRows must keep exactly the rows — in exactly the ranks — that the
  * sort-based window form produces, across partial-aggregation merges
  * (multi-partition input forces serialize/deserialize between map and
  * reduce) and k larger than the group.
  */
class TopKRowsSpec extends AnyFunSuite with GenSampling with SparkTestBase {

  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long, Long)]] =
    Gen.choose(30, 120).flatMap { n =>
      Gen.listOfN(
        n,
        for {
          q <- Gen.choose(0L, 5L)
          nId <- Gen.choose(0L, 500L)
          // small score range on purpose: forces score ties so the
          // n-asc tiebreak is actually exercised
          s <- Gen.choose(-3L, 3L)
        } yield (q, nId, s)
      )
    }

  /** (q, n, rank) rows of the window form and of the heap, top k by
    * (score_milli desc, n asc) per q.
    */
  private def assertWindowParity(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val w = Window.partitionBy("q").orderBy(desc("score_milli"), asc("n"))
    val expected = df
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q"), col("n"), col("rnk").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val actual = df
      .groupBy("q")
      .agg(GraftFunctions.topKRows(struct(col("score_milli"), col("n")), k, Seq(true, false)).as("top"))
      .select(col("q"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q"), col("t.n"), (col("pos") + 1).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(actual == expected)
  }

  test("heap top-k equals window row_number top-k, including ties, across partitions") {
    forAllSamples(rowsGen, n = 15) { raw =>
      // dedup (q, n): the window order (score desc, n asc) is only a
      // total order when n is unique per q — same contract as the ANN
      // scorers
      val rows = raw.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      assertWindowParity(rows.toDF("q", "n", "score_milli").repartition(7), k = 4)
    }
    // double key: -0.0 and 0.0 tie at the cut (SQL orders them equal, so
    // n asc decides), and NaN sorts above every number
    val floating = Seq(
      (1L, 1L, 5.0), (1L, 2L, 3.0), (1L, 3L, 1.0), (1L, 4L, -0.0), (1L, 5L, 0.0), (1L, 6L, -1.0),
      (2L, 7L, Double.NaN), (2L, 8L, -0.0), (2L, 9L, 0.0), (2L, 10L, 2.0), (2L, 11L, 1.0)
    )
    assertWindowParity(floating.toDF("q", "n", "score_milli").repartition(7), k = 4)
  }

  test("k larger than the group keeps the whole group in order") {
    val df = Seq((1L, 10L, 5L), (1L, 11L, 7L), (2L, 12L, 1L)).toDF("q", "n", "score_milli")
    val out = df
      .groupBy("q")
      .agg(GraftFunctions.topKRows(struct(col("score_milli"), col("n")), 10, Seq(true, false)).as("top"))
      .select(col("q"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q"), col("t.n"), col("pos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(out == Set((1L, 11L, 0), (1L, 10L, 1), (2L, 12L, 0)))
  }

  test("string payload fields and ascending order work") {
    val df = Seq(("a", 3L, "x"), ("a", 1L, "y"), ("a", 2L, "z"), ("b", 9L, "w"))
      .toDF("q", "d", "payload")
      .repartition(3)
    val out = df
      .groupBy("q")
      .agg(GraftFunctions.topKRows(struct(col("d"), col("payload")), 2, Seq(false, false)).as("top"))
      .select(col("q"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q"), col("t.d"), col("t.payload"), col("pos"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(out == Set(("a", 1L, "y", 0), ("a", 2L, "z", 1), ("b", 9L, "w", 0)))
  }

  test("runs as ObjectHashAggregate (partial aggregation), not a window sort") {
    val df = (0 until 100).map(i => (i % 5L, i.toLong, (i * 7 % 13).toLong)).toDF("q", "n", "score_milli")
      .repartition(4)
    val agg = df
      .groupBy("q")
      .agg(GraftFunctions.topKRows(struct(col("score_milli"), col("n")), 3, Seq(true, false)).as("top"))
    agg.collect()
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => Seq(q.plan)
        case other                                                            => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val nodes = allNodes(agg.queryExecution.executedPlan)
    val objAggs = nodes.collect {
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
    }
    // two ObjectHashAggregate nodes = partial (map-side) + final: the
    // bounded heap runs before the exchange
    assert(objAggs.size == 2, s"expected partial+final ObjectHashAggregate, got:\n${nodes.mkString("\n")}")
  }
}
