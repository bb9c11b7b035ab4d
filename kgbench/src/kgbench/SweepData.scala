package kgbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The scale directory the registry queries read: the ten tables they
  * expect (a small TPC-H-like star schema, a web-document table with
  * near-duplicates, an event stream and labelled embeddings), written as
  * one parquet file each. Every value is a pure function of `seed`.
  */
object SweepData {

  private val vocab = Vector(
    "a", "the", "data", "row", "column", "table", "query", "join", "filter", "group",
    "sort", "order", "key", "value", "hash", "merge", "scan", "spark", "stream", "batch",
    "window", "agg", "vector", "line", "part", "customer", "big", "small", "fast", "slow"
  )
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNoun = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")

  final case class Sizes(docs: Int = 500, customers: Int = 150, parts: Int = 200, suppliers: Int = 10,
                         orders: Int = 1500, events: Int = 2000, embeddings: Int = 500, dim: Int = 64)

  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private def day(r: Random, fromMs: Long, days: Int): Timestamp =
    new Timestamp(fromMs + r.nextInt(days).toLong * 86400000L)

  def write(spark: SparkSession, dir: String, seed: Long, sz: Sizes = Sizes()): Unit = {
    // one plain parquet file per table, the layout DuckDB oracles read too
    // rows are drawn in order when `save` is called; the writes then run
    // concurrently, so the data does not depend on their order
    val writes = ArrayBuffer.empty[Future[Unit]]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = writes += Future {
      val tmp = Paths.get(dir, s"_$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      Files.move(part.head, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
    val r = new Random(seed)
    val t1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))

    save("nation",
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % regions.size)))

    save("supplier",
      StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until sz.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r.nextDouble() * 9000))))

    save("customer",
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (0 until sz.customers).map(i =>
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r.nextDouble() * 9000),
          segments(r.nextInt(segments.size)))))

    save("part",
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until sz.parts).map(i =>
        Row(i.toLong, s"${partAdj(r.nextInt(partAdj.size))} ${partNoun(r.nextInt(partNoun.size))}",
          s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.size)), 1 + r.nextInt(50),
          money(900 + (i % 200) / 10.0))))

    val orderRows = ArrayBuffer.empty[Row]
    val lineRows = ArrayBuffer.empty[Row]
    (0 until sz.orders).foreach { o =>
      val date = day(r, t1995, 2400)
      var total = 0.0
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val part = r.nextInt(sz.parts).toLong
        val qty = (1 + r.nextInt(50)).toDouble
        val price = money(qty * (900 + (part % 200) / 10.0 + r.nextInt(1200)))
        total += price
        val ship = new Timestamp(date.getTime + (1 + r.nextInt(120)).toLong * 86400000L)
        lineRows += Row(o.toLong, part, r.nextInt(sz.suppliers).toLong, ln, qty, price,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
          Vector("F", "O")(r.nextInt(2)), ship)
      }
      orderRows += Row(o.toLong, r.nextInt(sz.customers).toLong, Vector("F", "O", "P")(r.nextInt(3)),
        money(total), date, priorities(r.nextInt(priorities.size)))
    }
    save("orders",
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      orderRows.toSeq)
    save("lineitem",
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
      lineRows.toSeq)

    // every fourth document repeats the one four before it with extra
    // "dup" tokens: the near-duplicate pairs the dedup queries look for
    val texts = ArrayBuffer.empty[String]
    (0 until sz.docs).foreach { i =>
      texts +=
        (if (i >= 4 && i % 4 == 0) texts(i - 4) + " dup" * (1 + r.nextInt(2))
         else Seq.fill(8 + r.nextInt(80))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }
    save("documents",
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      texts.indices.map(i =>
        Row(i.toLong, texts(i), langs(r.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong)))

    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    var tsMicros = t2024
    save("events",
      StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      (0 until sz.events).map { i =>
        tsMicros += 1L + (r.nextDouble() * 2.0 * 2.592e12 / sz.events).toLong
        val ts = new Timestamp(tsMicros / 1000L)
        ts.setNanos(((tsMicros % 1000000L) * 1000L).toInt)
        Row(i.toLong, ts, r.nextInt(15).toLong, eventTypes(r.nextInt(eventTypes.size)),
          money(r.nextDouble() * 330), s"""{"k": ${r.nextInt(100)}}""")
      })

    val centers = Vector.fill(10)(Vector.fill(sz.dim)(r.nextGaussian()))
    save("embeddings",
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))),
      (0 until sz.embeddings).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + 0.8 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
