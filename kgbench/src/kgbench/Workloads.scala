package kgbench

import java.nio.file.Path
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cluster.{CandidatePairs, ClusterGraph, ConnectedComponents}
import graft.cluster.CandidatePairs.ClusterConfig
import graft.corpus.CorpusGen
import graft.extract.{ChunkExtraction, Extract, PatternScorer}
import graft.model.{Chunk, Page}
import graft.pipeline.KgGenJob
import graft.store.SnapshotTable

/** One timed operation: `items` is the work it was given (docs, forms,
  * queries), `rows` the rows it produced, `failed` how many of its
  * outputs were wrong, `samples` its latency samples (the operation
  * itself, or each query of a sweep pass).
  */
final case class OpResult(wallS: Double, items: Long, rows: Long, failed: Int, samples: Seq[Double],
                          counts: Map[String, Double] = Map.empty)

/** A workload: `inputs` generates its inputs once, `prepare` does the
  * program's share of set-up under a fresh directory (repeated, so its
  * median is reported), `op` runs one operation. With `tr` enabled, `op`
  * wraps each layer call in a span.
  */
trait Workload {
  def inputs(dir: Path): Unit
  def prepare(dir: Path): Unit
  def op(i: Int, dir: Path, tr: Spans): OpResult
  /** Output checks run once after the timed windows: (name, passed, detail). */
  def finalChecks(): Seq[(String, Boolean, String)]
}

object Workloads {
  def secs(t0: Double): Double = (Clock.nowMs - t0) / 1000.0

  /** Commit the five clusterGraph outputs the way KgGenJob does: one
    * concurrent wave, provably small outputs written as one file.
    */
  def commitClustered(table: SnapshotTable, c: ClusterGraph.Clustered, fp: String): Map[String, DataFrame] = {
    def shrink(df: DataFrame): DataFrame =
      if (graft.util.PlanHints.isDriverLocal(df)) df.coalesce(1) else df
    val outs = Seq(
      "entity_clusters" -> c.entityAssignments,
      "edge_clusters" -> c.edgeAssignments,
      "canonical_triples" -> c.triples,
      "canonical_entities" -> c.entities,
      "canonical_edges" -> c.edges
    )
    val fs = outs.map { case (stage, df) => stage -> Future(table.resumeOrCompute(stage, fp)(shrink(df))) }
    fs.map { case (stage, f) => stage -> Await.result(f, Duration.Inf) }.toMap
  }

  def pairs(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
}

import Workloads._

/** `build`: the user's batch job, KgGenJob.run with the default
  * JobConfig on a fresh table root.
  */
final class BuildWorkload(spark: SparkSession, seed: Long, nDocs: Long) extends Workload {
  import spark.implicits._
  private val corpus = CorpusGen.Config(nDocs = nDocs, seed = seed, variantRate = 0.2)
  private def cfg(root: Path) = KgGenJob.JobConfig(tableRoot = root.toString, corpus = corpus)
  private var refRows = -1L
  private var lastRoot: Option[Path] = None
  private var oracle: Set[(String, String, String)] = Set.empty

  def inputs(dir: Path): Unit =
    oracle = CorpusGen.oracleTriples(spark, corpus).collect().map(t => (t.subject, t.predicate, t.obj)).toSet

  /** The job starts from nothing but its config: no program set-up. */
  def prepare(dir: Path): Unit = ()

  def op(i: Int, dir: Path, tr: Spans): OpResult = {
    val c = cfg(dir)
    val t0 = Clock.nowMs
    if (!tr.enabled) KgGenJob.run(spark, c)
    else tr("build") {
      // the job's stages one by one, each committed like
      // commitProvenance = true, so no span recomputes upstream work
      val table = new SnapshotTable(spark, c.tableRoot)
      val pages = tr("corpus") {
        table.commit(CorpusGen.pagesPartitioned(spark, c.corpus, c.parallelism).toDF(), "pages", c.corpusFp)
      }
      val chunks = tr("textprep") {
        table.commit(Extract.chunks(pages.as[Page], c.extract).toDF(), "chunks", c.chunksFp)
      }
      val ex = tr("extract") {
        table.commit(Extract.extractions(chunks.as[Chunk], PatternScorer, c.extract).toDF(), "extracted", c.extractFp)
      }.as[ChunkExtraction]
      val (ents, tris) = tr("extract.sets") {
        (table.commit(Extract.entitySet(ex), "entities", c.extractFp),
         table.commit(Extract.tripleTable(Extract.tripleMentions(ex)), "triples", c.extractFp))
      }
      tr("cluster") { commitClustered(table, ClusterGraph.clusterGraph(ents, tris, c.cluster), c.clusterFp) }
    }
    val wall = secs(t0)
    val rows = new SnapshotTable(spark, c.tableRoot).rowCount("canonical_triples", c.clusterFp).getOrElse(-1L)
    if (refRows < 0) refRows = rows
    lastRoot = Some(dir)
    OpResult(wall, nDocs, rows, if (rows == refRows && rows > 0) 0 else 1, Seq(wall))
  }

  /** Two checks on the last operation's committed tables, against the
    * generating triples. A surface resolves to every pool entity whose
    * CorpusGen.variants contain it (an abbreviation such as "Quin" comes
    * from several), and a triple is correct when any resolution is a
    * generating triple.
    * Extraction: precision and recall of the extracted triples >= 0.95.
    * Rewrite: the canonical triples are exactly the extracted triples
    * mapped through the committed assignments. Its detail also reports the
    * canonical triples' precision/recall and, on unambiguous surfaces
    * only, the entity clusters that join several generating entities and
    * the entities split over several clusters; those are not gated (see
    * NOTES.md, known effects).
    */
  def finalChecks(): Seq[(String, Boolean, String)] = lastRoot.toSeq.flatMap { root =>
    val c = cfg(root)
    val table = new SnapshotTable(spark, c.tableRoot)
    val bases: Map[String, Set[String]] = (0 until corpus.entityPoolSize).map(CorpusGen.entityName)
      .flatMap(b => CorpusGen.variants(b).map(_ -> b)).groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    def of(surface: String) = bases.getOrElse(surface, Set(surface))
    def pr(got: Set[(String, String, String)]): (Double, Double) = {
      val hits = got.toSeq.map { case (s, p, o) => for (bs <- of(s); bo <- of(o) if oracle((bs, p, bo))) yield (bs, p, bo) }
      (hits.count(_.nonEmpty).toDouble / math.max(1, got.size), hits.flatten.toSet.size.toDouble / math.max(1, oracle.size))
    }
    val ex = table.read("extracted", c.extractFp).as[ChunkExtraction]
    val extracted = Extract.tripleTable(Extract.tripleMentions(ex)).as[(String, String, String)].collect().toSet
    val got = table.read("canonical_triples", c.clusterFp).as[(String, String, String)].collect().toSet
    val ent = pairs(table.read("entity_clusters", c.clusterFp))
    val pred = pairs(table.read("edge_clusters", c.clusterFp))
    val rewritten = extracted.map { case (s, p, o) => (ent.getOrElse(s, s), pred.getOrElse(p, p), ent.getOrElse(o, o)) }
    val (xp, xr) = pr(extracted)
    val (cp, cr) = pr(got)
    // entity of each surface that exactly one generating entity has
    val sole = ent.keys.filter(bases.get(_).exists(_.size == 1)).map(f => f -> bases(f).head).toMap
    val joined = sole.keys.groupBy(ent).values.map(fs => fs.toSeq.sorted.distinctBy(sole)).filter(_.size > 1)
      .toSeq.sortBy(fs => (-fs.size, fs.head))
    val split = sole.keys.groupBy(sole).values.map(_.toSeq.sorted).filter(_.map(ent).distinct.size > 1)
      .toSeq.sortBy(_.head)
    Seq(
      ("build.extraction_precision_recall", xp >= 0.95 && xr >= 0.95,
        f"precision $xp%.4f recall $xr%.4f over ${extracted.size} extracted / ${oracle.size} generating triples"),
      ("build.canonical_rewrite", got == rewritten,
        s"${(got -- rewritten).size} canonical triples not in, ${(rewritten -- got).size} missing from the " +
          s"rewrite of ${extracted.size} extracted triples; not gated: " +
          f"canonical precision $cp%.4f recall $cr%.4f over ${got.size} triples; " +
          s"${joined.size} entity clusters join unambiguous forms of ${joined.map(_.size).sum} distinct entities " +
          s"(largest: ${joined.headOption.fold("none")(_.take(4).mkString(", "))}); " +
          s"${split.size} of ${sole.values.toSet.size} entities have unambiguous forms in several clusters " +
          s"(first: ${split.headOption.fold("none")(_.mkString(", "))})")
    )
  }
}

/** `canon`: distributed canonicalization of a generated surface-form
  * dictionary larger than the driver-local threshold.
  */
final class CanonWorkload(spark: SparkSession, seed: Long, nBases: Int, threshold: Int) extends Workload {
  import spark.implicits._
  private val cfg = ClusterConfig(driverClusterThreshold = threshold)
  private val fp = s"canon|$seed|$nBases|$cfg"
  private var input: Option[SnapshotTable] = None
  private var dict: (Seq[String], Seq[(String, String, String)]) = (Nil, Nil)
  private var forms = 0L
  private val roots = scala.collection.mutable.ArrayBuffer.empty[Path]

  private val syl = Vector("ba", "do", "fi", "ka", "lu", "mo", "ne", "pi", "ra", "su",
    "ta", "ve", "zo", "chi", "gar", "len", "nor", "pel", "quin", "ros")
  private val tails = Vector("bel", "dan", "fir", "gon", "hal", "kin", "lor", "mir", "nos", "par",
    "quil", "rin", "sol", "tor", "van", "wex", "yor", "zan", "dral", "moth")
  private val surnames = Vector("Abbot", "Brink", "Calder", "Dunmore", "Ellery", "Fenwick", "Garrow",
    "Hale", "Ingram", "Jardine", "Keller", "Lowell", "Mercer", "Norwood", "Ogden", "Pratt")

  /** Seeded base names, each expanded by CorpusGen.variants; one base in
    * eight also gets a near-miss distractor (its first two letters
    * replaced by another syllable) that must stay a separate entity; the
    * first base is the hub, the subject of one triple in twenty.
    */
  private def dictionary(): (Seq[String], Seq[(String, String, String)]) = {
    val r = new Random(seed)
    def name(): String = {
      val n = syl(r.nextInt(syl.size)).capitalize + syl(r.nextInt(syl.size)) + tails(r.nextInt(tails.size))
      if (r.nextBoolean()) n + " " + surnames(r.nextInt(surnames.size)) else n
    }
    val bases = scala.collection.mutable.LinkedHashSet.empty[String]
    while (bases.size < nBases) {
      val b = name()
      bases += b
      if (r.nextInt(8) == 0) bases += syl(r.nextInt(syl.size)).capitalize + b.drop(2)
    }
    val baseSeq = bases.toVector
    val families = baseSeq.map(CorpusGen.variants(_).distinct)
    val all = families.flatten.distinct
    val hub = families.head
    val triples = (0 until all.size * 2).map { _ =>
      val s = if (r.nextInt(20) == 0) hub(r.nextInt(hub.size)) else all(r.nextInt(all.size))
      (s, CorpusGen.predicates(r.nextInt(CorpusGen.predicates.size)), all(r.nextInt(all.size)))
    }.distinct
    (all, triples)
  }

  def inputs(dir: Path): Unit = {
    dict = dictionary()
    forms = dict._1.size.toLong
    require(forms > threshold, s"$forms forms do not exceed the driver-local threshold $threshold")
  }

  /** Commit the dictionary and its triples, the tables the passes read. */
  def prepare(dir: Path): Unit = {
    val (all, triples) = dict
    val table = new SnapshotTable(spark, dir.toString)
    table.commit(all.toDF("entity").repartition(8), "canon_entities", fp)
    table.commit(triples.toDF("subject", "predicate", "obj").repartition(8), "canon_triples", fp)
    input = Some(table)
  }

  def op(i: Int, dir: Path, tr: Spans): OpResult = {
    val in = input.get
    val ents = in.read("canon_entities", fp)
    val tris = in.read("canon_triples", fp)
    val table = new SnapshotTable(spark, dir.toString)
    val t0 = Clock.nowMs
    var counts = Map.empty[String, Double]
    if (!tr.enabled) commitClustered(table, ClusterGraph.clusterGraph(ents, tris, cfg), fp)
    else tr("canon") {
      val items = ents.select(col("entity").as("member"))
      val edges = tr("cluster.candidates") { table.commit(CandidatePairs.edges(items, cfg), "candidate_edges", fp) }
      tr("cluster.cc") {
        table.commit(ConnectedComponents.run(edges, items.select(col("member").as("node")), cfg.maxIterations),
          "cc_assign", fp)
      }
      tr("cluster.graph") { commitClustered(table, ClusterGraph.clusterGraph(ents, tris, cfg), fp) }
      counts = Map("candidate_pairs" -> table.rowCount("candidate_edges", fp).get.toDouble)
    }
    val wall = secs(t0)
    roots += dir
    val clusters = table.rowCount("canonical_entities", fp).get
    counts += ("forms" -> forms.toDouble, "clusters" -> clusters.toDouble)
    OpResult(wall, forms, table.rowCount("canonical_triples", fp).get, if (clusters > 0 && clusters < forms) 0 else 1,
      Seq(wall), counts)
  }

  /** Every pass's distributed assignments equal the driver-local
    * union-find twin (clusterItems with a threshold above the
    * dictionary size), computed once.
    */
  def finalChecks(): Seq[(String, Boolean, String)] = {
    val ents = input.get.read("canon_entities", fp).select(col("entity").as("member"))
    val twin = pairs(ClusterGraph.clusterItems(ents, cfg.copy(driverClusterThreshold = forms.toInt + 1)))
    roots.toSeq.zipWithIndex.map { case (root, i) =>
      val got = pairs(new SnapshotTable(spark, root.toString).read("entity_clusters", fp))
      val diff = (got.keySet ++ twin.keySet).count(k => got.get(k) != twin.get(k))
      (s"canon.twin.$i", diff == 0, s"$diff of ${twin.size} assignments differ from the driver-local twin")
    }
  }
}

/** `sweep`: registry queries over committed state, one at a time, in a
  * seeded order, every output column forced by an all-column hash.
  */
final class SweepWorkload(spark: SparkSession, seed: Long, panel: Seq[(String, String)],
                          expected: Map[String, (Long, String)], record: Boolean) extends Workload {
  private var dataDir: Option[Path] = None
  /** With `record`: each query's rows, hash and its walls in the timed passes. */
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
  val recordedWalls = scala.collection.mutable.Map.empty[String, Seq[Double]]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def inputs(dir: Path): Unit = {
    SweepData.write(spark, dir.toString, 42L)
    dataDir = Some(dir)
  }

  /** Commit the derived tables (triples, entities, dedup state) that the
    * kg_* and dedup_* queries read, under a fresh derived-table root.
    */
  def prepare(dir: Path): Unit = {
    graft.queries.Queries.derivedRootOverride = Some(dir.toString)
    graft.queries.Queries.ensureDerived(spark, dataDir.get.toString)
  }

  /** Row count and order-independent content hash; hashing every column
    * makes the query pay for every projected column, as a reader would.
    */
  private def force(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType    => true
      case a: ArrayType  => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _             => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def topK(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
      case _: graft.functions.TopKRows => n += 1
      case _                           =>
    }))
    n
  }

  def op(i: Int, dir: Path, tr: Spans): OpResult = {
    val sf = dataDir.get.toString
    val order = new Random(seed * 1000003L + i).shuffle(panel)
    val t0 = Clock.nowMs
    var rows = 0L
    var failed = 0
    val traced = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val samples = tr("sweep") {
      order.map { case (name, family) =>
        val fn = graft.SparkEntry.queries(name)
        val q0 = Clock.nowMs
        val (df, (n, h)) = tr("query", s"$family/$name") {
          val df = tr("queries.eager") { fn(spark, sf) }
          (df, tr("queries.action") { force(df) })
        }
        val wall = secs(q0)
        if (tr.enabled) traced += df
        rows += n
        if (record) {
          recorded(name) = (n, h)
          if (i > 0) recordedWalls(name) = recordedWalls.getOrElse(name, Nil) :+ wall
        }
        else if (!expected.get(name).contains((n, h))) {
          failed += 1
          failures += s"$name: got ($n, $h), expected ${expected.get(name)}"
        }
        wall
      }
    }
    val wall = secs(t0)
    // plans are read after the pass, outside every span
    val counts = if (tr.enabled) Map("topk_rewrites" -> traced.map(topK).sum.toDouble) else Map.empty[String, Double]
    OpResult(wall, panel.size.toLong, rows, failed, samples, counts)
  }

  def finalChecks(): Seq[(String, Boolean, String)] =
    failures.take(20).toSeq.map(f => ("sweep.hash", false, f))
}

object SweepWorkload {
  /** The registry family of a query, by its name prefix. */
  def family(name: String): String = name.takeWhile(_ != '_') match {
    case p @ ("kg" | "dedup" | "text" | "events") => p
    case "ann" | "emb"                            => "ann_emb"
    case _                                        => "other"
  }

  /** Every registry query, as a panel. */
  def registry: Seq[(String, String)] = graft.SparkEntry.queries.keys.toSeq.sorted.map(n => n -> family(n))
}
