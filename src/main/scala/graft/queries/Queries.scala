package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.TokenRules

/** Driver-facing query registry: every operator from SURVEY.md §2 that is
  * runnable over the scale-factor parquet tables, paired (in its
  * [[QueryDef]]) with the exact ANSI SQL the DuckDB oracle runs on the
  * same tables.
  *
  * Conventions shared with the oracle (the driver hash-compares after
  * sorting columns by name, so names must match exactly):
  *   - every computed column is aliased identically on both sides;
  *   - aggregates that DuckDB would widen to HUGEINT are CAST to BIGINT;
  *   - floating-point outputs are avoided — ratios are emitted as
  *     integer-divided milli/micro units so both engines produce
  *     bit-identical integers;
  *   - every query's row set is a deterministic function of the input
  *     (total orders before any LIMIT).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // ---------------------------------------------------------------
  // Snapshot-backed derived tables: at 100 TB the kg_* analytics must
  // read the pipeline's committed canonical tables, not re-pay triple
  // extraction from raw text on every query. When a derived-table root
  // is configured (env SPARK_GRAFT_DERIVED_ROOT, or programmatically via
  // `derivedRootOverride` — Bench sets it for its snapshot-backed phase)
  // and the snapshot for this scale dir is committed, `triples`/
  // `entities` read it; otherwise they derive from text exactly as
  // before. The snapshot IS the committed output of the same derivation,
  // so both paths are row-identical and every query hash-matches the
  // same oracle either way (Verify re-checks this whenever the root is
  // set).
  // ---------------------------------------------------------------

  @volatile var derivedRootOverride: Option[String] = None
  private def derivedRoot: Option[String] =
    derivedRootOverride.orElse(sys.env.get("SPARK_GRAFT_DERIVED_ROOT"))

  /** Snapshot fingerprint for a scale dir: the path PLUS a digest of the
    * source table's file statuses (name, length, mtime — a metadata-only
    * listing, no data scan). A bare path fingerprint would silently serve
    * a stale committed snapshot after the corpus at that path was
    * regenerated; this keys the cache on what the files actually are,
    * the same identity rule Iceberg manifests use.
    */
  private[graft] def derivedFp(s: SparkSession, dir: String): Option[String] = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val p = new HPath(s"$dir/documents.parquet")
    // None when the listing fails: the snapshot path is DISABLED for
    // this call rather than degraded into a constant cache key — a
    // constant key could match a commit made under an earlier listing
    // failure and silently serve stale derived tables for a regenerated
    // corpus
    try {
      val fs = FileSystem.get(p.toUri, s.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile)
          entries += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      }
      val digest = java.security.MessageDigest
        .getInstance("MD5")
        .digest(entries.sorted.mkString(",").getBytes("UTF-8"))
      Some(s"$dir|${graft.util.Hex.string(digest)}")
    } catch { case _: Exception => None }
  }

  private def snapshotOr(s: SparkSession, dir: String, stage: String)(
      derive: => DataFrame
  ): DataFrame =
    readStage(s, dir, stage).getOrElse(derive)

  /** The committed snapshot of `stage` for this scale dir, or None when
    * no derived root is configured / the listing failed / the stage is
    * not committed. Exposed package-wide so OpsQueries' dedup family can
    * collapse to committed-state reads the same way the kg_* analytics
    * do.
    */
  private[graft] def readStage(s: SparkSession, dir: String, stage: String): Option[DataFrame] =
    derivedRoot.flatMap { root =>
      derivedFp(s, dir).flatMap { fp =>
        val t = new graft.store.SnapshotTable(s, root)
        if (t.exists(stage, fp)) Some(t.read(stage, fp)) else None
      }
    }

  private def deriveTriples(s: SparkSession, dir: String): DataFrame =
    TokenRules.triples(docs(s, dir))

  private[graft] def triples(s: SparkSession, dir: String): DataFrame =
    snapshotOr(s, dir, "derived_triples")(deriveTriples(s, dir))

  private[graft] def entities(s: SparkSession, dir: String): DataFrame =
    snapshotOr(s, dir, "derived_entities")(deriveEntities(s, dir))

  /** Materialize the derived tables for `dir` under the configured root
    * (no-op without one) — resume-safe: an existing committed snapshot
    * is never recomputed. Covers the kg_* canonical frames
    * (triples/entities), the recrawl state `kg_cc_incremental` folds
    * into (the base crawl's component assignment and the delta crawl's
    * edges, see [[ccBaseAssign]]) AND the dedup state (token sets +
    * MinHash-LSH band index); the band index is derived FROM the
    * just-committed token-set table, so the corpus is tokenized exactly
    * once across both stages.
    */
  def ensureDerived(s: SparkSession, dir: String): Unit =
    derivedRoot.foreach { root =>
      derivedFp(s, dir).foreach { fp =>
        val t = new graft.store.SnapshotTable(s, root)
        t.resumeOrCompute("derived_triples", fp)(deriveTriples(s, dir))
        t.resumeOrCompute("derived_entities", fp)(deriveEntities(s, dir))
        t.resumeOrCompute("derived_cc_base_assign", fp)(ccBaseAssign(s, dir))
        t.resumeOrCompute("derived_cc_delta_edges", fp)(crawlEdges(s, dir, delta = true))
        t.resumeOrCompute("derived_token_sets", fp)(
          graft.ops.Dedup.tokenSetTable(docs(s, dir)))
        t.resumeOrCompute("derived_band_index", fp)(
          graft.ops.Dedup.bandIndexFromToks(t.read("derived_token_sets", fp)))
      }
    }

  /** The recrawl split of `kg_cc_incremental`: docs with doc_id % 4 != 3
    * are the base crawl, the rest the delta crawl; both as (src, dst)
    * triple edges.
    */
  private def crawlEdges(s: SparkSession, dir: String, delta: Boolean): DataFrame = {
    val isDelta = col("doc_id") % 4 === 3
    TokenRules
      .triples(docs(s, dir).where(if (delta) isDelta else !isDelta))
      .select(col("subject").as("src"), col("obj").as("dst"))
  }

  /** The base crawl's (node, component) assignment: a from-scratch
    * [[graft.cluster.ConnectedComponents.run]] over its triple graph.
    */
  private def ccBaseAssign(s: SparkSession, dir: String): DataFrame = {
    val e = crawlEdges(s, dir, delta = false)
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()
    graft.cluster.ConnectedComponents.run(e, nodes)
  }

  // ---------------------------------------------------------------
  // Extraction operators (SURVEY §2.3): E1/E2/E3/E4/E5 as token rules
  // ---------------------------------------------------------------

  /** E1 — per-document entity mentions. */
  val kgMentions: Q = (s, dir) => TokenRules.mentions(docs(s, dir))

  val kgMentionsSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), " +
      "m AS (SELECT doc_id, unnest(toks) AS entity FROM t) " +
      s"SELECT DISTINCT doc_id, entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}"

  /** Per-document extraction-yield profile (TokenRules.docDensity):
    * row-local mention/valid-window counts and per-kilo-token
    * densities; the oracle reaches the identical counts through the
    * long-format raw-triple CTE with a per-doc struct-DISTINCT.
    */
  val kgDocDensity: Q = (s, dir) => TokenRules.docDensity(docs(s, dir))

  val kgDocDensitySql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), " +
      s"raw_cte AS (${TokenRules.Sql.rawTriplesCte}), " +
      "dt AS (SELECT doc_id, CAST(count(DISTINCT (subject, predicate, obj)) AS BIGINT) AS n_triples " +
      s"FROM raw_cte WHERE length(subject) >= ${TokenRules.MinEntityLen} AND length(obj) >= ${TokenRules.MinEntityLen} GROUP BY doc_id), " +
      "base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      s"CAST(len(list_distinct(list_filter(toks, x -> length(x) >= ${TokenRules.MinEntityLen}))) AS BIGINT) AS n_mentions " +
      "FROM toks_cte WHERE len(toks) > 0) " +
      "SELECT b.doc_id, b.n_tokens, b.n_mentions, CAST(coalesce(dt.n_triples, 0) AS BIGINT) AS n_triples, " +
      "(1000 * b.n_mentions) // b.n_tokens AS mentions_per_kilo, " +
      "(1000 * coalesce(dt.n_triples, 0)) // b.n_tokens AS triples_per_kilo " +
      "FROM base b LEFT JOIN dt USING (doc_id)"

  private def deriveEntities(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TokenRules.tokens(col("text"))).as("entity"))
      .where(TokenRules.isEntity(col("entity")))
      .distinct()

  /** E1/E4 — global entity set (union of per-chunk results + distinct). */
  val kgEntities: Q = (s, dir) => entities(s, dir)

  val kgEntitiesSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), " +
      "m AS (SELECT unnest(toks) AS entity FROM t) " +
      s"SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}"

  /** E2+E3+E4 — global valid triples (sliding window + membership filter
    * + set semantics).
    */
  val kgTriples: Q = (s, dir) => triples(s, dir)

  val kgTriplesSql: String =
    TokenRules.Sql.withTriples + "SELECT subject, predicate, obj FROM tr"

  /** E5 — derived edge set: distinct predicates. */
  val kgEdges: Q = (s, dir) => TokenRules.edges(triples(s, dir))

  val kgEdgesSql: String =
    TokenRules.Sql.withTriples + "SELECT DISTINCT predicate FROM tr"

  /** A1 — aggregate(graphs): union of two per-source-partition graphs,
    * then distinct (src/kg_gen/kg_gen.py:291-304). The two "graphs" are
    * the triples of even- vs odd-doc_id documents.
    */
  val kgAggregate: Q = (s, dir) => {
    val d = docs(s, dir)
    val g1 = TokenRules.triples(d.where(col("doc_id") % 2 === 0))
    val g2 = TokenRules.triples(d.where(col("doc_id") % 2 === 1))
    g1.union(g2).distinct()
  }

  val kgAggregateSql: String = {
    def side(pred: String): String =
      s"WITH toks_cte AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents WHERE $pred), " +
        s"raw_cte AS (${TokenRules.Sql.rawTriplesCte}) ${TokenRules.Sql.triplesCte}"
    s"SELECT DISTINCT subject, predicate, obj FROM ((${side("doc_id % 2 = 0")}) UNION (${side("doc_id % 2 = 1")}))"
  }

  /** Snapshot-to-snapshot triple delta (incremental KG maintenance):
    * the "old" snapshot is the graph of documents doc_id % 3 ≠ 0, the
    * "new" one doc_id % 3 ≠ 2 — so docs ≡ 1 (mod 3) are shared, ≡ 0 are
    * arriving, ≡ 2 are departing, and both change directions are
    * non-trivially populated. Single-shuffle ±1 classification — see
    * [[graft.analytics.GraphDiff]].
    */
  val kgDiff: Q = (s, dir) => {
    val d = docs(s, dir)
    graft.analytics.GraphDiff.triples(
      TokenRules.triples(d.where(col("doc_id") % 3 =!= 0)),
      TokenRules.triples(d.where(col("doc_id") % 3 =!= 2))
    )
  }

  val kgDiffSql: String = {
    def side(pred: String): String =
      s"WITH toks_cte AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents WHERE $pred), " +
        s"raw_cte AS (${TokenRules.Sql.rawTriplesCte}) ${TokenRules.Sql.triplesCte}"
    val oldT = side("doc_id % 3 <> 0")
    val newT = side("doc_id % 3 <> 2")
    s"SELECT subject, predicate, obj, 'added' AS change FROM (($newT) EXCEPT ($oldT)) " +
      s"UNION ALL SELECT subject, predicate, obj, 'removed' AS change FROM (($oldT) EXCEPT ($newT))"
  }

  /** Per-predicate recrawl churn (GraphDiff.predicateChurn) over the
    * same old/new doc split as kg_diff: side membership read off the
    * (net, cnt) tag-and-sum classification, churn rate in permille.
    */
  val kgChurn: Q = (s, dir) => {
    val d = docs(s, dir)
    graft.analytics.GraphDiff.predicateChurn(
      TokenRules.triples(d.where(col("doc_id") % 3 =!= 0)),
      TokenRules.triples(d.where(col("doc_id") % 3 =!= 2))
    )
  }

  val kgChurnSql: String = {
    def side(pred: String): String =
      s"WITH toks_cte AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents WHERE $pred), " +
        s"raw_cte AS (${TokenRules.Sql.rawTriplesCte}) ${TokenRules.Sql.triplesCte}"
    val oldT = side("doc_id % 3 <> 0")
    val newT = side("doc_id % 3 <> 2")
    s"WITH k AS (SELECT subject, predicate, obj, CAST(sum(w) AS BIGINT) AS net, count(*) AS cnt FROM (" +
      s"SELECT *, -1 AS w FROM ($oldT) UNION ALL SELECT *, 1 AS w FROM ($newT)) GROUP BY 1, 2, 3) " +
      "SELECT predicate, " +
      "CAST(count(CASE WHEN net = -1 OR cnt = 2 THEN 1 END) AS BIGINT) AS n_old, " +
      "CAST(count(CASE WHEN net = 1 OR cnt = 2 THEN 1 END) AS BIGINT) AS n_new, " +
      "CAST(count(CASE WHEN net = 1 THEN 1 END) AS BIGINT) AS n_added, " +
      "CAST(count(CASE WHEN net = -1 THEN 1 END) AS BIGINT) AS n_removed, " +
      "CAST((1000 * (count(CASE WHEN net = 1 THEN 1 END) + count(CASE WHEN net = -1 THEN 1 END))) " +
      "// (count(CASE WHEN net = -1 OR cnt = 2 THEN 1 END) + count(CASE WHEN net = 1 OR cnt = 2 THEN 1 END)) AS BIGINT) AS churn_permille " +
      "FROM k GROUP BY predicate"
  }

  // ---------------------------------------------------------------
  // Aggregation operators (SURVEY §2.4)
  // ---------------------------------------------------------------

  /** A2 — degree / in-degree / out-degree per node
    * (visualize_kg.py:97-120), one pass via endpoint explode.
    */
  val kgDegree: Q = (s, dir) => {
    val tr = triples(s, dir)
    tr.select(
        explode(
          array(
            struct(col("subject").as("entity"), lit(1L).as("o"), lit(0L).as("i")),
            struct(col("obj").as("entity"), lit(0L).as("o"), lit(1L).as("i"))
          )
        ).as("e")
      )
      .select("e.*")
      .groupBy("entity")
      .agg(
        sum("o").as("out_degree"),
        sum("i").as("in_degree"),
        sum(col("o") + col("i")).as("degree")
      )
  }

  val kgDegreeSql: String =
    TokenRules.Sql.withTriples +
      ", ep AS (SELECT subject AS entity, 1 AS o, 0 AS i FROM tr UNION ALL SELECT obj, 0, 1 FROM tr) " +
      "SELECT entity, CAST(sum(o) AS BIGINT) AS out_degree, CAST(sum(i) AS BIGINT) AS in_degree, " +
      "CAST(sum(o + i) AS BIGINT) AS degree FROM ep GROUP BY entity"

  /** A2 — count per predicate (visualize_kg.py:115-120). Reads the
    * snapshot-aware triple table like every other kg_* triple query —
    * not TokenRules directly, which would re-pay extraction in
    * snapshot-backed mode.
    */
  val kgPredCounts: Q = (s, dir) =>
    triples(s, dir)
      .groupBy("predicate")
      .agg(count(lit(1)).as("cnt"))

  val kgPredCountsSql: String =
    TokenRules.Sql.withTriples +
      "SELECT predicate, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY predicate"

  /** A3 — top-10 entities by (-degree, entity) (visualize_kg.py:191-216;
    * deterministic total order before LIMIT).
    */
  val kgTopEntities: Q = (s, dir) =>
    kgDegree(s, dir)
      .select("entity", "degree")
      .orderBy(desc("degree"), asc("entity"))
      .limit(10)

  val kgTopEntitiesSql: String =
    TokenRules.Sql.withTriples +
      ", ep AS (SELECT subject AS entity, 1 AS d FROM tr UNION ALL SELECT obj, 1 FROM tr), " +
      "deg AS (SELECT entity, CAST(sum(d) AS BIGINT) AS degree FROM ep GROUP BY entity) " +
      "SELECT entity, degree FROM deg ORDER BY degree DESC, entity LIMIT 10"

  /** A4 — summary stats (visualize_kg.py:218-234): counts, isolated
    * entities, average degree and density in exact integer milli/micro
    * units (integer division on both sides — no floats cross the oracle
    * boundary).
    */
  val kgStats: Q = (s, dir) => {
    // single derivation of the triple set, staged once (round-3 version
    // re-derived it for each of four separate aggregates — ~4 source
    // passes for a 1-row result); n_triples and n_edges come from ONE
    // multi-aggregate pass over the staged table, and n_entities /
    // n_isolated from ONE pass over the entity set left-joined to the
    // (small) distinct endpoint set.
    val tr = graft.util.Materialize.stage(triples(s, dir))
    val ents = entities(s, dir)
    val endpoints = tr.select(col("subject").as("entity"))
      .union(tr.select(col("obj").as("entity")))
      .distinct()
    val triAgg = tr.agg(
      count(lit(1)).as("n_triples"),
      count_distinct(col("predicate")).as("n_edges")
    )
    val entAgg = ents
      .join(endpoints.withColumn("hit", lit(1)), Seq("entity"), "left")
      .agg(
        count(lit(1)).as("n_entities"),
        // count(when...), not sum(when...): sum over ZERO rows is NULL,
        // and an empty entity set must report n_isolated = 0 like the
        // oracle's count — not NULL
        count(when(col("hit").isNull, lit(1))).as("n_isolated")
      )
    entAgg
      .crossJoin(triAgg)
      .select(
        col("n_entities"),
        col("n_triples"),
        col("n_edges"),
        col("n_isolated"),
        expr("2000 * n_triples div n_entities").as("avg_degree_milli"),
        expr("1000000 * n_triples div (n_entities * (n_entities - 1))").as("density_micro")
      )
  }

  val kgStatsSql: String =
    TokenRules.Sql.withTriples +
      ", m AS (SELECT unnest(toks) AS entity FROM toks_cte) " +
      s", ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}) " +
      ", ep AS (SELECT subject AS entity FROM tr UNION SELECT obj FROM tr) " +
      ", c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ents) AS n_entities, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_triples, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT predicate FROM tr)) AS n_edges, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM ents WHERE entity NOT IN (SELECT entity FROM ep)) AS n_isolated) " +
      "SELECT n_entities, n_triples, n_edges, n_isolated, " +
      "(2000 * n_triples) // n_entities AS avg_degree_milli, " +
      "(1000000 * n_triples) // (n_entities * (n_entities - 1)) AS density_micro FROM c"

  // ---------------------------------------------------------------
  // Graph analytics / retrieval operators (SURVEY §2.6)
  // ---------------------------------------------------------------

  import graft.analytics.Analytics

  /** A3 — top-10 relations by (-count, predicate). */
  val kgTopRelations: Q = (s, dir) =>
    Analytics.topRelations(triples(s, dir))

  val kgTopRelationsSql: String =
    TokenRules.Sql.withTriples +
      "SELECT predicate, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY predicate " +
      "ORDER BY cnt DESC, predicate LIMIT 10"

  /** G1 — nx projection: parallel (subject, obj) edges collapse to one
    * deterministic relation.
    */
  val kgNxEdges: Q = (s, dir) =>
    Analytics.collapsedEdges(triples(s, dir))

  val kgNxEdgesSql: String =
    TokenRules.Sql.withTriples +
      "SELECT subject, obj, min(predicate) AS predicate FROM tr GROUP BY subject, obj"

  /** G4 — 2-hop BFS context sentences around a fixed seed. */
  private val hopSeed = "data"
  val kg2Hop: Q = (s, dir) =>
    Analytics.twoHopContext(triples(s, dir), hopSeed)

  private def twoHopSql(seedsCte: String): String =
    ", s AS (SELECT subject, obj, subject || ' ' || predicate || ' ' || obj || '.' AS sentence FROM tr), " +
      s"seeds AS ($seedsCte), " +
      "e1 AS (SELECT * FROM s WHERE subject IN (SELECT seed FROM seeds) OR obj IN (SELECT seed FROM seeds)), " +
      "f AS (SELECT subject AS n FROM e1 UNION SELECT obj FROM e1), " +
      "e2 AS (SELECT sentence FROM s WHERE subject IN (SELECT n FROM f) OR obj IN (SELECT n FROM f)), " +
      "ctx AS (SELECT DISTINCT sentence FROM (SELECT sentence FROM e1 UNION ALL SELECT sentence FROM e2))"

  val kg2HopSql: String =
    TokenRules.Sql.withTriples + twoHopSql(s"SELECT '$hopSeed' AS seed") +
      " SELECT sentence FROM ctx"

  /** G8 — case-insensitive substring retrieval, deterministic cap 10. */
  val kgSubstring: Q = (s, dir) =>
    Analytics.substringEntities(entities(s, dir), "ar")

  val kgSubstringSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), m AS (SELECT unnest(toks) AS entity FROM t), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}) " +
      "SELECT entity FROM ents WHERE lower(entity) LIKE '%ar%' ORDER BY entity LIMIT 10"

  /** G2 — long-format deterministic node embeddings (entity, dim, cnt). */
  val kgEmbed: Q = (s, dir) => Analytics.nodeEmbeddings(entities(s, dir))

  private val embSqlCte: String =
    "emb AS (SELECT entity, " + Analytics.trigramDimSqlExpr("tri") + " AS dim, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM (" +
      "SELECT entity, unnest(list_transform(range(1, length(lower(entity)) - 1), i -> substr(lower(entity), i, 3))) AS tri " +
      "FROM ents WHERE length(entity) >= 3) GROUP BY entity, dim)"

  val kgEmbedSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), m AS (SELECT unnest(toks) AS entity FROM t), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      embSqlCte + " SELECT entity, CAST(dim AS BIGINT) AS dim, cnt FROM emb"

  /** G2 (relations) — predicate embeddings (kg_gen.py:332-346 embeds
    * nodes AND relations). Same trigram rule, over distinct predicates;
    * the oracle reuses the embedding CTE by naming the predicate set
    * `ents`.
    */
  val kgEmbedRel: Q = (s, dir) =>
    Analytics.relationEmbeddings(triples(s, dir))

  val kgEmbedRelSql: String =
    TokenRules.Sql.withTriples +
      ", ents AS (SELECT DISTINCT predicate AS entity FROM tr), " +
      embSqlCte +
      " SELECT entity AS predicate, CAST(dim AS BIGINT) AS dim, cnt FROM emb"

  /** G7 — assembled visualization view model (visualize_kg.py:30-258):
    * per-entity degrees, component, md5-seeded color, top-10 flag.
    */
  val kgViz: Q = (s, dir) =>
    Analytics.vizModel(entities(s, dir), triples(s, dir))

  val kgVizSql: String =
    "WITH RECURSIVE toks_cte AS (" + TokenRules.Sql.toksCte + "), " +
      "raw_cte AS (" + TokenRules.Sql.rawTriplesCte + "), " +
      "tr AS (" + TokenRules.Sql.triplesCte + "), " +
      "m AS (SELECT unnest(toks) AS entity FROM toks_cte), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      "e AS (SELECT subject AS src, obj AS dst FROM tr UNION SELECT obj, subject FROM tr), " +
      "walk(node, label) AS (SELECT entity, entity FROM ents " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node), " +
      "compo AS (SELECT node AS entity, min(label) AS component FROM walk GROUP BY node), " +
      "ep AS (SELECT subject AS entity, 1 AS o, 0 AS i FROM tr UNION ALL SELECT obj, 0, 1 FROM tr), " +
      "deg AS (SELECT entity, CAST(sum(o) AS BIGINT) AS out_degree, CAST(sum(i) AS BIGINT) AS in_degree, " +
      "CAST(sum(o + i) AS BIGINT) AS degree FROM ep GROUP BY entity), " +
      "top AS (SELECT entity FROM deg ORDER BY degree DESC, entity LIMIT 10) " +
      "SELECT ents.entity, coalesce(out_degree, 0) AS out_degree, coalesce(in_degree, 0) AS in_degree, " +
      "coalesce(degree, 0) AS degree, coalesce(component, ents.entity) AS component, " +
      "CAST(CASE WHEN top.entity IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_top, " +
      "'#' || substr(md5(ents.entity), 1, 6) AS color " +
      "FROM ents LEFT JOIN deg ON ents.entity = deg.entity " +
      "LEFT JOIN compo ON ents.entity = compo.entity " +
      "LEFT JOIN top ON ents.entity = top.entity"

  /** G3 — top-8 nodes by cosine to a fixed query, integer micro-score. */
  private val retrieveQuery = "stream data"
  val kgRetrieve: Q = (s, dir) =>
    Analytics.retrieveRelevantNodes(entities(s, dir), retrieveQuery, 8)

  private def qvSqlCte: String = {
    val qv = Analytics.embedQuery(retrieveQuery).toSeq.sorted
    val values = qv.map { case (d, c) => s"($d, $c)" }.mkString(", ")
    s"qv AS (SELECT * FROM (VALUES $values) t(dim, qcnt))"
  }

  val kgRetrieveSql: String = {
    val qNorm = Analytics.embedQuery(retrieveQuery).values.map(c => c * c).sum
    s"WITH t AS (${TokenRules.Sql.toksCte}), m AS (SELECT unnest(toks) AS entity FROM t), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      embSqlCte + ", " + qvSqlCte + ", " +
      "dots AS (SELECT entity, CAST(sum(cnt * qcnt) AS BIGINT) AS dot FROM emb JOIN qv USING (dim) GROUP BY entity), " +
      "norms AS (SELECT entity, CAST(sum(cnt * cnt) AS BIGINT) AS na FROM emb GROUP BY entity) " +
      s"SELECT dots.entity, (1000000 * dot * dot) // (na * $qNorm) AS score_micro " +
      "FROM dots JOIN norms ON dots.entity = norms.entity " +
      "ORDER BY score_micro DESC, dots.entity LIMIT 8"
  }

  /** G5 — retrieve: top-3 seeds -> union of 2-hop contexts -> one sorted
    * context string.
    */
  val kgRetrieveContext: Q = (s, dir) =>
    Analytics.retrieve(entities(s, dir), triples(s, dir), retrieveQuery, 3)

  val kgRetrieveContextSql: String = {
    val qNorm = Analytics.embedQuery(retrieveQuery).values.map(c => c * c).sum
    "WITH toks_cte AS (" + TokenRules.Sql.toksCte + "), raw_cte AS (" +
      TokenRules.Sql.rawTriplesCte + "), tr AS (" + TokenRules.Sql.triplesCte + "), " +
      "m AS (SELECT unnest(toks) AS entity FROM toks_cte), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      embSqlCte + ", " + qvSqlCte + ", " +
      "dots AS (SELECT entity, CAST(sum(cnt * qcnt) AS BIGINT) AS dot FROM emb JOIN qv USING (dim) GROUP BY entity), " +
      "norms AS (SELECT entity, CAST(sum(cnt * cnt) AS BIGINT) AS na FROM emb GROUP BY entity), " +
      s"scored AS (SELECT dots.entity, (1000000 * dot * dot) // (na * $qNorm) AS score_micro " +
      "FROM dots JOIN norms ON dots.entity = norms.entity ORDER BY score_micro DESC, dots.entity LIMIT 3)" +
      twoHopSql("SELECT entity AS seed FROM scored") +
      " SELECT string_agg(sentence, ' ' ORDER BY sentence) AS context FROM ctx"
  }

  // ---------------------------------------------------------------
  // Clustering / canonicalization operators (SURVEY §2.5)
  // ---------------------------------------------------------------

  import graft.cluster.Normalize

  /** The normalization rule as a SQL expression valid in both engines;
    * `w` must already be a single lowercase word expression.
    */
  private def normExpr(colName: String): String =
    Normalize.Sql.normCase(s"lower($colName)")

  /** C1 (blocking key) — normalized surface form per entity. */
  val kgNormalize: Q = (s, dir) =>
    entities(s, dir).withColumn("norm", expr(normExpr("entity")))

  val kgNormalizeSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), m AS (SELECT unnest(toks) AS entity FROM t), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}) " +
      s"SELECT entity, ${normExpr("entity")} AS norm FROM ents"

  /** Shared SQL: member->representative assignment over a set named
    * `items(member)`: exact normalized-key blocking, representative =
    * shortest-then-lexicographic member (C1+C3).
    */
  private def assignSql(itemsCte: String): String =
    s"n AS (SELECT member, ${normExpr("member")} AS norm FROM ($itemsCte)), " +
      "r AS (SELECT norm, member AS representative, " +
      "row_number() OVER (PARTITION BY norm ORDER BY length(member), member) AS rn FROM n), " +
      "assign AS (SELECT n.member, r.representative FROM n JOIN r ON n.norm = r.norm AND r.rn = 1)"

  private def assignDf(items: DataFrame): DataFrame = {
    // groupBy+join (skew-safe partial agg) — same result as the window
    // row_number pick in the oracle SQL
    val n = items.select(col("member")).distinct()
      .withColumn("norm", expr(normExpr("member")))
    val reps = n.groupBy("norm")
      .agg(min(struct(length(col("member")), col("member"))).as("r"))
      .select(col("norm"), col("r.member").as("representative"))
    // size-gated hint: reps is bounded by the distinct-norm count here
    // (sf-scale query) but unbounded at the design point — let the gate
    // decide (AQE converts at runtime when no hint fires)
    n.join(graft.util.PlanHints.maybeBroadcast(reps), "norm").select("member", "representative")
  }

  /** C1+C3 — entity cluster assignment (exact normalized-key variant; the
    * LSH/neighborhood channels are exercised by the sbt suite, this query
    * keeps the SQL-checkable core).
    */
  val kgClusterAssign: Q = (s, dir) =>
    assignDf(entities(s, dir).select(col("entity").as("member")))

  private val entityItemsCte: String =
    s"SELECT DISTINCT entity AS member FROM (SELECT unnest(toks) AS entity FROM toks_cte) " +
      s"WHERE length(entity) >= ${TokenRules.MinEntityLen}"

  val kgClusterAssignSql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), ${assignSql(entityItemsCte)} " +
      "SELECT member, representative FROM assign"

  /** S3 sink shape — rep -> sorted member list (the dict-of-sets JSON
    * form). The member list crosses the driver boundary as ONE
    * pipe-joined string: the driver's pandas comparator cannot sort an
    * array<string> column (round-1 crash, CORRECTNESS_r01.json
    * kg_cluster_map), so every driver-facing column stays scalar. The
    * JSON sink (GraphJson) still gets the real dict-of-sets shape.
    */
  val kgClusterMap: Q = (s, dir) =>
    assignDf(entities(s, dir).select(col("entity").as("member")))
      .groupBy("representative")
      .agg(
        array_join(sort_array(collect_list(col("member"))), "|").as("members"),
        count(lit(1)).as("n_members")
      )

  val kgClusterMapSql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), ${assignSql(entityItemsCte)} " +
      "SELECT representative, array_to_string(list_sort(list(member)), '|') AS members, " +
      "CAST(count(*) AS BIGINT) AS n_members FROM assign GROUP BY representative"

  /** C4 — relation rewrite onto representatives (subject/predicate/obj
    * lookups + set-dedup; _3_cluster_graph.py:294-317). Both entity and
    * predicate dictionaries are broadcast (north-star requirement).
    */
  val kgClusterRewrite: Q = (s, dir) => {
    val tr = triples(s, dir)
    val entAssign = assignDf(entities(s, dir).select(col("entity").as("member")))
    val predAssign = assignDf(tr.select(col("predicate").as("member")))
    def bc(df: DataFrame): DataFrame = graft.util.PlanHints.maybeBroadcast(df)
    tr.join(bc(entAssign.select(col("member").as("sM"), col("representative").as("sR"))),
        col("subject") === col("sM"))
      .join(bc(predAssign.select(col("member").as("pM"), col("representative").as("pR"))),
        col("predicate") === col("pM"))
      .join(bc(entAssign.select(col("member").as("oM"), col("representative").as("oR"))),
        col("obj") === col("oM"))
      .select(col("sR").as("subject"), col("pR").as("predicate"), col("oR").as("obj"))
      .distinct()
  }

  val kgClusterRewriteSql: String = {
    val predItemsCte = "SELECT DISTINCT predicate AS member FROM tr"
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), raw_cte AS (${TokenRules.Sql.rawTriplesCte}), " +
      s"tr AS (${TokenRules.Sql.triplesCte}), ${assignSql(entityItemsCte)}, " +
      s"pn AS (SELECT member, ${normExpr("member")} AS norm FROM ($predItemsCte)), " +
      "pr AS (SELECT norm, member AS representative, " +
      "row_number() OVER (PARTITION BY norm ORDER BY length(member), member) AS rn FROM pn), " +
      "passign AS (SELECT pn.member, pr.representative FROM pn JOIN pr ON pn.norm = pr.norm AND pr.rn = 1) " +
      "SELECT DISTINCT sa.representative AS subject, pa.representative AS predicate, oa.representative AS obj " +
      "FROM tr JOIN assign sa ON tr.subject = sa.member " +
      "JOIN passign pa ON tr.predicate = pa.member " +
      "JOIN assign oa ON tr.obj = oa.member"
  }

  /** C2/G6 — connected components of the relation graph (iterative
    * min-label propagation in Spark; recursive-CTE reachability in the
    * oracle — both yield min reachable label).
    */
  val kgComponents: Q = (s, dir) => {
    val tr = triples(s, dir)
    val edges = tr.select(col("subject").as("src"), col("obj").as("dst"))
    val nodes = tr.select(col("subject").as("node"))
      .union(tr.select(col("obj").as("node"))).distinct()
    graft.cluster.ConnectedComponents
      .run(edges, nodes)
      .select(col("node").as("entity"), col("component"))
  }

  val kgComponentsSql: String =
    "WITH RECURSIVE toks_cte AS (" + TokenRules.Sql.toksCte + "), " +
      "raw_cte AS (" + TokenRules.Sql.rawTriplesCte + "), " +
      "tr AS (" + TokenRules.Sql.triplesCte + "), " +
      "e AS (SELECT subject AS src, obj AS dst FROM tr UNION SELECT obj, subject FROM tr), " +
      "nodes AS (SELECT DISTINCT src AS node FROM e), " +
      "walk(node, label) AS (SELECT node, node FROM nodes " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node) " +
      "SELECT node AS entity, min(label) AS component FROM walk GROUP BY node"

  /** Per-component structural rollup (size, distinct undirected edges,
    * internal density in permille) over the exact CC partition — the
    * fragment-size table a KG curator reads before deciding which
    * components are real knowledge islands and which are extraction
    * noise. Density = 1000·e div (n·(n−1)/2) for n ≥ 2 (singletons 0),
    * DECIMAL/HUGEINT-widened. Shape: the shared CC pass, the distinct
    * least/greatest edge set joined to the assignment (AQE handles hub
    * skew), and a component-keyed partial-aggregated exchange.
    */
  val kgComponentStats: Q = (s, dir) => {
    val tr = triples(s, dir)
    val edges = tr.select(col("subject").as("src"), col("obj").as("dst"))
    val nodes = tr.select(col("subject").as("node"))
      .union(tr.select(col("obj").as("node"))).distinct()
    val assign = graft.util.Materialize.stage(
      graft.cluster.ConnectedComponents.run(edges, nodes)
    )
    val edu = tr
      .select(least(col("subject"), col("obj")).as("a"), greatest(col("subject"), col("obj")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .join(assign.select(col("node").as("a"), col("component")), "a")
    val sizes = assign.groupBy("component").agg(count(lit(1)).as("n_entities"))
    val ecnt = edu.groupBy("component").agg(count(lit(1)).as("n_edges"))
    sizes
      .join(ecnt, Seq("component"), "left")
      .select(
        col("component"),
        col("n_entities"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        expr(
          "CAST(CASE WHEN n_entities < 2 THEN 0 ELSE " +
            "(CAST(2000 AS DECIMAL(38,0)) * coalesce(n_edges, 0)) DIV " +
            "(CAST(n_entities AS DECIMAL(38,0)) * (n_entities - 1)) END AS BIGINT)"
        ).as("density_permille")
      )
  }

  val kgComponentStatsSql: String = {
    val cut = kgComponentsSql.indexOf("SELECT node AS entity")
    kgComponentsSql.substring(0, cut) +
      ", asg AS (SELECT node, min(label) AS component FROM walk GROUP BY node), " +
      "edu AS (SELECT DISTINCT least(subject, obj) AS a, greatest(subject, obj) AS b FROM tr WHERE subject <> obj), " +
      "ej AS (SELECT asg.component, count(*) AS e FROM edu JOIN asg ON asg.node = edu.a GROUP BY 1), " +
      "sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_entities FROM asg GROUP BY 1) " +
      "SELECT sz.component, sz.n_entities, CAST(coalesce(ej.e, 0) AS BIGINT) AS n_edges, " +
      "CAST(CASE WHEN sz.n_entities < 2 THEN 0 ELSE " +
      "(CAST(2000 AS HUGEINT) * coalesce(ej.e, 0)) // (CAST(sz.n_entities AS HUGEINT) * (sz.n_entities - 1)) END AS BIGINT) AS density_permille " +
      "FROM sz LEFT JOIN ej ON ej.component = sz.component"
  }

  /** Incremental component maintenance (the recrawl path): fold the
    * delta crawl's edges (docs with doc_id % 4 == 3) into the base
    * crawl's component assignment (the other docs) via
    * [[graft.cluster.ConnectedComponents.incremental]] — the fixpoint
    * runs only on the contracted delta graph, never re-reading base
    * edges, and is skipped when that graph is empty. With a derived root
    * set, both inputs are read from the snapshots [[ensureDerived]]
    * committed, so the query pays only the increment; without one, the
    * base assignment is computed from text inside the query. The oracle
    * recomputes components FROM SCRATCH over the full edge set, so the
    * hash match IS the proof that the O(delta) incremental path
    * reproduces the from-scratch answer on this corpus.
    */
  val kgCcIncremental: Q = (s, dir) => {
    val base = snapshotOr(s, dir, "derived_cc_base_assign")(ccBaseAssign(s, dir))
    val delta = snapshotOr(s, dir, "derived_cc_delta_edges")(crawlEdges(s, dir, delta = true))
    graft.cluster.ConnectedComponents.incremental(base, delta)
      .select(col("node").as("entity"), col("component"))
  }

  /** Same oracle as kg_components on purpose: base-split ∪ delta-split
    * triples = the full triple set, and the incremental result must be
    * row-identical to the from-scratch fixpoint over it.
    */
  val kgCcIncrementalSql: String = kgComponentsSql

  /** Centrality — 5-iteration integer PageRank over the collapsed edge
    * set (Analytics.pageRank). The oracle unrolls the identical
    * fixed-point update as generated CTEs r1..r5 — same integer-division
    * points, same d=0.85 micro-unit arithmetic, so the hash compare is
    * exact.
    */
  private val prIterations = 5

  val kgPageRank: Q = (s, dir) =>
    Analytics.pageRank(triples(s, dir), prIterations)

  val kgPageRankSql: String = {
    val base =
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
        "nodes AS (SELECT subject AS entity FROM ed UNION SELECT obj FROM ed), " +
        "od AS (SELECT subject, CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY subject), " +
        "r0 AS (SELECT entity, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)"
    val iters = (1 to prIterations).map { i =>
      s"c$i AS (SELECT ed.obj AS entity, CAST(sum(r.rank_micro // od.outdeg) AS BIGINT) AS contrib " +
        s"FROM ed JOIN r${i - 1} r ON r.entity = ed.subject JOIN od ON od.subject = ed.subject GROUP BY ed.obj), " +
        s"r$i AS (SELECT n.entity, CAST(150000 + (850 * coalesce(c.contrib, 0)) // 1000 AS BIGINT) AS rank_micro " +
        s"FROM nodes n LEFT JOIN c$i c ON c.entity = n.entity)"
    }.mkString(", ", ", ", " ")
    TokenRules.Sql.withTriples + base + iters +
      s"SELECT entity, rank_micro FROM r$prIterations"
  }

  /** Link prediction — common-neighbor/Jaccard scores for non-adjacent
    * pairs (Analytics.linkPredict); wedge-capped identically on both
    * sides. Runs over the 'd*' predicate family's typed subgraph: the
    * full synthetic KG is dense enough that every candidate pair is
    * already adjacent (0 rows — a vacuous gate), while within one
    * relation family real missing-edge candidates exist (38 rows at
    * sf0.01).
    */
  private val lpWedgeCap = 10000L

  val kgLinkPredict: Q = (s, dir) =>
    Analytics.linkPredict(
      triples(s, dir).where(col("predicate").startsWith("d")),
      lpWedgeCap
    )

  val kgLinkPredictSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE predicate LIKE 'd%'), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      s"nbc AS (SELECT nb.v, nb.u FROM nb JOIN deg ON deg.v = nb.u WHERE deg.d <= $lpWedgeCap), " +
      "pairs AS (SELECT n1.v AS a, n2.v AS b, CAST(count(*) AS BIGINT) AS common " +
      "FROM nbc n1 JOIN nbc n2 ON n1.u = n2.u AND n1.v < n2.v GROUP BY n1.v, n2.v) " +
      "SELECT a, b, common, CAST((1000 * common) // (da.d + db.d - common) AS BIGINT) AS jaccard_milli " +
      "FROM pairs JOIN deg da ON da.v = a JOIN deg db ON db.v = b " +
      "WHERE NOT EXISTS (SELECT 1 FROM nb WHERE nb.v = pairs.a AND nb.u = pairs.b)"

  /** Personalized PageRank — teleport mass restricted to seed entities
    * containing 'ar' (the kg_substring predicate), 5 iterations. The
    * oracle unrolls the same seeded fixed point; the seed flag enters
    * r0 and the per-iteration base term identically on both sides.
    */
  private val pprSeed = "ar"

  val kgPpr: Q = (s, dir) =>
    Analytics.personalizedPageRank(triples(s, dir), pprSeed, prIterations)

  val kgPprSql: String = {
    val base =
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
        "nodes AS (SELECT subject AS entity FROM ed UNION SELECT obj FROM ed), " +
        s"sn AS (SELECT entity, CASE WHEN lower(entity) LIKE '%$pprSeed%' THEN 1 ELSE 0 END AS s FROM nodes), " +
        "od AS (SELECT subject, CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY subject), " +
        "r0 AS (SELECT entity, CAST(1000000 * s AS BIGINT) AS rank_micro FROM sn)"
    val iters = (1 to prIterations).map { i =>
      s"c$i AS (SELECT ed.obj AS entity, CAST(sum(r.rank_micro // od.outdeg) AS BIGINT) AS contrib " +
        s"FROM ed JOIN r${i - 1} r ON r.entity = ed.subject JOIN od ON od.subject = ed.subject GROUP BY ed.obj), " +
        s"r$i AS (SELECT n.entity, CAST(150000 * n.s + (850 * coalesce(c.contrib, 0)) // 1000 AS BIGINT) AS rank_micro " +
        s"FROM sn n LEFT JOIN c$i c ON c.entity = n.entity)"
    }.mkString(", ", ", ", " ")
    TokenRules.Sql.withTriples + base + iters +
      s"SELECT entity, rank_micro FROM r$prIterations"
  }

  /** HITS hubs & authorities (Analytics.hits) — 5 iterations of the
    * integer mutual-reinforcement fixed point with L∞ normalization.
    * The oracle unrolls the identical rounds as MATERIALIZED CTEs (each
    * round's tables are referenced twice — same reason kgKcoreSql
    * materializes); the scalar max subqueries mirror the Spark side's
    * 1-row crossJoin, so the hash compare is exact integer arithmetic.
    */
  private val hitsIterations = 5

  val kgHits: Q = (s, dir) =>
    Analytics.hits(triples(s, dir), hitsIterations)

  val kgHitsSql: String = {
    val base =
      ", ed AS MATERIALIZED (SELECT DISTINCT subject, obj FROM tr), " +
        "nodes AS MATERIALIZED (SELECT subject AS entity FROM ed UNION SELECT obj FROM ed), " +
        "h0 AS (SELECT entity, CAST(1000000 AS BIGINT) AS s FROM nodes)"
    // HUGEINT multiply mirrors the Spark side's DECIMAL(38,0) widening
    // (raw can be 1e6 * max-degree; a BIGINT multiply by 1e6 overflows)
    def norm(out: String, raw: String) =
      s"$out AS MATERIALIZED (SELECT n.entity, CAST((CAST(coalesce(r.raw, 0) AS HUGEINT) * 1000000) " +
        s"// greatest(coalesce((SELECT max(raw) FROM $raw), 1), 1) AS BIGINT) AS s " +
        s"FROM nodes n LEFT JOIN $raw r ON r.entity = n.entity)"
    val iters = (1 to hitsIterations).map { i =>
      s"ar$i AS MATERIALIZED (SELECT ed.obj AS entity, CAST(sum(h.s) AS BIGINT) AS raw " +
        s"FROM ed JOIN h${i - 1} h ON h.entity = ed.subject GROUP BY ed.obj), " +
        norm(s"a$i", s"ar$i") + ", " +
        s"hr$i AS MATERIALIZED (SELECT ed.subject AS entity, CAST(sum(a.s) AS BIGINT) AS raw " +
        s"FROM ed JOIN a$i a ON a.entity = ed.obj GROUP BY ed.subject), " +
        norm(s"h$i", s"hr$i")
    }.mkString(", ", ", ", " ")
    TokenRules.Sql.withTriples + base + iters +
      s"SELECT a.entity, a.s AS auth_micro, h.s AS hub_micro " +
      s"FROM a$hitsIterations a JOIN h$hitsIterations h ON h.entity = a.entity"
  }

  /** Entity co-occurrence PMI lift (Analytics.coocLift) — pairs
    * co-mentioned in ≥ 2 documents, scored 1000·N·c_ab div (c_a·c_b).
    * Registered with the hub df-cap disabled: this corpus's synthetic
    * vocabulary is all-hub (24 entities, each in ~78% of docs), so any
    * meaningful cap empties the result; the capped guard path is
    * exercised by HitsCoocSpec's hub fixture.
    */
  private val coocMinSupport = 2L

  val kgCooc: Q = (s, dir) =>
    Analytics.coocLift(docs(s, dir), coocMinSupport, dfCapPermille = 1000)

  val kgCoocSql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), " +
      "m0 AS (SELECT DISTINCT doc_id, unnest(toks) AS entity FROM t), " +
      s"me AS (SELECT doc_id, entity FROM m0 WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), " +
      "df AS (SELECT entity, CAST(count(*) AS BIGINT) AS df FROM me GROUP BY entity), " +
      "kept AS (SELECT me.doc_id, me.entity, df.df FROM me JOIN df USING (entity) " +
      "WHERE 1000 * df.df <= 1000 * (SELECT n_docs FROM n)), " +
      "p AS (SELECT x.entity AS entity_a, y.entity AS entity_b, x.df AS df_a, y.df AS df_b, " +
      "CAST(count(*) AS BIGINT) AS pair_docs FROM kept x JOIN kept y " +
      "ON x.doc_id = y.doc_id AND x.entity < y.entity GROUP BY 1, 2, 3, 4) " +
      "SELECT entity_a, entity_b, pair_docs, " +
      "CAST((CAST((SELECT n_docs FROM n) AS HUGEINT) * 1000 * pair_docs) " +
      "// (CAST(df_a AS HUGEINT) * df_b) AS BIGINT) AS lift_milli " +
      s"FROM p WHERE pair_docs >= $coocMinSupport"

  /** Per-predicate schema profile (Analytics.predicateProfile) —
    * cardinalities + integer-milli fan-outs; the relation-quality audit
    * table. Triples are distinct by construction on both sides, so the
    * counts agree exactly.
    */
  val kgSchemaStats: Q = (s, dir) =>
    Analytics.predicateProfile(triples(s, dir))

  val kgSchemaStatsSql: String =
    TokenRules.Sql.withTriples +
      ", g AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_triples, " +
      "CAST(count(DISTINCT subject) AS BIGINT) AS n_subj, " +
      "CAST(count(DISTINCT obj) AS BIGINT) AS n_obj FROM tr GROUP BY predicate) " +
      "SELECT predicate, n_triples, n_subj, n_obj, " +
      "CAST((1000 * n_triples) // n_subj AS BIGINT) AS fanout_milli, " +
      "CAST((1000 * n_triples) // n_obj AS BIGINT) AS inv_fanout_milli FROM g"

  /** Functional-conflict rows (Analytics.functionalConflicts) —
    * (subject, predicate) bound to ≥ 2 distinct objects.
    */
  val kgConflicts: Q = (s, dir) =>
    Analytics.functionalConflicts(triples(s, dir))

  val kgConflictsSql: String =
    TokenRules.Sql.withTriples +
      "SELECT subject, predicate, CAST(count(DISTINCT obj) AS BIGINT) AS n_objs " +
      "FROM tr GROUP BY subject, predicate HAVING count(DISTINCT obj) >= 2"

  /** Predicate-composition rule support (Analytics.ruleSupport) — path
    * counts, distinct endpoint pairs and direct-edge closure per ordered
    * predicate pair: the rule-mining audit over extracted triples.
    * Registered with the mid-fanout cap disabled (all-hub synthetic
    * vocabulary, same disposition as kg_cooc's df cap); the capped
    * guard path is exercised by AnalyticsSpec's hub fixture.
    */
  val kgRuleSupport: Q = (s, dir) =>
    Analytics.ruleSupport(triples(s, dir))

  val kgRuleSupportSql: String =
    TokenRules.Sql.withTriples +
      ", paths AS (SELECT a.predicate AS p1, b.predicate AS p2, a.subject AS x, b.obj AS z " +
      "FROM tr a JOIN tr b ON a.obj = b.subject WHERE a.subject <> b.obj), " +
      "np AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_paths FROM paths GROUP BY 1, 2), " +
      "pairs AS (SELECT DISTINCT p1, p2, x, z FROM paths), " +
      "npr AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1, 2), " +
      "d AS (SELECT DISTINCT subject AS x, obj AS z FROM tr), " +
      "ncl AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_closed " +
      "FROM pairs JOIN d USING (x, z) GROUP BY 1, 2) " +
      "SELECT np.p1, np.p2, np.n_paths, npr.n_pairs, " +
      "CAST(COALESCE(ncl.n_closed, 0) AS BIGINT) AS n_closed, " +
      "CAST((CAST(COALESCE(ncl.n_closed, 0) AS HUGEINT) * 1000) // npr.n_pairs AS BIGINT) AS closure_permille " +
      "FROM np JOIN npr USING (p1, p2) LEFT JOIN ncl USING (p1, p2)"

  /** Structural same-as candidates (Analytics.sameAsCandidates) —
    * entity pairs sharing ≥ 2 (role, predicate, neighbor) graph
    * contexts: the co-reference channel string normalization and
    * MinHash cannot see. Registered with the shared-context cap
    * disabled (all-hub synthetic vocabulary, same disposition as
    * kg_cooc's df cap); the capped path is exercised by AnalyticsSpec.
    */
  val kgSameAs: Q = (s, dir) =>
    Analytics.sameAsCandidates(triples(s, dir))

  val kgSameAsSql: String =
    TokenRules.Sql.withTriples +
      ", ctx AS (SELECT 's' AS role, predicate, obj AS nb, subject AS e FROM tr " +
      "UNION ALL SELECT 'o', predicate, subject, obj FROM tr), " +
      "nc AS (SELECT e, CAST(count(*) AS BIGINT) AS n_ctx FROM ctx GROUP BY e), " +
      "sh AS (SELECT x.e AS a, y.e AS b, CAST(count(*) AS BIGINT) AS n_shared " +
      "FROM ctx x JOIN ctx y ON x.role = y.role AND x.predicate = y.predicate " +
      "AND x.nb = y.nb AND x.e < y.e GROUP BY 1, 2 HAVING count(*) >= 2) " +
      "SELECT sh.a, sh.b, sh.n_shared, na.n_ctx AS n_a, nbc.n_ctx AS n_b, " +
      "CAST((CAST(sh.n_shared AS HUGEINT) * 1000) // (na.n_ctx + nbc.n_ctx - sh.n_shared) AS BIGINT) AS jaccard_permille " +
      "FROM sh JOIN nc na ON sh.a = na.e JOIN nc nbc ON sh.b = nbc.e"

  /** Schema induction (Analytics.entityTypes) — entities bucketed into
    * inferred types by their sorted distinct role:predicate signature.
    */
  val kgEntityTypes: Q = (s, dir) =>
    Analytics.entityTypes(triples(s, dir))

  val kgEntityTypesSql: String =
    TokenRules.Sql.withTriples +
      ", rp AS (SELECT subject AS e, 's:' || predicate AS rp FROM tr " +
      "UNION SELECT obj, 'o:' || predicate FROM tr), " +
      "sg AS (SELECT e AS entity, md5(array_to_string(list_sort(list(rp)), ',')) AS type_sig, " +
      "CAST(count(*) AS BIGINT) AS sig_size FROM rp GROUP BY e), " +
      "tp AS (SELECT type_sig, CAST(count(*) AS BIGINT) AS n_type_entities FROM sg GROUP BY type_sig) " +
      "SELECT sg.entity, sg.type_sig, sg.sig_size, tp.n_type_entities FROM sg JOIN tp USING (type_sig)"

  /** Triple corroboration (Analytics.corroboration) — distinct document
    * and source support per valid triple; the promotion gate into the
    * canonical graph.
    */
  val kgCorroboration: Q = (s, dir) =>
    Analytics.corroboration(docs(s, dir))

  val kgCorroborationSql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), raw_cte AS (${TokenRules.Sql.rawTriplesCte}), " +
      s"v AS (SELECT DISTINCT doc_id, subject, predicate, obj FROM raw_cte " +
      s"WHERE length(subject) >= ${TokenRules.MinEntityLen} AND length(obj) >= ${TokenRules.MinEntityLen}), " +
      "j AS (SELECT v.subject, v.predicate, v.obj, v.doc_id, d.source FROM v JOIN documents d USING (doc_id)) " +
      "SELECT subject, predicate, obj, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
      "CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM j GROUP BY 1, 2, 3"

  /** Per-triple provenance (Analytics.provenance) — exact distinct-doc
    * support + the first 5 asserting doc_ids comma-joined; the lineage
    * column of a production canonical-triples table. The oracle takes
    * the naive sorted-list slice; the engine's two-level sharded min-K
    * reaches the identical ids with bounded aggregation buffers.
    */
  val kgProvenance: Q = (s, dir) => Analytics.provenance(docs(s, dir))

  val kgProvenanceSql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), raw_cte AS (${TokenRules.Sql.rawTriplesCte}), " +
      s"v AS (SELECT DISTINCT doc_id, subject, predicate, obj FROM raw_cte " +
      s"WHERE length(subject) >= ${TokenRules.MinEntityLen} AND length(obj) >= ${TokenRules.MinEntityLen}) " +
      "SELECT subject, predicate, obj, CAST(count(*) AS BIGINT) AS support, " +
      "array_to_string(list_transform(list_sort(list(doc_id))[1:5], x -> CAST(x AS VARCHAR)), ',') AS provenance " +
      "FROM v GROUP BY 1, 2, 3"

  /** Versioned triple history (Analytics.tripleHistory) — first/last
    * crawl version per triple over the deterministic doc_id mod 4
    * recrawl axis (the dedup_incremental split), plus survival into the
    * latest crawl; the temporal-KG maintenance table.
    */
  val kgTripleHistory: Q = (s, dir) => Analytics.tripleHistory(docs(s, dir))

  val kgTripleHistorySql: String =
    s"WITH toks_cte AS (${TokenRules.Sql.toksCte}), raw_cte AS (${TokenRules.Sql.rawTriplesCte}), " +
      s"v AS (SELECT DISTINCT subject, predicate, obj, doc_id % 4 AS ver FROM raw_cte " +
      s"WHERE length(subject) >= ${TokenRules.MinEntityLen} AND length(obj) >= ${TokenRules.MinEntityLen}) " +
      "SELECT subject, predicate, obj, CAST(min(ver) AS BIGINT) AS first_version, " +
      "CAST(max(ver) AS BIGINT) AS last_version, CAST(count(*) AS BIGINT) AS n_versions, " +
      "CAST(max(CASE WHEN ver = 3 THEN 1 ELSE 0 END) AS BIGINT) AS in_latest " +
      "FROM v GROUP BY 1, 2, 3"

  /** Cluster-stage LSH blocking recall (CandidatePairs.lshChannelRecall)
    * — of the entity pairs the shingle-Jaccard acceptance rule would
    * merge (4·|∩| ≥ 3·|∪| over 3-shingles of the norm, excluding pairs
    * norm-equality already catches), how many the banded-MinHash
    * channel surfaces. The C-stage analog of dedup_recall; vocabulary-
    * bounded, declared-cost eval.
    */
  val kgBlockingRecall: Q = (s, dir) =>
    graft.cluster.CandidatePairs.lshChannelRecall(
      entities(s, dir).select(col("entity")))

  val kgBlockingRecallSql: String = {
    val mh = (0 until 16)
      .map(i => s"list_min(list_transform(sh, t -> md5('$i:' || t)))")
      .mkString("[", ", ", "]")
    val bk = (0 until 8)
      .map(b => s"md5(mh[${2 * b + 1}] || '|' || mh[${2 * b + 2}])")
      .mkString("[", ", ", "]")
    s"WITH t AS (${TokenRules.Sql.toksCte}), m AS (SELECT unnest(toks) AS entity FROM t), " +
      s"ents AS (SELECT DISTINCT entity FROM m WHERE length(entity) >= ${TokenRules.MinEntityLen}), " +
      s"nrm AS (SELECT entity, ${normExpr("entity")} AS norm FROM ents), " +
      "shs AS (SELECT entity, norm, list_sort(list_distinct(CASE WHEN length(norm) <= 3 THEN [norm] " +
      "ELSE list_transform(range(1, length(norm) - 1), i -> substr(norm, i, 3)) END)) AS sh FROM nrm), " +
      s"sig AS (SELECT entity, norm, sh, $mh AS mh FROM shs), " +
      s"bnd AS (SELECT entity, norm, unnest($bk) AS bkk FROM sig), " +
      "gold AS (SELECT x.entity AS a, y.entity AS b FROM shs x JOIN shs y " +
      "ON x.entity < y.entity AND x.norm <> y.norm " +
      "AND 4 * len(list_intersect(x.sh, y.sh)) >= 3 * (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))), " +
      "lshp AS (SELECT DISTINCT x.entity AS a, y.entity AS b FROM bnd x JOIN bnd y " +
      "ON x.bkk = y.bkk AND x.entity < y.entity AND x.norm <> y.norm), " +
      "caught AS (SELECT a, b FROM gold INTERSECT SELECT a, b FROM lshp) " +
      "SELECT (SELECT CAST(count(*) AS BIGINT) FROM gold) AS n_gold, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM lshp) AS n_lsh, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM caught) AS n_caught, " +
      "CAST((1000 * (SELECT count(*) FROM caught)) // greatest((SELECT count(*) FROM gold), 1) AS BIGINT) AS recall_permille"
  }

  /** Entity-level crawl survival (Analytics.entityHistory) — the
    * entity-churn companion of kg_triple_history over the same
    * deterministic doc_id mod 4 recrawl axis.
    */
  val kgEntityHistory: Q = (s, dir) => Analytics.entityHistory(docs(s, dir))

  val kgEntityHistorySql: String =
    s"WITH t AS (${TokenRules.Sql.toksCte}), " +
      "m AS (SELECT doc_id, unnest(toks) AS entity FROM t), " +
      s"v AS (SELECT DISTINCT entity, doc_id % 4 AS ver FROM m " +
      s"WHERE length(entity) >= ${TokenRules.MinEntityLen}) " +
      "SELECT entity, CAST(min(ver) AS BIGINT) AS first_version, " +
      "CAST(max(ver) AS BIGINT) AS last_version, CAST(count(*) AS BIGINT) AS n_versions, " +
      "CAST(max(CASE WHEN ver = 3 THEN 1 ELSE 0 END) AS BIGINT) AS in_latest " +
      "FROM v GROUP BY 1"

  /** Predicate synonym candidates (Analytics.predicateSynonyms) —
    * predicate pairs sharing ≥ 2 identical endpoint pairs; the
    * relation-canonicalization cue string similarity cannot see.
    */
  val kgPredSynonyms: Q = (s, dir) =>
    Analytics.predicateSynonyms(triples(s, dir))

  val kgPredSynonymsSql: String =
    TokenRules.Sql.withTriples +
      ", sh AS (SELECT x.predicate AS p1, y.predicate AS p2, CAST(count(*) AS BIGINT) AS n_shared " +
      "FROM tr x JOIN tr y ON x.subject = y.subject AND x.obj = y.obj AND x.predicate < y.predicate " +
      "GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "n AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_edges FROM tr GROUP BY predicate) " +
      "SELECT sh.p1, sh.p2, sh.n_shared, a.n_edges AS n_p1, b.n_edges AS n_p2, " +
      "CAST((CAST(sh.n_shared AS HUGEINT) * 1000) // (a.n_edges + b.n_edges - sh.n_shared) AS BIGINT) AS jaccard_permille " +
      "FROM sh JOIN n a ON sh.p1 = a.predicate JOIN n b ON sh.p2 = b.predicate"

  /** Degree distribution (Analytics.degreeDistribution) — the power-law
    * diagnostic table skew strategy is sized from.
    */
  val kgDegreeDist: Q = (s, dir) =>
    Analytics.degreeDistribution(triples(s, dir))

  val kgDegreeDistSql: String =
    TokenRules.Sql.withTriples +
      ", ep AS (SELECT subject AS entity, 1 AS o, 0 AS i FROM tr UNION ALL SELECT obj, 0, 1 FROM tr), " +
      "dg AS (SELECT entity, CAST(sum(o + i) AS BIGINT) AS degree FROM ep GROUP BY entity) " +
      "SELECT degree, CAST(count(*) AS BIGINT) AS n_entities FROM dg GROUP BY degree"

  /** Per-predicate edge reciprocity (Analytics.reciprocity) — symmetric-
    * relation detection in integer permille.
    */
  val kgReciprocity: Q = (s, dir) =>
    Analytics.reciprocity(triples(s, dir))

  val kgReciprocitySql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT predicate, subject, obj FROM tr WHERE subject <> obj), " +
      "rc AS (SELECT e.predicate, CAST(count(*) AS BIGINT) AS n_recip FROM ed e " +
      "WHERE EXISTS (SELECT 1 FROM ed r WHERE r.predicate = e.predicate " +
      "AND r.subject = e.obj AND r.obj = e.subject) GROUP BY e.predicate), " +
      "tot AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_edges FROM ed GROUP BY predicate) " +
      "SELECT tot.predicate, tot.n_edges, CAST(coalesce(rc.n_recip, 0) AS BIGINT) AS n_recip, " +
      "CAST((1000 * coalesce(rc.n_recip, 0)) // tot.n_edges AS BIGINT) AS recip_permille " +
      "FROM tot LEFT JOIN rc ON rc.predicate = tot.predicate"

  /** Per-entity triangle counts (Analytics.triangleCounts) — the oracle
    * replays the identical degree-ordered orientation, wedge join and
    * closing-edge EXISTS, so each triangle is found exactly once.
    */
  val kgTriangles: Q = (s, dir) =>
    Analytics.triangleCounts(triples(s, dir))

  val kgTrianglesSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      "pe AS (SELECT nb.v, nb.u, da.d AS da, db.d AS db FROM nb " +
      "JOIN deg da ON da.v = nb.v JOIN deg db ON db.v = nb.u WHERE nb.v < nb.u), " +
      "o AS (SELECT CASE WHEN da < db OR (da = db AND v < u) THEN v ELSE u END AS src, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN u ELSE v END AS dst, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN db ELSE da END AS ddst FROM pe), " +
      "wg AS (SELECT x.src AS tu, x.dst AS tv, y.dst AS tw FROM o x JOIN o y " +
      "ON x.src = y.src AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))), " +
      "t AS (SELECT tu, tv, tw FROM wg WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.tv AND o.dst = wg.tw)), " +
      "x AS (SELECT unnest([tu, tv, tw]) AS entity FROM t), " +
      "uni AS (SELECT DISTINCT v AS entity FROM nb) " +
      "SELECT uni.entity, CAST(coalesce(c.cnt, 0) AS BIGINT) AS triangles FROM uni " +
      "LEFT JOIN (SELECT entity, count(*) AS cnt FROM x GROUP BY entity) c ON c.entity = uni.entity"

  /** Per-undirected-edge triangle support (Analytics.edgeSupport) — the
    * k-truss quantity and the per-edge corroboration rank; support-0
    * edges are the structurally unwitnessed extraction-error candidates.
    * The oracle replays the identical oriented triangle enumeration and
    * credits each triangle to its 3 lexicographically-normalized edges.
    */
  val kgEdgeSupport: Q = (s, dir) =>
    Analytics.edgeSupport(triples(s, dir))

  val kgEdgeSupportSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      "pe AS (SELECT nb.v, nb.u, da.d AS da, db.d AS db FROM nb " +
      "JOIN deg da ON da.v = nb.v JOIN deg db ON db.v = nb.u WHERE nb.v < nb.u), " +
      "o AS (SELECT CASE WHEN da < db OR (da = db AND v < u) THEN v ELSE u END AS src, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN u ELSE v END AS dst, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN db ELSE da END AS ddst FROM pe), " +
      "wg AS (SELECT x.src AS tu, x.dst AS tv, y.dst AS tw FROM o x JOIN o y " +
      "ON x.src = y.src AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))), " +
      "t AS (SELECT tu, tv, tw FROM wg WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.tv AND o.dst = wg.tw)), " +
      "cred AS (SELECT least(tu, tv) AS a, greatest(tu, tv) AS b FROM t " +
      "UNION ALL SELECT least(tu, tw), greatest(tu, tw) FROM t " +
      "UNION ALL SELECT least(tv, tw), greatest(tv, tw) FROM t), " +
      "sup AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM cred GROUP BY a, b), " +
      "e AS (SELECT v AS a, u AS b FROM nb WHERE v < u) " +
      "SELECT e.a, e.b, CAST(coalesce(sup.support, 0) AS BIGINT) AS support " +
      "FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b"

  /** Katz centrality (Analytics.katz) — 4 unrolled rounds of the
    * β-damped walk count in integer micro units (β = 0.01, small enough
    * that four rounds stay far inside BIGINT even through 10^4-indegree
    * hubs). The oracle unrolls identical rounds as CTEs, PPR-style.
    */
  private val katzIterations = 4
  private val katzBetaMilli = 10L

  val kgKatz: Q = (s, dir) =>
    Analytics.katz(triples(s, dir), katzIterations, katzBetaMilli)

  val kgKatzSql: String = {
    val base =
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
        "nodes AS (SELECT subject AS entity FROM ed UNION SELECT obj FROM ed), " +
        "r0 AS (SELECT entity, CAST(1000000 AS BIGINT) AS katz_micro FROM nodes)"
    val iters = (1 to katzIterations).map { i =>
      s"c$i AS (SELECT ed.obj AS entity, CAST(sum(r.katz_micro) AS BIGINT) AS contrib " +
        s"FROM ed JOIN r${i - 1} r ON r.entity = ed.subject GROUP BY ed.obj), " +
        s"r$i AS (SELECT n.entity, CAST(1000000 + ($katzBetaMilli * coalesce(c.contrib, 0)) // 1000 AS BIGINT) AS katz_micro " +
        s"FROM nodes n LEFT JOIN c$i c ON c.entity = n.entity)"
    }.mkString(", ", ", ", " ")
    TokenRules.Sql.withTriples + base + iters +
      s"SELECT entity, katz_micro FROM r$katzIterations"
  }

  /** Link-prediction holdout calibration (Analytics.lpHoldoutEval) —
    * remove the deterministic 1/16 md5 edge sample, histogram the
    * common neighbors each held-out edge keeps in the peeled graph;
    * the common=0 bucket is the recoverability ceiling for every
    * wedge-based predictor. Oracle replays the md5 draw and the capped
    * wedge join.
    */
  val kgLpHoldout: Q = (s, dir) =>
    Analytics.lpHoldoutEval(triples(s, dir), lpWedgeCap)

  val kgLpHoldoutSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
      "nb0 AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "und AS (SELECT v AS a, u AS b FROM nb0 WHERE v < u), " +
      "held AS (SELECT a, b FROM und WHERE substr(md5(a || '|' || b), 1, 1) = '0'), " +
      "rest AS (SELECT a, b FROM und WHERE NOT EXISTS (SELECT 1 FROM held h WHERE h.a = und.a AND h.b = und.b)), " +
      "nb AS (SELECT a AS v, b AS u FROM rest UNION ALL SELECT b, a FROM rest), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      s"nbc AS (SELECT nb.v, nb.u FROM nb JOIN deg ON deg.v = nb.u WHERE deg.d <= $lpWedgeCap), " +
      "cm AS (SELECT h.a, h.b, CAST(count(*) AS BIGINT) AS common FROM held h " +
      "JOIN nbc x ON x.v = h.a JOIN nbc y ON y.v = h.b AND y.u = x.u GROUP BY h.a, h.b) " +
      "SELECT CAST(coalesce(cm.common, 0) AS BIGINT) AS common, CAST(count(*) AS BIGINT) AS n_pairs " +
      "FROM held LEFT JOIN cm ON cm.a = held.a AND cm.b = held.b GROUP BY 1"

  /** Resource-allocation link prediction (Analytics.resourceAllocation)
    * on the same 'd%'-predicate subgraph as kg_link_predict — RA
    * down-weights hub centers (Σ 1/deg(u) in integer micro units), the
    * skew-correct prior for KG completion candidates. Oracle replays
    * the capped wedge join with the identical integer division.
    */
  val kgResourceAlloc: Q = (s, dir) =>
    Analytics.resourceAllocation(
      triples(s, dir).where(col("predicate").startsWith("d")),
      lpWedgeCap
    )

  val kgResourceAllocSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE predicate LIKE 'd%'), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      s"nbc AS (SELECT nb.v, nb.u, deg.d AS du FROM nb JOIN deg ON deg.v = nb.u WHERE deg.d <= $lpWedgeCap), " +
      "pairs AS (SELECT n1.v AS a, n2.v AS b, CAST(count(*) AS BIGINT) AS common, " +
      "CAST(sum(1000000 // n1.du) AS BIGINT) AS ra_micro " +
      "FROM nbc n1 JOIN nbc n2 ON n1.u = n2.u AND n1.v < n2.v GROUP BY n1.v, n2.v) " +
      "SELECT a, b, common, ra_micro FROM pairs " +
      "WHERE NOT EXISTS (SELECT 1 FROM nb WHERE nb.v = pairs.a AND nb.u = pairs.b)"

  /** Rich-club profile (Analytics.richClub): density of the subgraph
    * induced by nodes of degree > k per threshold — do the hubs
    * interlink (organic topic structure) or only fan out to leaves
    * (spam stars)? Oracle replays the threshold explode and the
    * HUGEINT-widened permille density.
    */
  val kgRichClub: Q = (s, dir) =>
    Analytics.richClub(triples(s, dir))

  val kgRichClubSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      "ks AS (SELECT CAST(unnest([2, 4, 8, 16, 32]) AS BIGINT) AS k), " +
      "nodes AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_nodes FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k), " +
      "e AS (SELECT nb.v, nb.u, da.d AS da, db.d AS db FROM nb " +
      "JOIN deg da ON da.v = nb.v JOIN deg db ON db.v = nb.u WHERE nb.v < nb.u), " +
      "edges AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_edges FROM ks JOIN e ON e.da > ks.k AND e.db > ks.k GROUP BY ks.k) " +
      "SELECT ks.k, CAST(coalesce(n.n_nodes, 0) AS BIGINT) AS n_nodes, " +
      "CAST(coalesce(eg.n_edges, 0) AS BIGINT) AS n_edges, " +
      "CAST(CASE WHEN coalesce(n.n_nodes, 0) < 2 THEN 0 ELSE " +
      "(2000::HUGEINT * coalesce(eg.n_edges, 0)) // (n.n_nodes::HUGEINT * (n.n_nodes - 1)) END AS BIGINT) AS phi_permille " +
      "FROM ks LEFT JOIN nodes n ON n.k = ks.k LEFT JOIN edges eg ON eg.k = ks.k"

  /** Per-entity local clustering coefficient in integer permille
    * (Analytics.clusteringCoefficient) — neighborhood closure next to
    * the raw triangle count. The oracle replays the identical
    * degree-ordered triangle orientation plus the HUGEINT-widened
    * permille division.
    */
  val kgClustering: Q = (s, dir) =>
    Analytics.clusteringCoefficient(triples(s, dir))

  val kgClusteringSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr), " +
      "nb AS (SELECT subject AS v, obj AS u FROM ed WHERE subject <> obj " +
      "UNION SELECT obj, subject FROM ed WHERE subject <> obj), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY v), " +
      "pe AS (SELECT nb.v, nb.u, da.d AS da, db.d AS db FROM nb " +
      "JOIN deg da ON da.v = nb.v JOIN deg db ON db.v = nb.u WHERE nb.v < nb.u), " +
      "o AS (SELECT CASE WHEN da < db OR (da = db AND v < u) THEN v ELSE u END AS src, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN u ELSE v END AS dst, " +
      "CASE WHEN da < db OR (da = db AND v < u) THEN db ELSE da END AS ddst FROM pe), " +
      "wg AS (SELECT x.src AS tu, x.dst AS tv, y.dst AS tw FROM o x JOIN o y " +
      "ON x.src = y.src AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))), " +
      "t AS (SELECT tu, tv, tw FROM wg WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wg.tv AND o.dst = wg.tw)), " +
      "x AS (SELECT unnest([tu, tv, tw]) AS entity FROM t), " +
      "uni AS (SELECT DISTINCT v AS entity FROM nb), " +
      "tc AS (SELECT uni.entity, CAST(coalesce(c.cnt, 0) AS BIGINT) AS triangles FROM uni " +
      "LEFT JOIN (SELECT entity, count(*) AS cnt FROM x GROUP BY entity) c ON c.entity = uni.entity) " +
      "SELECT tc.entity, deg.d AS degree, tc.triangles, " +
      "CAST(CASE WHEN deg.d >= 2 THEN (CAST(tc.triangles AS HUGEINT) * 2000) " +
      "// (CAST(deg.d AS HUGEINT) * (deg.d - 1)) ELSE 0 END AS BIGINT) AS lcc_permille " +
      "FROM tc JOIN deg ON deg.v = tc.entity"

  /** Global transitivity scalar (Analytics.transitivity): 3·triangles
    * div wedges in permille over the same oriented-wedge triangle CTEs
    * as kg_clustering; the oracle counts distinct triangle rows where
    * Spark sums per-corner credits div 3 — identical by construction.
    */
  val kgTransitivity: Q = (s, dir) =>
    Analytics.transitivity(triples(s, dir))

  val kgTransitivitySql: String = {
    val cut = kgClusteringSql.indexOf(", x AS (SELECT unnest")
    kgClusteringSql.substring(0, cut) +
      ", ts AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM t), " +
      "ws AS (SELECT CAST(coalesce(sum(CAST(d AS HUGEINT) * (d - 1)), 0) // 2 AS HUGEINT) AS w FROM deg) " +
      "SELECT ts.n_triangles, CAST(ws.w AS BIGINT) AS n_wedges, " +
      "CAST(CASE WHEN ws.w = 0 THEN 0 ELSE (CAST(ts.n_triangles AS HUGEINT) * 3000) // ws.w END AS BIGINT) AS transitivity_permille " +
      "FROM ts CROSS JOIN ws"
  }

  /** Bounded-depth transitive closure over the corpus's most frequent
    * predicate (Analytics.transitiveClosure) — the hierarchy-closure
    * primitive. Oracle unrolls the frontier expansion with min-hops
    * grouping per round, mirroring level-order BFS exactly.
    */
  val kgTransitive: Q = (s, dir) =>
    Analytics.transitiveClosure(triples(s, dir), maxHops = 4)

  val kgTransitiveSql: String = {
    val maxHops = 4
    val base = TokenRules.Sql.withTriples +
      ", pr AS (SELECT predicate FROM tr GROUP BY predicate ORDER BY count(*) DESC, predicate LIMIT 1), " +
      "e AS MATERIALIZED (SELECT DISTINCT subject AS src, obj AS dst FROM tr " +
      "WHERE subject <> obj AND predicate = (SELECT predicate FROM pr)), " +
      "r1 AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM e)"
    val steps = (2 to maxHops).map { i =>
      s"r$i AS MATERIALIZED (SELECT src, dst, CAST(min(hops) AS BIGINT) AS hops FROM (" +
        s"SELECT src, dst, hops FROM r${i - 1} UNION ALL " +
        s"SELECT r.src, e.dst, r.hops + 1 AS hops FROM r${i - 1} r JOIN e ON e.src = r.dst " +
        "WHERE r.src <> e.dst) GROUP BY src, dst)"
    }.mkString(", ", ", ", " ")
    base + steps + s"SELECT src, dst, hops FROM r$maxHops"
  }

  /** Joint log2-degree mixing matrix over the distinct directed edge set
    * (Analytics.degreeMixing) — the bounded table degree assortativity
    * is computed from exactly, instead of webgraph-unsafe moment sums.
    */
  val kgDegreeMixing: Q = (s, dir) =>
    Analytics.degreeMixing(triples(s, dir))

  val kgDegreeMixingSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "od AS (SELECT subject AS v, count(*) AS dout FROM ed GROUP BY subject), " +
      "idg AS (SELECT obj AS v, count(*) AS din FROM ed GROUP BY obj) " +
      "SELECT CAST(length(bin(od.dout)) - 1 AS BIGINT) AS out_bucket, " +
      "CAST(length(bin(idg.din)) - 1 AS BIGINT) AS in_bucket, " +
      "CAST(count(*) AS BIGINT) AS n_edges " +
      "FROM ed JOIN od ON od.v = ed.subject JOIN idg ON idg.v = ed.obj " +
      "GROUP BY 1, 2"

  /** Directed 3-node motif census (Analytics.motifCensus): reciprocal
    * dyads, feed-forward loops and 3-cycles, each counted once.
    */
  val kgMotifs: Q = (s, dir) =>
    Analytics.motifCensus(triples(s, dir))

  val kgMotifsSql: String =
    TokenRules.Sql.withTriples +
      ", ed AS MATERIALIZED (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "recip AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ed x WHERE x.subject < x.obj " +
      "AND EXISTS (SELECT 1 FROM ed y WHERE y.subject = x.obj AND y.obj = x.subject)), " +
      "w AS MATERIALIZED (SELECT e1.subject AS a, e1.obj AS b, e2.obj AS c " +
      "FROM ed e1 JOIN ed e2 ON e1.obj = e2.subject WHERE e1.subject <> e2.obj), " +
      "ffl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w " +
      "WHERE EXISTS (SELECT 1 FROM ed z WHERE z.subject = w.a AND z.obj = w.c)), " +
      "cyc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w WHERE a < b AND a < c " +
      "AND EXISTS (SELECT 1 FROM ed z WHERE z.subject = w.c AND z.obj = w.a)) " +
      "SELECT 'recip' AS motif, n FROM recip " +
      "UNION ALL SELECT 'ffl' AS motif, n FROM ffl " +
      "UNION ALL SELECT 'cycle' AS motif, n FROM cyc"

  val kgKcore: Q = (s, dir) =>
    Analytics.kCore(triples(s, dir), k = 3)

  /** The oracle unrolls the peel loop a fixed number of rounds; once
    * the fixpoint is reached every further round is a no-op, so the
    * unroll depth only needs to be ≥ the true peeling depth at the
    * driver's scale (verified locally at sf0.001 and sf0.01 with wide
    * margin — peeling on this graph converges in ≤ 3 rounds).
    */
  val kgKcoreSql: String = {
    val rounds = 10
    // each round references the previous one several times — MATERIALIZED
    // keeps DuckDB's CTE inlining linear instead of exponential
    val base = TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "e0 AS MATERIALIZED (SELECT subject AS v, obj AS u FROM ed UNION SELECT obj, subject FROM ed)"
    val peels = (0 until rounds).map { i =>
      s"b$i AS MATERIALIZED (SELECT v FROM (SELECT v, count(*) AS c FROM e$i GROUP BY v) WHERE c < 3), " +
        s"e${i + 1} AS MATERIALIZED (SELECT * FROM e$i WHERE v NOT IN (SELECT v FROM b$i) AND u NOT IN (SELECT v FROM b$i))"
    }.mkString(", ", ", ", " ")
    base + peels +
      s"SELECT v AS entity, CAST(count(*) AS BIGINT) AS core_degree FROM e$rounds GROUP BY v"
  }

  val kgHarmonic: Q = (s, dir) =>
    Analytics.harmonicCentrality(triples(s, dir), nSeeds = 8)

  /** Unrolled multi-source BFS: r{i+1} keeps the min distance over
    * r{i} plus one expansion step; rounds past the seeds' eccentricity
    * are no-ops, so the fixed unroll only needs to exceed it (≤ 4 at
    * both verify scales; 8 unrolled). MATERIALIZED for the same
    * anti-exponential-inlining reason as kg_kcore.
    */
  val kgHarmonicSql: String = {
    val rounds = 8
    val base = TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "nbq AS MATERIALIZED (SELECT subject AS v, obj AS u FROM ed UNION SELECT obj, subject FROM ed), " +
      "sd AS MATERIALIZED (SELECT v AS seed FROM (SELECT DISTINCT v FROM nbq) ORDER BY md5(v), v LIMIT 8), " +
      "r0 AS MATERIALIZED (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM sd)"
    val steps = (0 until rounds).map { i =>
      s"r${i + 1} AS MATERIALIZED (SELECT seed, node, CAST(min(dist) AS BIGINT) AS dist FROM (" +
        s"SELECT seed, node, dist FROM r$i UNION ALL " +
        s"SELECT r.seed, g.u AS node, r.dist + 1 AS dist FROM r$i r JOIN nbq g ON g.v = r.node" +
        ") GROUP BY seed, node)"
    }.mkString(", ", ", ", " ")
    base + steps +
      s"SELECT node AS entity, CAST(count(*) AS BIGINT) AS n_reached, " +
      s"CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro FROM r$rounds WHERE dist >= 1 GROUP BY node"
  }

  /** Seed eccentricity profile (Analytics.seedEccentricity): per-seed
    * max finite distance, reach count and distance mass over the same
    * 8-seed BFS as kg_harmonic — the oracle reuses the unrolled BFS
    * rounds with a per-seed fold.
    */
  val kgEcc: Q = (s, dir) =>
    Analytics.seedEccentricity(triples(s, dir), nSeeds = 8)

  val kgEccSql: String = {
    val cut = kgHarmonicSql.indexOf("SELECT node AS entity")
    kgHarmonicSql.substring(0, cut) +
      "SELECT seed, CAST(max(dist) AS BIGINT) AS ecc, " +
      "CAST(count(*) AS BIGINT) AS n_reached, CAST(sum(dist) AS BIGINT) AS sum_dist " +
      "FROM r8 WHERE dist >= 1 GROUP BY seed"
  }

  /** Single-source shortest-path distances (Analytics.bfsDistances with
    * one seed): (entity, dist) for every node within 8 undirected hops
    * of the deterministic (md5, value)-first seed — the frontier-BFS
    * primitive harmonic centrality aggregates over, exposed as its own
    * retrieval-depth operator.
    */
  val kgSssp: Q = (s, dir) =>
    Analytics.bfsDistances(triples(s, dir), nSeeds = 1, maxRounds = 8)
      .select(col("node").as("entity"), col("dist"))

  val kgSsspSql: String = {
    val rounds = 8
    val base = TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "nbq AS MATERIALIZED (SELECT subject AS v, obj AS u FROM ed UNION SELECT obj, subject FROM ed), " +
      "sd AS MATERIALIZED (SELECT v AS seed FROM (SELECT DISTINCT v FROM nbq) ORDER BY md5(v), v LIMIT 1), " +
      "r0 AS MATERIALIZED (SELECT seed AS node, CAST(0 AS BIGINT) AS dist FROM sd)"
    val steps = (0 until rounds).map { i =>
      s"r${i + 1} AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (" +
        s"SELECT node, dist FROM r$i UNION ALL " +
        s"SELECT g.u AS node, r.dist + 1 AS dist FROM r$i r JOIN nbq g ON g.v = r.node" +
        ") GROUP BY node)"
    }.mkString(", ", ", ", " ")
    base + steps + s"SELECT node AS entity, dist FROM r$rounds"
  }

  /** Sampled neighborhood function (Analytics.reachCurve): per-seed
    * per-distance shell sizes + cumulative reach over the same 8-seed
    * BFS as kg_harmonic; the oracle reuses the unrolled rounds.
    */
  val kgReachCurve: Q = (s, dir) =>
    Analytics.reachCurve(triples(s, dir), nSeeds = 8)

  val kgReachCurveSql: String = {
    val cut = kgHarmonicSql.indexOf("SELECT node AS entity")
    kgHarmonicSql.substring(0, cut) +
      ", sh AS (SELECT seed, dist, CAST(count(*) AS BIGINT) AS n_at FROM r8 WHERE dist >= 1 GROUP BY 1, 2) " +
      "SELECT seed, dist, n_at, CAST(sum(n_at) OVER " +
      "(PARTITION BY seed ORDER BY dist ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_reached_cum " +
      "FROM sh"
  }

  /** Sampled bounded-depth Brandes betweenness (Analytics.betweenness):
    * forward shell-synchronous path counting then backward dependency
    * accumulation with the declared per-edge integer rule
    * σv·(1000+δw) div σw — the oracle replays the identical shells,
    * HUGEINT-widened where Spark widens to DECIMAL(38,0).
    */
  val kgBetweenness: Q = (s, dir) =>
    Analytics.betweenness(triples(s, dir), nSeeds = 8, rounds = 8)

  val kgBetweennessSql: String = {
    val rounds = 8
    val cut = kgHarmonicSql.indexOf("SELECT node AS entity")
    val base = kgHarmonicSql.substring(0, cut)
    val sg0 = s", sg0 AS MATERIALIZED (SELECT seed, node, CAST(1 AS HUGEINT) AS sigma FROM r$rounds WHERE dist = 0)"
    val sgs = (1 to rounds).map { k =>
      s"sg$k AS MATERIALIZED (SELECT t.seed, t.node, CAST(sum(t.sigma) AS HUGEINT) AS sigma FROM " +
        s"(SELECT r.seed, g.u AS node, r.sigma FROM sg${k - 1} r JOIN nbq g ON g.v = r.node) t " +
        s"JOIN r$rounds dt ON dt.seed = t.seed AND dt.node = t.node AND dt.dist = $k " +
        "GROUP BY t.seed, t.node)"
    }.mkString(", ", ", ", "")
    val dlTop = s", dl$rounds AS (SELECT seed, node, CAST(0 AS HUGEINT) AS delta FROM sg$rounds)"
    val dls = ((rounds - 1) to 1 by -1).map { k =>
      s"dl$k AS MATERIALIZED (SELECT s.seed, s.node, " +
        s"CAST(sum((s.sigma * (1000 + coalesce(d.delta, 0))) // w.sigma) AS HUGEINT) AS delta " +
        s"FROM sg$k s JOIN nbq g ON g.v = s.node " +
        s"JOIN sg${k + 1} w ON w.seed = s.seed AND w.node = g.u " +
        s"LEFT JOIN dl${k + 1} d ON d.seed = s.seed AND d.node = g.u " +
        "GROUP BY s.seed, s.node)"
    }.mkString(", ", ", ", "")
    val alld = ((rounds - 1) to 1 by -1).map(k => s"SELECT * FROM dl$k").mkString(" UNION ALL ")
    base + sg0 + sgs + dlTop + dls +
      s", alld AS ($alld), bc AS (SELECT node, sum(delta) AS b FROM alld GROUP BY node) " +
      s"SELECT n.node AS entity, CAST(coalesce(bc.b, 0) AS BIGINT) AS bc_milli " +
      s"FROM (SELECT DISTINCT node FROM r$rounds WHERE dist >= 1) n " +
      "LEFT JOIN bc ON bc.node = n.node"
  }

  /** Deterministic random-walk corpus (Analytics.randomWalks), 4 steps
    * from every non-isolated node. The oracle unrolls the identical
    * md5-indexed neighbor choice per step, so walks are bit-identical.
    */
  private val rwSteps = 4

  val kgWalks: Q = (s, dir) =>
    Analytics.randomWalks(triples(s, dir), rwSteps)

  /** CTE chain ending in `walks(start, node, step)` — shared by the walk
    * dump and the skip-gram co-occurrence oracle.
    */
  private val walkCtes: String = {
    def hx(t: Int) = s"md5(w.start || '|' || '$t' || '|' || w.node)"
    val base =
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
        "nb AS (SELECT subject AS v, obj AS u FROM ed UNION SELECT obj, subject FROM ed), " +
        "al AS (SELECT v, list_sort(list(u)) AS us FROM nb GROUP BY v), " +
        "w0 AS (SELECT v AS start, v AS node, CAST(0 AS BIGINT) AS step FROM al)"
    val stepsSql = (1 to rwSteps).map { t =>
      s"w$t AS (SELECT w.start, al.us[((ascii(substr(${hx(t)}, 1, 1)) * 65536 + " +
        s"ascii(substr(${hx(t)}, 2, 1)) * 256 + ascii(substr(${hx(t)}, 3, 1))) % len(al.us)) + 1] AS node, " +
        s"CAST($t AS BIGINT) AS step FROM w${t - 1} w JOIN al ON al.v = w.node)"
    }.mkString(", ", ", ", ", ")
    base + stepsSql +
      "walks AS (" + (0 to rwSteps).map(t => s"SELECT * FROM w$t").mkString(" UNION ALL ") + ")"
  }

  val kgWalksSql: String =
    TokenRules.Sql.withTriples + walkCtes + " SELECT start, node, step FROM walks"

  /** Skip-gram co-occurrence counts over the walk corpus
    * (Analytics.walkCooccurrence, window 2) — the word2vec-style
    * (center, context) training table; identical self-join in the oracle.
    */
  private val rwWindow = 2

  val kgWalkCooc: Q = (s, dir) =>
    Analytics.walkCooccurrence(triples(s, dir), rwSteps, rwWindow)

  val kgWalkCoocSql: String =
    TokenRules.Sql.withTriples + walkCtes +
      " SELECT a.node AS node, b.node AS context, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM walks a JOIN walks b ON a.start = b.start AND b.step <> a.step " +
      s"AND abs(b.step - a.step) <= $rwWindow GROUP BY a.node, b.node"

  /** PPMI cells of the walk co-occurrence matrix
    * (Analytics.walkPpmi) — the matrix DeepWalk implicitly factorizes;
    * exact integer ratio permille, positive-PMI cells only.
    */
  val kgPpmi: Q = (s, dir) =>
    Analytics.walkPpmi(triples(s, dir), rwSteps, rwWindow)

  val kgPpmiSql: String =
    TokenRules.Sql.withTriples + walkCtes +
      ", cooc AS (SELECT a.node AS node, b.node AS context, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM walks a JOIN walks b ON a.start = b.start AND b.step <> a.step " +
      s"AND abs(b.step - a.step) <= $rwWindow GROUP BY a.node, b.node), " +
      "tot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS total FROM cooc), " +
      "ns AS (SELECT node, CAST(sum(cnt) AS HUGEINT) AS node_cnt FROM cooc GROUP BY node), " +
      "cs AS (SELECT context, CAST(sum(cnt) AS HUGEINT) AS ctx_cnt FROM cooc GROUP BY context) " +
      "SELECT * FROM (SELECT c.node, c.context, c.cnt, " +
      "CAST((CAST(c.cnt AS HUGEINT) * t.total * 1000) // (ns.node_cnt * cs.ctx_cnt) AS BIGINT) AS pmi_ratio_permille " +
      "FROM cooc c JOIN ns ON ns.node = c.node JOIN cs ON cs.context = c.context CROSS JOIN tot t) " +
      "WHERE pmi_ratio_permille > 1000"

  /** SPARQL-style query surface over the KG via the generic BGP
    * evaluator (Analytics.bgpMatch): distinct bindings of the
    * constant-anchored triangle (?a scan ?b)(?b small ?c)(?a ?r ?c) —
    * "which predicates r close a scan∘small composition", aggregated to
    * (r, n_bindings). The constants are the selectivity anchor the
    * evaluator pushes into the scans (an all-variable-predicate triangle
    * on a dense multigraph is a deliberate non-query: its binding table
    * is |P|³-fold the entity triangles — 86M rows on even the sf0.001
    * fixture). The generic machinery (constants, repeated variables,
    * disconnection guard, join-order left to Catalyst) is spec-tested
    * separately on fixtures.
    */
  val kgBgp: Q = (s, dir) =>
    Analytics
      .bgpMatch(
        triples(s, dir),
        Seq(("?a", "scan", "?b"), ("?b", "small", "?c"), ("?a", "?r", "?c"))
      )
      .groupBy("r")
      .agg(count(lit(1)).as("n_bindings"))

  val kgBgpSql: String =
    TokenRules.Sql.withTriples +
      ", b AS (SELECT DISTINCT t1.subject AS a, t1.obj AS b, t2.obj AS c, t3.predicate AS r " +
      "FROM tr t1 JOIN tr t2 ON t2.subject = t1.obj AND t2.predicate = 'small' " +
      "JOIN tr t3 ON t3.subject = t1.subject AND t3.obj = t2.obj " +
      "WHERE t1.predicate = 'scan') " +
      "SELECT r, CAST(count(*) AS BIGINT) AS n_bindings FROM b GROUP BY r"

  // ---------------------------------------------------------------
  // Ingest operators (SURVEY §2.1/§2.2): conversation flatten
  // ---------------------------------------------------------------

  /** S1/T1 — table-scale conversation ingest
    * (graft.sources.Conversations): a messages table flattened per
    * conversation (src/kg_gen/kg_gen.py:176-195 does one conversation per
    * call; here every conversation flattens in one groupBy). The driver
    * testdata has no messages table, so both engines derive the identical
    * deterministic messages view from `documents` (role/seq/content are
    * pure functions of doc_id and text) — the operator under test is the
    * role-filter + ordered flatten, fed from the sf dir.
    */
  private val msgRoleCase =
    "CASE WHEN doc_id % 7 = 3 THEN 'system' WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END"

  /** Context-window packing manifest (Conversations.packWindows) over
    * the same synthesized messages table — concat-and-cut at 160
    * rendered chars; the oracle replays the running-sum window and the
    * same integer window-id rule.
    */
  val convPack: Q = (s, dir) => {
    val msgs = docs(s, dir).select(
      (col("doc_id") % 50).as("conversation_id"),
      col("doc_id").as("seq"),
      expr(msgRoleCase).as("role"),
      substring(col("text"), 1, 40).as("content")
    )
    graft.sources.Conversations.packWindows(msgs, capChars = 160)
  }

  val convPackSql: String =
    s"WITH msgs AS (SELECT doc_id % 50 AS conversation_id, doc_id AS seq, $msgRoleCase AS role, " +
      "substr(text, 1, 40) AS content FROM documents), " +
      "k AS (SELECT conversation_id, seq, CAST(length(role) + length(content) + 3 AS BIGINT) AS len " +
      "FROM msgs WHERE role IN ('user', 'assistant')), " +
      "c AS (SELECT conversation_id, seq, len, CAST(coalesce(sum(len) OVER (PARTITION BY conversation_id " +
      "ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM k) " +
      "SELECT conversation_id, CAST(cum_before // 160 AS BIGINT) AS win, CAST(count(*) AS BIGINT) AS n_turns, " +
      "CAST(sum(len) AS BIGINT) AS n_chars, CAST(min(seq) AS BIGINT) AS first_seq, CAST(max(seq) AS BIGINT) AS last_seq " +
      "FROM c GROUP BY 1, 2"

  val convFlatten: Q = (s, dir) => {
    val msgs = docs(s, dir).select(
      (col("doc_id") % 50).as("conversation_id"),
      col("doc_id").as("seq"),
      expr(msgRoleCase).as("role"),
      substring(col("text"), 1, 40).as("content")
    )
    graft.sources.Conversations.flatten(msgs)
  }

  val convFlattenSql: String =
    s"WITH msgs AS (SELECT doc_id % 50 AS conversation_id, doc_id AS seq, $msgRoleCase AS role, " +
      "substr(text, 1, 40) AS content FROM documents) " +
      "SELECT conversation_id, string_agg(role || ': ' || content, chr(10) ORDER BY seq) AS flattened " +
      "FROM msgs WHERE role IN ('user', 'assistant') GROUP BY conversation_id"

  /** Per-conversation turn-structure stats (Conversations.stats) over
    * the same synthesized messages table as conv_flatten; the oracle
    * replays the identical kept-role filter, lag() window and counts.
    */
  val convStats: Q = (s, dir) => {
    val msgs = docs(s, dir).select(
      (col("doc_id") % 50).as("conversation_id"),
      col("doc_id").as("seq"),
      expr(msgRoleCase).as("role"),
      substring(col("text"), 1, 40).as("content")
    )
    graft.sources.Conversations.stats(msgs)
  }

  val convStatsSql: String =
    s"WITH msgs AS (SELECT doc_id % 50 AS conversation_id, doc_id AS seq, $msgRoleCase AS role, " +
      "substr(text, 1, 40) AS content FROM documents), " +
      "f AS (SELECT *, lag(role) OVER (PARTITION BY conversation_id ORDER BY seq) AS prev_role " +
      "FROM msgs WHERE role IN ('user', 'assistant')) " +
      "SELECT conversation_id, CAST(count(*) AS BIGINT) AS n_messages, " +
      "CAST(count(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS n_user, " +
      "CAST(count(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT) AS n_assistant, " +
      "CAST(sum(length(content)) AS BIGINT) AS content_chars, " +
      "CAST(count(CASE WHEN prev_role IS NOT NULL AND role <> prev_role THEN 1 END) AS BIGINT) AS n_switches " +
      "FROM f GROUP BY conversation_id"

  // ---------------------------------------------------------------
  // Events: the streaming transform applied as a batch frame (the same
  // windowedStats body runs under readStream — StreamingSpec asserts
  // batch/stream parity), plus per-user aggregates.
  // ---------------------------------------------------------------

  /** Schema-on-read JSON props parsing (EventsStream.propsStats):
    * integer field k via JSON path, exact per-type stats. The oracle
    * extracts the same path with DuckDB's json_extract_string.
    */
  val eventsProps: Q = (s, dir) =>
    graft.streaming.EventsStream.propsStats(s.read.parquet(s"$dir/events.parquet"))

  val eventsPropsSql: String =
    "WITH k AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS sum_k, " +
      "CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k, " +
      "(1000 * CAST(sum(k) AS BIGINT)) // count(*) AS avg_k_milli " +
      "FROM k WHERE k IS NOT NULL GROUP BY event_type"

  /** Per-type value stats with exact integer variance
    * (EventsStream.valueStats).
    */
  val eventsValueStats: Q = (s, dir) =>
    graft.streaming.EventsStream.valueStats(s.read.parquet(s"$dir/events.parquet"))

  val eventsValueStatsSql: String =
    "WITH v AS (SELECT event_type, CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v FROM events), " +
      "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sum_centi, " +
      "CAST(min(v) AS BIGINT) AS min_centi, CAST(max(v) AS BIGINT) AS max_centi, " +
      "CAST(sum(v * v) AS BIGINT) AS ss FROM v GROUP BY 1) " +
      "SELECT event_type, n, sum_centi, min_centi, max_centi, " +
      "CAST(CASE WHEN n > 1 THEN (n * ss - sum_centi * sum_centi) // (n * (n - 1)) ELSE 0 END AS BIGINT) AS var_centi2 FROM a"

  /** Sliding-window stats (EventsStream.slidingStats): 2-minute windows
    * every minute; the oracle enumerates the two epoch-aligned starts
    * each event belongs to.
    */
  val eventsSliding: Q = (s, dir) =>
    graft.streaming.EventsStream.slidingStats(s.read.parquet(s"$dir/events.parquet"))

  val eventsSlidingSql: String =
    "WITH w AS (SELECT event_type, unnest([date_trunc('minute', ts), date_trunc('minute', ts) - INTERVAL 1 MINUTE]) AS w_start FROM events) " +
      "SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events FROM w GROUP BY 1, 2"

  /** Calendar-exact 3-day rolling daily activity
    * (EventsStream.rollingDaily) — RANGE frame over integer epoch days.
    */
  val eventsRolling: Q = (s, dir) =>
    graft.streaming.EventsStream.rollingDaily(s.read.parquet(s"$dir/events.parquet"))

  val eventsRollingSql: String =
    "WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1), " +
      "i AS (SELECT day, n_events, n_users, CAST(day - DATE '1970-01-01' AS BIGINT) AS day_idx FROM d) " +
      "SELECT day, n_events, n_users, CAST(sum(n_events) OVER " +
      "(ORDER BY day_idx RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_3d_events FROM i"

  /** Volume-anomaly days (EventsStream.anomalyDays) — the integer
    * median/MAD monitoring rule; lower medians keep both engines exact.
    */
  val eventsAnomaly: Q = (s, dir) =>
    graft.streaming.EventsStream.anomalyDays(s.read.parquet(s"$dir/events.parquet"))

  val eventsAnomalySql: String =
    "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events " +
      "FROM events GROUP BY 1, 2), " +
      "m AS (SELECT event_type, n_events AS med FROM (SELECT event_type, n_events, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY n_events, day) AS rn, " +
      "count(*) OVER (PARTITION BY event_type) AS cnt FROM d) WHERE rn = (cnt + 1) // 2), " +
      "dev AS (SELECT d.event_type, d.day, d.n_events, m.med, " +
      "CAST(abs(d.n_events - m.med) AS BIGINT) AS deviation FROM d JOIN m USING (event_type)), " +
      "md AS (SELECT event_type, deviation AS mad FROM (SELECT event_type, deviation, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY deviation, day) AS rn, " +
      "count(*) OVER (PARTITION BY event_type) AS cnt FROM dev) WHERE rn = (cnt + 1) // 2) " +
      "SELECT dev.event_type, dev.day, dev.n_events, dev.med, md.mad, dev.deviation " +
      "FROM dev JOIN md USING (event_type) WHERE dev.deviation >= 3 * greatest(md.mad, 1)"

  /** Exact per-type value percentiles (EventsStream.valueQuantiles) —
    * milli-quantized histogram-cumulative percentiles, never a raw-row
    * sort; the oracle replays the identical ceil-rank rule.
    */
  val eventsValueQuantiles: Q = (s, dir) =>
    graft.streaming.EventsStream.valueQuantiles(s.read.parquet(s"$dir/events.parquet"))

  val eventsValueQuantilesSql: String =
    "WITH vm AS (SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM events), " +
      "h AS (SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c FROM vm GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1), " +
      "cu AS (SELECT h.event_type, h.vm, CAST(sum(c) OVER (PARTITION BY h.event_type ORDER BY h.vm) AS BIGINT) AS cum, t.n " +
      "FROM h JOIN t USING (event_type)) " +
      "SELECT event_type, CAST(min(CASE WHEN 100 * cum >= 50 * n THEN vm END) AS BIGINT) AS p50_milli, " +
      "CAST(min(CASE WHEN 100 * cum >= 90 * n THEN vm END) AS BIGINT) AS p90_milli, " +
      "CAST(min(CASE WHEN 100 * cum >= 99 * n THEN vm END) AS BIGINT) AS p99_milli " +
      "FROM cu GROUP BY 1"

  /** Seasonal-naive forecast eval (EventsStream.seasonalNaiveForecast)
    * — floor-mean of the 7/14/21-day look-backs vs the actual daily
    * count, absolute error per (type, day). The oracle replays the
    * same three self-joins and the same 21-day eligibility floor.
    */
  val eventsForecast: Q = (s, dir) =>
    graft.streaming.EventsStream.seasonalNaiveForecast(s.read.parquet(s"$dir/events.parquet"))

  val eventsForecastSql: String =
    "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events " +
      "FROM events GROUP BY 1, 2), " +
      "f0 AS (SELECT event_type, min(day) AS d0 FROM d GROUP BY 1), " +
      "x AS (SELECT d.event_type, d.day, d.n_events, b1.n_events AS c1, b2.n_events AS c2, b3.n_events AS c3 " +
      "FROM d JOIN f0 USING (event_type) " +
      "LEFT JOIN d b1 ON b1.event_type = d.event_type AND b1.day = d.day - 7 " +
      "LEFT JOIN d b2 ON b2.event_type = d.event_type AND b2.day = d.day - 14 " +
      "LEFT JOIN d b3 ON b3.event_type = d.event_type AND b3.day = d.day - 21 " +
      "WHERE d.day >= f0.d0 + 21) " +
      "SELECT event_type, day, n_events AS actual, " +
      "CAST((coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0)) // 3 AS BIGINT) AS forecast, " +
      "CAST(abs(n_events - (coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0)) // 3) AS BIGINT) AS abs_err " +
      "FROM x"

  /** Day-of-week seasonality (EventsStream.seasonality) — per-type
    * traffic profile in integer permille; dow 0 = Sunday in both
    * engines (Spark's dayofweek shifted down one).
    */
  val eventsSeasonality: Q = (s, dir) =>
    graft.streaming.EventsStream.seasonality(s.read.parquet(s"$dir/events.parquet"))

  val eventsSeasonalitySql: String =
    "WITH d AS (SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow, " +
      "CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total FROM d GROUP BY 1) " +
      "SELECT d.event_type, d.dow, d.n_events, " +
      "CAST((CAST(d.n_events AS HUGEINT) * 1000) // t.total AS BIGINT) AS permille " +
      "FROM d JOIN t USING (event_type)"

  /** Hour-of-day traffic profile (EventsStream.hourlyProfile) — the
    * diurnal curve per type; hour() is the UTC hour in both engines
    * (session timezone UTC).
    */
  val eventsHourly: Q = (s, dir) =>
    graft.streaming.EventsStream.hourlyProfile(s.read.parquet(s"$dir/events.parquet"))

  val eventsHourlySql: String =
    "WITH d AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour, " +
      "CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total FROM d GROUP BY 1) " +
      "SELECT d.event_type, d.hour, d.n_events, " +
      "CAST((CAST(d.n_events AS HUGEINT) * 1000) // t.total AS BIGINT) AS permille " +
      "FROM d JOIN t USING (event_type)"

  /** Inter-arrival profile (EventsStream.interArrival) — per-type gap
    * stats from the (type, gap) histogram; exact lower median without
    * an event-sized sort.
    */
  val eventsInterarrival: Q = (s, dir) =>
    graft.streaming.EventsStream.interArrival(s.read.parquet(s"$dir/events.parquet"))

  val eventsInterarrivalSql: String =
    "WITH g AS (SELECT event_type, CAST((epoch_us(ts) - epoch_us(lag(ts) OVER " +
      "(PARTITION BY user_id, event_type ORDER BY ts, event_id))) // 1000000 AS BIGINT) AS gap_s FROM events), " +
      "h AS (SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS n FROM g " +
      "WHERE gap_s IS NOT NULL GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_gaps, max(gap_s) AS max_gap_s, " +
      "CAST((sum(CAST(gap_s AS HUGEINT) * n) * 1000) // sum(n) AS BIGINT) AS mean_gap_milli " +
      "FROM h GROUP BY 1), " +
      "c AS (SELECT event_type, gap_s, sum(n) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum FROM h), " +
      "m AS (SELECT c.event_type, min(c.gap_s) AS med_gap_s FROM c JOIN t USING (event_type) " +
      "WHERE c.cum >= (t.n_gaps + 1) // 2 GROUP BY 1) " +
      "SELECT t.event_type, t.n_gaps, m.med_gap_s, t.mean_gap_milli, t.max_gap_s " +
      "FROM t JOIN m USING (event_type)"

  /** Telemetry debounce (EventsStream.debounce): drop events whose
    * direct same-(user,type) predecessor is within 5 minutes.
    */
  val eventsDebounce: Q = (s, dir) =>
    graft.streaming.EventsStream.debounce(s.read.parquet(s"$dir/events.parquet"))

  val eventsDebounceSql: String =
    "WITH l AS (SELECT event_id, user_id, event_type, ts, " +
      "lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts FROM events) " +
      "SELECT event_id, user_id, event_type, ts FROM l " +
      "WHERE prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 300"

  /** SCD2 dimension build (Temporal.scd2): per-user validity intervals
    * of the quote value — valid_to = next version's start, NULL open.
    */
  val eventsScd: Q = (s, dir) =>
    graft.ops.Temporal.scd2(s.read.parquet(s"$dir/events.parquet"))

  val eventsScdSql: String =
    "WITH q AS (SELECT user_id, ts, event_id, " +
      "CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS value_milli " +
      "FROM events WHERE event_type = 'view') " +
      "SELECT user_id, value_milli, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM q"

  /** First-order event-transition matrix (EventsStream.transitions):
    * per-user consecutive-event pairs, integer conditional probability.
    */
  val eventsTransitions: Q = (s, dir) =>
    graft.streaming.EventsStream.transitions(s.read.parquet(s"$dir/events.parquet"))

  val eventsTransitionsSql: String =
    "WITH nx AS (SELECT event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), " +
      "p AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS cnt FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2), " +
      "h AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS head_cnt FROM p GROUP BY 1) " +
      "SELECT p.event_type, p.next_type, p.cnt, (1000 * p.cnt) // h.head_cnt AS p_cond_milli " +
      "FROM p JOIN h USING (event_type)"

  /** 3-step event-path mining (EventsStream.trigrams): per-user ordered
    * (t1, t2, t3) counts with the third-step conditional in milli —
    * the oracle replays the same double-lead window and pair marginal.
    */
  val eventsTrigrams: Q = (s, dir) =>
    graft.streaming.EventsStream.trigrams(s.read.parquet(s"$dir/events.parquet"))

  val eventsTrigramsSql: String =
    "WITH nx AS (SELECT event_type AS t1, " +
      "lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3 " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "p AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt FROM nx WHERE t3 IS NOT NULL GROUP BY 1, 2, 3), " +
      "h AS (SELECT t1, t2, CAST(sum(cnt) AS BIGINT) AS head_cnt FROM p GROUP BY 1, 2) " +
      "SELECT p.t1, p.t2, p.t3, p.cnt, (1000 * p.cnt) // h.head_cnt AS p_cond_milli " +
      "FROM p JOIN h USING (t1, t2)"

  val eventsWindow: Q = (s, dir) =>
    graft.streaming.EventsStream.windowedStats(s.read.parquet(s"$dir/events.parquet"))

  val eventsWindowSql: String =
    "SELECT date_trunc('minute', ts) AS w_start, event_type, " +
      "CAST(count(*) AS BIGINT) AS n_events, " +
      "CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_milli " +
      "FROM events GROUP BY 1, 2"

  val eventsUserStats: Q = (s, dir) =>
    s.read
      .parquet(s"$dir/events.parquet")
      .withColumn("v_milli", expr("CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT)"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum("v_milli").as("sum_milli"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        countDistinct("event_type").as("n_types")
      )

  val eventsUserStatsSql: String =
    "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
      "CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_milli, " +
      "min(ts) AS first_ts, max(ts) AS last_ts, " +
      "CAST(count(DISTINCT event_type) AS BIGINT) AS n_types " +
      "FROM events GROUP BY user_id"

  /** Session rollup — 30-minute-gap sessionization per user
    * (EventsStream.sessionize); the oracle replays the identical
    * lag/break/running-sum windows in whole epoch seconds.
    */
  val eventsSessions: Q = (s, dir) =>
    graft.streaming.EventsStream.sessionize(s.read.parquet(s"$dir/events.parquet"))

  val eventsSessionsSql: String =
    "WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events), " +
      "m AS (SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e), " +
      "b AS (SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS brk FROM m), " +
      "sq AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq FROM b) " +
      "SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events, " +
      "min(ts) AS start_ts, max(ts) AS end_ts, CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec " +
      "FROM sq GROUP BY user_id, session_seq"

  /** Funnel — click -> view -> purchase progression with earliest-reach
    * semantics (EventsStream.funnel); the oracle replays the identical
    * filtered joins and at-or-after rule.
    */
  private val funnelSteps = Seq("click", "view", "purchase")

  val eventsFunnel: Q = (s, dir) =>
    graft.streaming.EventsStream.funnel(s.read.parquet(s"$dir/events.parquet"), funnelSteps)

  val eventsFunnelSql: String = {
    val stages = funnelSteps.zipWithIndex.map { case (step, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = '$step' GROUP BY user_id)"
      else
        s"s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
          s"JOIN s$i ON s$i.user_id = e.user_id AND e.ts >= s$i.t " +
          s"WHERE e.event_type = '$step' GROUP BY e.user_id)"
    }.mkString(", ")
    val counts = funnelSteps.zipWithIndex.map { case (step, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS stage, '$step' AS event_type, CAST(count(*) AS BIGINT) AS n_users FROM s${i + 1}"
    }.mkString(" UNION ALL ")
    s"WITH $stages, c AS ($counts) " +
      "SELECT stage, event_type, n_users, " +
      "CAST(CASE WHEN (SELECT n_users FROM c WHERE stage = 1) = 0 THEN 0 " +
      "ELSE (1000 * n_users) // (SELECT n_users FROM c WHERE stage = 1) END AS BIGINT) AS retained_milli FROM c"
  }

  /** Cohort retention triangle (EventsStream.cohortRetention). */
  val eventsCohorts: Q = (s, dir) =>
    graft.streaming.EventsStream.cohortRetention(s.read.parquet(s"$dir/events.parquet"))

  val eventsCohortsSql: String =
    "WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id) " +
      "SELECT CAST(f.first_ts AS DATE) AS cohort_date, " +
      "CAST(date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) AS BIGINT) AS day_offset, " +
      "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
      "FROM events e JOIN f ON f.user_id = e.user_id GROUP BY 1, 2"

  /** Growth-accounting lifecycle (EventsStream.lifecycle): per-day
    * new/retained/resurrected/churned user counts with a 7-day gap
    * rule; churn is only counted once confirmed (return after the gap,
    * or the gap fully elapsed inside the corpus).
    */
  val eventsLifecycle: Q = (s, dir) =>
    graft.streaming.EventsStream.lifecycle(s.read.parquet(s"$dir/events.parquet"))

  val eventsLifecycleSql: String =
    "WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "fl AS (SELECT user_id, day, lag(day) OVER w AS prev, lead(day) OVER w AS nxt FROM act " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY day)), " +
      "mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events), " +
      "a AS (SELECT day, CASE WHEN prev IS NULL THEN 'new' " +
      "WHEN date_diff('day', prev, day) > 7 THEN 'resurrected' " +
      "ELSE 'retained' END AS status FROM fl), " +
      "c AS (SELECT day + 1 AS day, 'churned' AS status FROM fl, mx " +
      "WHERE (nxt IS NOT NULL AND date_diff('day', day, nxt) > 7) " +
      "OR (nxt IS NULL AND date_diff('day', day, max_day) >= 7)) " +
      "SELECT day, status, CAST(count(*) AS BIGINT) AS n_users " +
      "FROM (SELECT * FROM a UNION ALL SELECT * FROM c) GROUP BY 1, 2"

  /** RFM quartile segmentation (EventsStream.rfm): recency bucketed by
    * exact day, frequency/monetary by log2; quartile = ceil(4·cum/n)
    * over the bucket histogram, r_score inverted. The oracle replays
    * the identical bucket + cumulative rule.
    */
  val eventsRfm: Q = (s, dir) =>
    graft.streaming.EventsStream.rfm(s.read.parquet(s"$dir/events.parquet"))

  val eventsRfmSql: String =
    "WITH mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events), " +
      "per AS (SELECT user_id, " +
      "CAST(date_diff('day', max(CAST(ts AS DATE)), (SELECT max_day FROM mx)) AS BIGINT) AS recency_days, " +
      "CAST(count(*) AS BIGINT) AS frequency, " +
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS monetary_milli " +
      "FROM events GROUP BY user_id), " +
      "b AS (SELECT *, recency_days AS rb, CAST(length(bin(frequency)) AS BIGINT) AS fb, " +
      "CASE WHEN monetary_milli = 0 THEN 0 ELSE CAST(length(bin(monetary_milli)) AS BIGINT) END AS mb FROM per), " +
      "n AS (SELECT count(*) AS n FROM per), " +
      "cr AS (SELECT rb, sum(count(*)) OVER (ORDER BY rb) AS cum FROM b GROUP BY rb), " +
      "cf AS (SELECT fb, sum(count(*)) OVER (ORDER BY fb) AS cum FROM b GROUP BY fb), " +
      "cm AS (SELECT mb, sum(count(*)) OVER (ORDER BY mb) AS cum FROM b GROUP BY mb) " +
      "SELECT b.user_id, b.recency_days, b.frequency, b.monetary_milli, " +
      "CAST(5 - ((4 * cr.cum + n.n - 1) // n.n) AS BIGINT) AS r_score, " +
      "CAST((4 * cf.cum + n.n - 1) // n.n AS BIGINT) AS f_score, " +
      "CAST((4 * cm.cum + n.n - 1) // n.n AS BIGINT) AS m_score " +
      "FROM b JOIN cr USING (rb) JOIN cf USING (fb) JOIN cm USING (mb) CROSS JOIN n"

  /** First-touch attribution (EventsStream.attribution): each purchase
    * gets the user's FIRST view in (ts, side, event_id) order plus the
    * running touch count — the same union-and-window merge as the
    * as-of join with first_value/count instead of last_value.
    */
  val eventsAttribution: Q = (s, dir) =>
    graft.streaming.EventsStream.attribution(s.read.parquet(s"$dir/events.parquet"))

  val eventsAttributionSql: String =
    "WITH t AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side, " +
      "CASE WHEN event_type = 'view' THEN event_id END AS v_id " +
      "FROM events WHERE event_type IN ('purchase', 'view')), " +
      "w AS (SELECT *, " +
      "first_value(v_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch_id, " +
      "count(v_id) OVER (PARTITION BY user_id ORDER BY ts, side, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_touches FROM t) " +
      "SELECT event_id AS probe_id, user_id, first_touch_id, " +
      "CAST(n_touches AS BIGINT) AS n_touches FROM w WHERE side = 1"

  /** Power-user curve (EventsStream.activityHistogram): log2-bucketed
    * events-per-user histogram, the activity analogue of
    * kg_degree_dist.
    */
  val eventsActivity: Q = (s, dir) =>
    graft.streaming.EventsStream.activityHistogram(s.read.parquet(s"$dir/events.parquet"))

  val eventsActivitySql: String =
    "WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1) " +
      "SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket, " +
      "CAST(CAST(1 AS BIGINT) << CAST(length(bin(n)) - 1 AS INT) AS BIGINT) AS lo, " +
      "CAST(count(*) AS BIGINT) AS n_users FROM per GROUP BY 1, 2"

  /** Longest consecutive-day streak per user (EventsStream.streaks):
    * the day − row_number() islands trick; best streak ties resolve
    * to the earliest start on both sides.
    */
  val eventsStreaks: Q = (s, dir) =>
    graft.streaming.EventsStream.streaks(s.read.parquet(s"$dir/events.parquet"))

  val eventsStreaksSql: String =
    "WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "i AS (SELECT user_id, day, day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor FROM act), " +
      "r AS (SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len, min(day) AS start FROM i GROUP BY 1, 2), " +
      "s AS (SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days FROM r GROUP BY 1), " +
      "b AS (SELECT user_id, len AS best_streak, start AS best_start FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY len DESC, start) AS rn FROM r) WHERE rn = 1) " +
      "SELECT s.user_id, s.n_days, b.best_streak, b.best_start FROM s JOIN b USING (user_id)"

  /** Rolling 7-day engagement (EventsStream.dauWau): exact DAU/WAU via
    * the ×7 cover explode, stickiness in permille; only days with
    * same-day activity are reported.
    */
  val eventsDauWau: Q = (s, dir) =>
    graft.streaming.EventsStream.dauWau(s.read.parquet(s"$dir/events.parquet"))

  val eventsDauWauSql: String =
    "WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "cov AS (SELECT user_id, day + CAST(k AS INT) AS end_day FROM " +
      "(SELECT user_id, day, unnest(range(0, 7)) AS k FROM act)), " +
      "wau AS (SELECT end_day AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM cov GROUP BY 1), " +
      "dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM act GROUP BY 1) " +
      "SELECT d.day, d.dau, w.wau, (1000 * d.dau) // w.wau AS stickiness_permille " +
      "FROM dau d JOIN wau w USING (day)"

  /** Mergeable per-day distinct-actives registers
    * (EventsStream.uniquesSketch) — identical md5 routing/rank rule in
    * the oracle; max-merge algebra shared with the text distinctSketch.
    */
  val eventsUniquesSketch: Q = (s, dir) =>
    graft.streaming.EventsStream.uniquesSketch(s.read.parquet(s"$dir/events.parquet"))

  val eventsUniquesSketchSql: String = {
    def hv(i: Int) =
      s"(ascii(substr(h, $i, 1)) - CASE WHEN ascii(substr(h, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
    "WITH hh AS (SELECT CAST(ts AS DATE) AS day, md5(CAST(user_id AS VARCHAR)) AS h FROM events), " +
      s"r AS (SELECT day, CAST((${hv(1)} * 16 + ${hv(2)}) % 64 AS BIGINT) AS bucket, " +
      "CAST(length(regexp_extract(substr(h, 3, 16), '^(0*)', 1)) + 1 AS BIGINT) AS rank FROM hh) " +
      "SELECT day, bucket, max(rank) AS max_rank FROM r GROUP BY day, bucket"
  }

  /** As-of join — each purchase gets the user's prevailing view event
    * (ops.Temporal.asofJoin); the oracle replays the identical
    * union-and-window merge with the same (ts, side, event_id) total
    * order and running last-non-null frame.
    */
  val eventsAsof: Q = (s, dir) =>
    graft.ops.Temporal.asofJoin(s.read.parquet(s"$dir/events.parquet"))

  val eventsAsofSql: String =
    "WITH t AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side, " +
      "CASE WHEN event_type = 'view' THEN event_id END AS q_id, " +
      "CASE WHEN event_type = 'view' THEN CAST(floor(CAST(value AS DOUBLE) * 1000 + 0.5) AS BIGINT) END AS q_milli " +
      "FROM events WHERE event_type IN ('purchase', 'view')), " +
      "w AS (SELECT *, " +
      "last_value(q_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS quote_id, " +
      "last_value(q_milli IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS quote_milli FROM t) " +
      "SELECT event_id AS probe_id, user_id, quote_id, quote_milli FROM w WHERE side = 1"

  /** Bounded-range join — purchases within an hour of each signup
    * (ops.Temporal.rangeJoin); the oracle states the range predicate
    * directly (DuckDB's optimizer handles the small scale; the Spark
    * side is the bucketed equi-join, provably the same pair set).
    */
  val eventsRangeJoin: Q = (s, dir) =>
    graft.ops.Temporal.rangeJoin(s.read.parquet(s"$dir/events.parquet"))

  val eventsRangeJoinSql: String =
    "SELECT s.event_id AS probe_id, s.user_id, p.event_id AS target_id, " +
      "CAST(floor(epoch(p.ts)) - floor(epoch(s.ts)) AS BIGINT) AS lag_sec " +
      "FROM events s JOIN events p ON s.user_id = p.user_id " +
      "WHERE s.event_type = 'signup' AND p.event_type = 'purchase' " +
      "AND floor(epoch(p.ts)) >= floor(epoch(s.ts)) " +
      "AND floor(epoch(p.ts)) < floor(epoch(s.ts)) + 3600"

  /** Conversion-latency log2 histogram (Temporal.latencyHistogram)
    * over the same signup→purchase bounded-range pair rule as
    * events_range_join; the oracle folds its own pair query.
    */
  val eventsLatencyHist: Q = (s, dir) =>
    graft.ops.Temporal.latencyHistogram(s.read.parquet(s"$dir/events.parquet"))

  val eventsLatencyHistSql: String =
    s"WITH pairs AS ($eventsRangeJoinSql) " +
      "SELECT CASE WHEN lag_sec = 0 THEN 0 ELSE CAST(length(bin(lag_sec)) AS BIGINT) END AS bucket, " +
      "CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(min(lag_sec) AS BIGINT) AS min_lag_sec, CAST(max(lag_sec) AS BIGINT) AS max_lag_sec " +
      "FROM pairs GROUP BY 1"

  // ---------------------------------------------------------------
  // Relational sanity check on the TPC-H-ish tables
  // ---------------------------------------------------------------

  val q1Agg: Q = (s, dir) =>
    s.read
      .parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))

  val q1AggSql: String =
    "SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
      "FROM lineitem GROUP BY l_returnflag"

  /** Integer-exact revenue term shared by the TPC-H-shaped queries:
    * cents × discount-complement-percent (floor(x*100+0.5) on both
    * factors), so sums hash-match across engines with no float drift.
    */
  private val revExpr =
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"

  /** TPC-H Q3 shape (shipping priority): top-10 open orders of one
    * market segment by outstanding revenue. The plan the relational
    * side must produce at scale: filters pushed to all three scans,
    * the filtered customer side broadcast (AQE-decided), ONE shuffled
    * join on orderkey, and distributed top-k (TakeOrderedAndProject) —
    * never a global sort.
    */
  val q3Shipping: Q = (s, dir) => {
    val cut = "1998-06-01"
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .where(col("c_mktsegment") === "BUILDING")
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderdate") < lit(cut).cast("timestamp"))
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_shipdate") > lit(cut).cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(expr(revExpr)).as("revenue_i"))
      .orderBy(desc("revenue_i"), asc("l_orderkey"))
      .limit(10)
  }

  val q3ShippingSql: String =
    s"SELECT l_orderkey, o_orderdate, CAST(sum($revExpr) AS BIGINT) AS revenue_i " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' " +
      "AND l_shipdate > TIMESTAMP '1998-06-01' " +
      "GROUP BY 1, 2 ORDER BY revenue_i DESC, l_orderkey LIMIT 10"

  /** TPC-H Q5 shape (local supplier volume): revenue by nation where
    * customer and supplier share the nation, one region, one year. The
    * dimension chain region→nation→supplier stays broadcast all the way
    * (AQE-decided); lineitem shuffles once on orderkey.
    */
  val q5LocalSupplier: Q = (s, dir) => {
    val region = s.read.parquet(s"$dir/region.parquet").where(col("r_name") === "ASIA")
    val nation = s.read.parquet(s"$dir/nation.parquet")
    val supplier = s.read.parquet(s"$dir/supplier.parquet")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .where(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")
      )
    val cust = s.read.parquet(s"$dir/customer.parquet")
    region
      .join(nation, col("n_regionkey") === col("r_regionkey"))
      .join(supplier, col("s_nationkey") === col("n_nationkey"))
      .join(li, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("c_custkey") === col("o_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(expr(revExpr)).as("revenue_i"))
  }

  val q5LocalSupplierSql: String =
    s"SELECT n_name, CAST(sum($revExpr) AS BIGINT) AS revenue_i " +
      "FROM region JOIN nation ON n_regionkey = r_regionkey " +
      "JOIN supplier ON s_nationkey = n_nationkey " +
      "JOIN lineitem ON l_suppkey = s_suppkey JOIN orders ON o_orderkey = l_orderkey " +
      "JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey " +
      "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1997-01-01' " +
      "AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1"

  /** TPC-H Q18 shape (large-volume customers): orders whose total
    * line quantity clears a threshold, with their customer. The plan
    * the relational side must produce: the HAVING aggregate runs
    * FIRST on lineitem alone (one orderkey-keyed partial-aggregated
    * exchange that shrinks the probe side to qualifying orders before
    * any join), then two equi-joins whose small filtered side AQE
    * broadcasts — never an aggregate after the 3-way join.
    */
  val q18LargeOrders: Q = (s, dir) => {
    val big = s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .where(col("total_qty") > 200L)
    s.read.parquet(s"$dir/orders.parquet")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(s.read.parquet(s"$dir/customer.parquet"), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("total_qty"))
  }

  val q18LargeOrdersSql: String =
    "WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty " +
      "FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 200) " +
      "SELECT c_custkey, o_orderkey, total_qty FROM big " +
      "JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey"

  /** TPC-H Q4 shape (order-priority checking): orders in one quarter
    * counted per priority when at least one lineitem came back
    * returned (the corpus carries no commit/receipt dates, so the
    * reference predicate becomes the return flag — same EXISTS
    * semi-join shape). At scale: both filters push to their scans, the
    * EXISTS runs as a left-semi hash join on orderkey, one
    * priority-keyed partial aggregate.
    */
  val q4Priority: Q = (s, dir) => {
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .where(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp")
      )
    val ret = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    ord
      .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  val q4PrioritySql: String =
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count FROM orders " +
      "WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' " +
      "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
      "GROUP BY 1"

  /** TPC-H Q6 shape (forecasting revenue change): one filtered scan of
    * lineitem folded to a single row — the pure scan-throughput probe
    * (predicate pushdown + partial agg; zero joins). Revenue in
    * cents×bp integer units like every money expression here.
    */
  val q6Forecast: Q = (s, dir) =>
    s.read.parquet(s"$dir/lineitem.parquet")
      .where(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity") < 24.0
      )
      .agg(
        sum(
          expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
          )
        ).as("revenue_i"),
        count(lit(1)).as("n_items")
      )

  val q6ForecastSql: String =
    "SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
      "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_i, " +
      "CAST(count(*) AS BIGINT) AS n_items FROM lineitem " +
      "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
      "AND l_quantity < 24"

  /** TPC-H Q10 shape (returned-item reporting): top 20 customers by
    * lost revenue from returned items in one quarter, with their
    * nation. The dimension chain customer→nation broadcasts; lineitem
    * shuffles once on orderkey; the top-20 is a global sort of an
    * already customer-sized aggregate.
    */
  val q10Returns: Q = (s, dir) => {
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .where(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp")
      )
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_returnflag") === "R")
    val cust = s.read.parquet(s"$dir/customer.parquet")
    val nat = s.read.parquet(s"$dir/nation.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(expr(revExpr)).as("revenue_i"))
      .orderBy(desc("revenue_i"), asc("c_custkey"))
      .limit(20)
  }

  val q10ReturnsSql: String =
    s"SELECT c_custkey, c_name, n_name, CAST(sum($revExpr) AS BIGINT) AS revenue_i " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
      "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' " +
      "AND o_orderdate < TIMESTAMP '1997-04-01' " +
      "GROUP BY 1, 2, 3 ORDER BY revenue_i DESC, c_custkey LIMIT 20"

  /** TPC-H Q14 shape (promotion effect): promo revenue share of one
    * ship-month in integer permille. Part is the broadcast side; the
    * conditional aggregate folds in the same pass as the join.
    */
  val q14Promo: Q = (s, dir) => {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(
        col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp")
      )
    val part = s.read.parquet(s"$dir/part.parquet")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", expr(revExpr)).otherwise(0L)).as("promo_i"),
        sum(expr(revExpr)).as("total_i")
      )
      .select(
        col("promo_i"),
        col("total_i"),
        expr("(1000 * promo_i) div greatest(total_i, 1L)").as("promo_permille")
      )
  }

  val q14PromoSql: String =
    s"WITH x AS (SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revExpr ELSE 0 END) AS BIGINT) AS promo_i, " +
      s"CAST(sum($revExpr) AS BIGINT) AS total_i " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01') " +
      "SELECT promo_i, total_i, CAST((1000 * promo_i) // greatest(total_i, 1) AS BIGINT) AS promo_permille FROM x"

  /** Synchronous label-propagation communities
    * (Analytics.labelPropagation, 4 fixed rounds). The oracle unrolls
    * the identical rounds: per round, neighbor-label counts then argmax
    * with (count desc, label asc) — MATERIALIZED per round for the same
    * anti-exponential-inlining reason as kg_kcore.
    */
  val kgCommunities: Q = (s, dir) =>
    Analytics.labelPropagation(triples(s, dir), iterations = lpaRounds)

  private val lpaRounds = 4

  val kgCommunitiesSql: String = {
    val base = TokenRules.Sql.withTriples +
      ", ed AS (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "nbl AS MATERIALIZED (SELECT subject AS v, obj AS u FROM ed UNION SELECT obj, subject FROM ed), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM nbl)"
    val rounds = (0 until lpaRounds).map { i =>
      s"l${i + 1} AS MATERIALIZED (SELECT v, label FROM (" +
        s"SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn FROM (" +
        s"SELECT nbl.v, l.label, count(*) AS c FROM nbl JOIN l$i l ON l.v = nbl.u GROUP BY nbl.v, l.label" +
        ")) WHERE rn = 1)"
    }.mkString(", ", ", ", " ")
    base + rounds +
      s"SELECT v AS entity, label AS community FROM l$lpaRounds"
  }

  /** Per-community rollup (Analytics.communityStats): sizes + internal/
    * cross undirected-edge counts over the LPA partition; the oracle
    * composes the unrolled LPA rounds with the same distinct
    * least/greatest edge set and two label joins.
    */
  val kgCommStats: Q = (s, dir) =>
    Analytics.communityStats(triples(s, dir), iterations = lpaRounds)

  val kgCommStatsSql: String = {
    // same unrolled-LPA CTE chain as kg_communities, plus the rollup
    val lpaIdx = kgCommunitiesSql.indexOf("SELECT v AS entity")
    val ctes = kgCommunitiesSql.substring(0, lpaIdx)
    ctes +
      s", lab AS (SELECT v AS entity, label AS community FROM l$lpaRounds), " +
      "edu AS (SELECT DISTINCT least(subject, obj) AS a, greatest(subject, obj) AS b FROM tr WHERE subject <> obj), " +
      "lb AS (SELECT e.a, e.b, la.community AS ca, lbj.community AS cb FROM edu e " +
      "JOIN lab la ON la.entity = e.a JOIN lab lbj ON lbj.entity = e.b), " +
      "sz AS (SELECT community, CAST(count(*) AS BIGINT) AS n_entities FROM lab GROUP BY 1), " +
      "inn AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS n_internal FROM lb WHERE ca = cb GROUP BY 1), " +
      "crx AS (SELECT community, CAST(count(*) AS BIGINT) AS n_cross FROM " +
      "(SELECT unnest([ca, cb]) AS community FROM lb WHERE ca <> cb) GROUP BY 1) " +
      "SELECT sz.community, sz.n_entities, CAST(coalesce(inn.n_internal, 0) AS BIGINT) AS n_internal, " +
      "CAST(coalesce(crx.n_cross, 0) AS BIGINT) AS n_cross " +
      "FROM sz LEFT JOIN inn ON inn.community = sz.community LEFT JOIN crx ON crx.community = sz.community"
  }

  /** Community quotient graph (Analytics.condenseGraph): one supernode
    * per LPA community, distinct-edge counts per community pair
    * (intra-community mass lands on the supernode self-loop) — the
    * oracle composes the unrolled LPA rounds with two label joins over
    * the same distinct directed edge set.
    */
  val kgCondense: Q = (s, dir) =>
    Analytics.condenseGraph(triples(s, dir), iterations = lpaRounds)

  val kgCondenseSql: String = {
    val lpaIdx = kgCommunitiesSql.indexOf("SELECT v AS entity")
    val ctes = kgCommunitiesSql.substring(0, lpaIdx)
    ctes +
      s", lab AS (SELECT v AS entity, label AS community FROM l$lpaRounds) " +
      "SELECT la.community AS src_comm, lb.community AS dst_comm, " +
      "CAST(count(*) AS BIGINT) AS n_edges " +
      "FROM ed e JOIN lab la ON la.entity = e.subject JOIN lab lb ON lb.entity = e.obj " +
      "GROUP BY 1, 2"
  }

  /** Bow-tie decomposition (Analytics.bowtie): core/in/out/other node
    * counts relative to the deterministic (md5, value)-first seed; the
    * oracle unrolls the identical bounded forward/backward reach.
    */
  private val bowtieRounds = 10

  val kgBowtie: Q = (s, dir) =>
    Analytics.bowtie(triples(s, dir), bowtieRounds)

  val kgBowtieSql: String = {
    def reach(name: String, from: String, to: String): String = {
      val base = s"${name}0 AS (SELECT v AS node FROM sd)"
      val rounds = (1 to bowtieRounds).map { k =>
        s"$name$k AS MATERIALIZED (SELECT node FROM $name${k - 1} " +
          s"UNION SELECT e.$to FROM ed e JOIN $name${k - 1} f ON e.$from = f.node)"
      }
      (base +: rounds).mkString(", ")
    }
    TokenRules.Sql.withTriples +
      ", ed AS MATERIALIZED (SELECT DISTINCT subject, obj FROM tr WHERE subject <> obj), " +
      "nd AS MATERIALIZED (SELECT subject AS v FROM ed UNION SELECT obj FROM ed), " +
      "sd AS (SELECT v FROM nd ORDER BY md5(v), v LIMIT 1), " +
      reach("fw", "subject", "obj") + ", " +
      reach("bw", "obj", "subject") + ", " +
      s"cl AS (SELECT nd.v, CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'core' " +
      "WHEN b.node IS NOT NULL THEN 'in' WHEN f.node IS NOT NULL THEN 'out' ELSE 'other' END AS region " +
      s"FROM nd LEFT JOIN fw$bowtieRounds f ON f.node = nd.v LEFT JOIN bw$bowtieRounds b ON b.node = nd.v), " +
      "ct AS (SELECT region, CAST(count(*) AS BIGINT) AS n_nodes FROM cl GROUP BY 1), " +
      "sp AS (SELECT unnest(['core', 'in', 'out', 'other']) AS region) " +
      "SELECT sp.region, CAST(coalesce(ct.n_nodes, 0) AS BIGINT) AS n_nodes " +
      "FROM sp LEFT JOIN ct ON ct.region = sp.region"
  }

  /** Predicate-concentration Gini (Analytics.predicateGini): exact
    * integer permille over the ascending (count, predicate) rank; the
    * numerator clamps at 0 so truncate == floor across engines.
    */
  val kgPredicateGini: Q = (s, dir) =>
    Analytics.predicateGini(triples(s, dir))

  val kgPredicateGiniSql: String =
    TokenRules.Sql.withTriples +
      ", c AS (SELECT predicate, CAST(count(*) AS BIGINT) AS x FROM tr GROUP BY 1), " +
      "r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, predicate) AS BIGINT) AS i FROM c), " +
      "sc AS (SELECT CAST(count(*) AS BIGINT) AS n_predicates, CAST(sum(x) AS BIGINT) AS n_triples, " +
      "sum(CAST(i AS HUGEINT) * x) AS ixs FROM r) " +
      "SELECT n_predicates, n_triples, " +
      "CAST(CASE WHEN coalesce(n_triples, 0) = 0 THEN 0 ELSE " +
      "greatest(CAST(0 AS HUGEINT), (2 * ixs - (n_predicates + 1) * CAST(n_triples AS HUGEINT)) * 1000) " +
      "// (CAST(n_predicates AS HUGEINT) * n_triples) END AS BIGINT) AS gini_permille FROM sc"

  /** Aggregate day-N retention curve (EventsStream.retentionCurve):
    * per-offset actives over the horizon-eligible denominator; the
    * oracle replays the histogram suffix-sum spine.
    */
  val eventsRetentionCurve: Q = (s, dir) =>
    graft.streaming.EventsStream.retentionCurve(s.read.parquet(s"$dir/events.parquet"))

  val eventsRetentionCurveSql: String =
    "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY 1), " +
      "mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events), " +
      "offs AS (SELECT DISTINCT e.user_id, CAST(date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) AS BIGINT) AS d " +
      "FROM events e JOIN f USING (user_id)), " +
      "act AS (SELECT d AS day_offset, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active FROM offs GROUP BY 1), " +
      "hh AS (SELECT CAST(date_diff('day', f.cohort_date, mx.max_day) AS BIGINT) AS h, count(*) AS c FROM f, mx GROUP BY 1), " +
      "spine AS (SELECT DISTINCT k FROM (SELECT day_offset AS k FROM act UNION SELECT h FROM hh)), " +
      "cum AS (SELECT k, CAST(sum(coalesce(c, 0)) OVER (ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_eligible " +
      "FROM spine LEFT JOIN hh ON hh.h = spine.k) " +
      "SELECT act.day_offset, act.n_active, cum.n_eligible, " +
      "CAST((1000 * act.n_active) // cum.n_eligible AS BIGINT) AS retention_permille " +
      "FROM act JOIN cum ON cum.k = act.day_offset"

  /** Newman modularity of the LPA partition (Analytics.modularity):
    * exact integer permille via Q·4m² = 4m·Σe_c − Σd_c², numerator
    * clamped at 0 before the division so DECIMAL DIV (truncate) and
    * HUGEINT // (floor) agree; the oracle composes the unrolled LPA
    * rounds with the identical per-community degree/internal rollup.
    */
  val kgModularity: Q = (s, dir) =>
    Analytics.modularity(triples(s, dir), iterations = lpaRounds)

  val kgModularitySql: String = {
    val lpaIdx = kgCommunitiesSql.indexOf("SELECT v AS entity")
    val ctes = kgCommunitiesSql.substring(0, lpaIdx)
    ctes +
      s", lab AS (SELECT v AS entity, label AS community FROM l$lpaRounds), " +
      "edu AS (SELECT DISTINCT least(subject, obj) AS a, greatest(subject, obj) AS b FROM tr WHERE subject <> obj), " +
      "lb AS (SELECT e.a, e.b, la.community AS ca, lbj.community AS cb FROM edu e " +
      "JOIN lab la ON la.entity = e.a JOIN lab lbj ON lbj.entity = e.b), " +
      "per AS (SELECT community, CAST(sum(d) AS BIGINT) AS deg, CAST(sum(i) AS BIGINT) AS internal FROM " +
      "(SELECT ca AS community, 1 AS d, CASE WHEN ca = cb THEN 1 ELSE 0 END AS i FROM lb " +
      "UNION ALL SELECT cb, 1, 0 FROM lb) GROUP BY 1), " +
      "sc AS (SELECT CAST(count(*) AS BIGINT) AS n_communities, CAST(sum(internal) AS BIGINT) AS n_internal, " +
      "CAST(sum(deg) // 2 AS BIGINT) AS m, sum(CAST(deg AS HUGEINT) * deg) AS dsq FROM per) " +
      "SELECT coalesce(m, CAST(0 AS BIGINT)) AS n_edges, n_communities, " +
      "coalesce(n_internal, CAST(0 AS BIGINT)) AS n_internal, " +
      "CASE WHEN coalesce(m, 0) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "CAST(greatest(CAST(0 AS HUGEINT), 4000 * CAST(m AS HUGEINT) * n_internal - 1000 * dsq) " +
      "// (4 * CAST(m AS HUGEINT) * m) AS BIGINT) END AS q_permille FROM sc"
  }

  /** Deterministic negative samples for KG-embedding training
    * (Analytics.negativeSamples): within-relation tail corruption via a
    * seeded md5 shuffle, wrap-around pairing, and a filtered anti-join
    * against the real triple set. The oracle replays the identical
    * window rule (same partition keys, same order, same wrap).
    */
  val kgNegatives: Q = (s, dir) =>
    Analytics.negativeSamples(triples(s, dir))

  val kgNegativesSql: String =
    TokenRules.Sql.withTriples +
      ", k AS (SELECT subject, predicate, obj, md5(subject || '|' || obj) AS h, " +
      "substr(md5(subject || '|' || obj), 1, 1) AS bucket FROM tr), " +
      "c AS (SELECT subject, predicate, obj, " +
      "coalesce(lead(obj, 1) OVER w, first_value(obj) OVER w) AS neg_obj FROM k " +
      "WINDOW w AS (PARTITION BY predicate, bucket ORDER BY h, subject, obj)) " +
      "SELECT c.subject, c.predicate, c.obj, c.neg_obj FROM c " +
      "WHERE c.neg_obj <> c.obj AND NOT EXISTS (" +
      "SELECT 1 FROM tr t WHERE t.subject = c.subject AND t.predicate = c.predicate AND t.obj = c.neg_obj)"

  // ---------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------

  val registry: Seq[QueryDef] = Seq(
    QueryDef("kg_mentions", kgMentions, kgMentionsSql),
    QueryDef("kg_doc_density", kgDocDensity, kgDocDensitySql),
    QueryDef("kg_entities", kgEntities, kgEntitiesSql),
    QueryDef("kg_triples", kgTriples, kgTriplesSql),
    QueryDef("kg_edges", kgEdges, kgEdgesSql),
    QueryDef("kg_aggregate", kgAggregate, kgAggregateSql),
    QueryDef("kg_diff", kgDiff, kgDiffSql),
    QueryDef("kg_churn", kgChurn, kgChurnSql),
    QueryDef("kg_degree", kgDegree, kgDegreeSql),
    QueryDef("kg_pred_counts", kgPredCounts, kgPredCountsSql),
    QueryDef("kg_top_entities", kgTopEntities, kgTopEntitiesSql),
    QueryDef("kg_stats", kgStats, kgStatsSql),
    QueryDef("kg_top_relations", kgTopRelations, kgTopRelationsSql),
    QueryDef("kg_nx_edges", kgNxEdges, kgNxEdgesSql),
    QueryDef("kg_2hop", kg2Hop, kg2HopSql),
    QueryDef("kg_substring", kgSubstring, kgSubstringSql),
    QueryDef("kg_embed", kgEmbed, kgEmbedSql),
    QueryDef("kg_embed_rel", kgEmbedRel, kgEmbedRelSql),
    QueryDef("kg_viz", kgViz, kgVizSql),
    QueryDef("kg_retrieve", kgRetrieve, kgRetrieveSql),
    QueryDef("kg_retrieve_context", kgRetrieveContext, kgRetrieveContextSql),
    QueryDef("kg_normalize", kgNormalize, kgNormalizeSql),
    QueryDef("kg_cluster_assign", kgClusterAssign, kgClusterAssignSql),
    QueryDef("kg_cluster_map", kgClusterMap, kgClusterMapSql),
    QueryDef("kg_cluster_rewrite", kgClusterRewrite, kgClusterRewriteSql),
    QueryDef("kg_components", kgComponents, kgComponentsSql),
    QueryDef("kg_component_stats", kgComponentStats, kgComponentStatsSql),
    QueryDef("kg_cc_incremental", kgCcIncremental, kgCcIncrementalSql),
    QueryDef("kg_pagerank", kgPageRank, kgPageRankSql),
    QueryDef("kg_hits", kgHits, kgHitsSql),
    QueryDef("kg_cooc", kgCooc, kgCoocSql),
    QueryDef("kg_schema_stats", kgSchemaStats, kgSchemaStatsSql),
    QueryDef("kg_conflicts", kgConflicts, kgConflictsSql),
    QueryDef("kg_rule_support", kgRuleSupport, kgRuleSupportSql),
    QueryDef("kg_same_as", kgSameAs, kgSameAsSql),
    QueryDef("kg_entity_types", kgEntityTypes, kgEntityTypesSql),
    QueryDef("kg_corroboration", kgCorroboration, kgCorroborationSql),
    QueryDef("kg_provenance", kgProvenance, kgProvenanceSql),
    QueryDef("kg_triple_history", kgTripleHistory, kgTripleHistorySql),
    QueryDef("kg_entity_history", kgEntityHistory, kgEntityHistorySql),
    QueryDef("kg_blocking_recall", kgBlockingRecall, kgBlockingRecallSql),
    QueryDef("kg_pred_synonyms", kgPredSynonyms, kgPredSynonymsSql),
    QueryDef("kg_degree_dist", kgDegreeDist, kgDegreeDistSql),
    QueryDef("kg_reciprocity", kgReciprocity, kgReciprocitySql),
    QueryDef("kg_ppr", kgPpr, kgPprSql),
    QueryDef("kg_link_predict", kgLinkPredict, kgLinkPredictSql),
    QueryDef("kg_triangles", kgTriangles, kgTrianglesSql),
    QueryDef("kg_edge_support", kgEdgeSupport, kgEdgeSupportSql),
    QueryDef("kg_katz", kgKatz, kgKatzSql),
    QueryDef("kg_lp_holdout", kgLpHoldout, kgLpHoldoutSql),
    QueryDef("kg_resource_alloc", kgResourceAlloc, kgResourceAllocSql),
    QueryDef("kg_richclub", kgRichClub, kgRichClubSql),
    QueryDef("kg_clustering", kgClustering, kgClusteringSql),
    QueryDef("kg_transitivity", kgTransitivity, kgTransitivitySql),
    QueryDef("kg_transitive", kgTransitive, kgTransitiveSql),
    QueryDef("kg_degree_mixing", kgDegreeMixing, kgDegreeMixingSql),
    QueryDef("kg_motifs", kgMotifs, kgMotifsSql),
    QueryDef("kg_kcore", kgKcore, kgKcoreSql),
    QueryDef("kg_harmonic", kgHarmonic, kgHarmonicSql),
    QueryDef("kg_reach_curve", kgReachCurve, kgReachCurveSql),
    QueryDef("kg_betweenness", kgBetweenness, kgBetweennessSql),
    QueryDef("kg_ecc", kgEcc, kgEccSql),
    QueryDef("kg_sssp", kgSssp, kgSsspSql),
    QueryDef("kg_walks", kgWalks, kgWalksSql),
    QueryDef("kg_walk_cooc", kgWalkCooc, kgWalkCoocSql),
    QueryDef("kg_ppmi", kgPpmi, kgPpmiSql),
    QueryDef("kg_bgp", kgBgp, kgBgpSql),
    QueryDef("kg_negatives", kgNegatives, kgNegativesSql),
    QueryDef("kg_communities", kgCommunities, kgCommunitiesSql),
    QueryDef("kg_comm_stats", kgCommStats, kgCommStatsSql),
    QueryDef("kg_condense", kgCondense, kgCondenseSql),
    QueryDef("kg_bowtie", kgBowtie, kgBowtieSql),
    QueryDef("kg_modularity", kgModularity, kgModularitySql),
    QueryDef("kg_predicate_gini", kgPredicateGini, kgPredicateGiniSql),
    QueryDef("events_sessions", eventsSessions, eventsSessionsSql),
    QueryDef("events_funnel", eventsFunnel, eventsFunnelSql),
    QueryDef("events_cohorts", eventsCohorts, eventsCohortsSql),
    QueryDef("events_retention_curve", eventsRetentionCurve, eventsRetentionCurveSql),
    QueryDef("events_lifecycle", eventsLifecycle, eventsLifecycleSql),
    QueryDef("events_rfm", eventsRfm, eventsRfmSql),
    QueryDef("events_streaks", eventsStreaks, eventsStreaksSql),
    QueryDef("events_dau_wau", eventsDauWau, eventsDauWauSql),
    QueryDef("events_uniques_sketch", eventsUniquesSketch, eventsUniquesSketchSql),
    QueryDef("events_attribution", eventsAttribution, eventsAttributionSql),
    QueryDef("events_activity", eventsActivity, eventsActivitySql),
    QueryDef("events_asof", eventsAsof, eventsAsofSql),
    QueryDef("events_range_join", eventsRangeJoin, eventsRangeJoinSql),
    QueryDef("events_latency_hist", eventsLatencyHist, eventsLatencyHistSql),
    QueryDef("conv_flatten", convFlatten, convFlattenSql),
    QueryDef("conv_stats", convStats, convStatsSql),
    QueryDef("conv_pack", convPack, convPackSql),
    QueryDef("events_window", eventsWindow, eventsWindowSql),
    QueryDef("events_user_stats", eventsUserStats, eventsUserStatsSql),
    QueryDef("events_props", eventsProps, eventsPropsSql),
    QueryDef("events_transitions", eventsTransitions, eventsTransitionsSql),
    QueryDef("events_trigrams", eventsTrigrams, eventsTrigramsSql),
    QueryDef("events_scd", eventsScd, eventsScdSql),
    QueryDef("events_sliding", eventsSliding, eventsSlidingSql),
    QueryDef("events_value_stats", eventsValueStats, eventsValueStatsSql),
    QueryDef("events_rolling", eventsRolling, eventsRollingSql),
    QueryDef("events_anomaly", eventsAnomaly, eventsAnomalySql),
    QueryDef("events_seasonality", eventsSeasonality, eventsSeasonalitySql),
    QueryDef("events_forecast", eventsForecast, eventsForecastSql),
    QueryDef("events_value_quantiles", eventsValueQuantiles, eventsValueQuantilesSql),
    QueryDef("events_hourly", eventsHourly, eventsHourlySql),
    QueryDef("events_interarrival", eventsInterarrival, eventsInterarrivalSql),
    QueryDef("events_debounce", eventsDebounce, eventsDebounceSql),
    QueryDef("q1_agg", q1Agg, q1AggSql),
    QueryDef("q3_shipping", q3Shipping, q3ShippingSql),
    QueryDef("q5_local_supplier", q5LocalSupplier, q5LocalSupplierSql),
    QueryDef("q18_large_orders", q18LargeOrders, q18LargeOrdersSql),
    QueryDef("q4_priority", q4Priority, q4PrioritySql),
    QueryDef("q6_forecast", q6Forecast, q6ForecastSql),
    QueryDef("q10_returns", q10Returns, q10ReturnsSql),
    QueryDef("q14_promo", q14Promo, q14PromoSql)
  )
}
