package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Driver-facing queries + DuckDB oracles for the training-data pipeline
  * operators (dedup, similarity search, text analysis, multimodal
  * plumbing) over the `documents` and `embeddings` tables.
  */
object OpsQueries {

  import Queries.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Dedup state for the MinHash family: the committed
    * `derived_token_sets` / `derived_band_index` snapshot tables when a
    * derived root is configured and both are committed (the 100 TB read
    * path — candidate generation and verification never touch document
    * text), the single-scan in-query derivation otherwise. Both paths
    * are row-identical (the snapshot IS the committed output of the same
    * derivation), so every query hash-matches the same oracle either
    * way.
    */
  private def dedupState(s: SparkSession, dir: String): Dedup.DedupState = {
    val snap = for {
      t <- Queries.readStage(s, dir, "derived_token_sets")
      b <- Queries.readStage(s, dir, "derived_band_index")
    } yield Dedup.DedupState(t, b)
    snap.getOrElse(Dedup.state(docs(s, dir)))
  }

  // ----- shared SQL fragments -----

  private val tsetCte: String =
    "tset AS (SELECT doc_id, source, list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS toks FROM documents)"

  private val toksCte: String =
    "tk AS (SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)"

  private val quantCte: String =
    "q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS v FROM embeddings)"

  private def listDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) AS BIGINT)"

  private def listNorm(a: String): String =
    s"CAST(list_sum(list_transform($a, x -> x * x)) AS BIGINT)"

  /** The SQ8 code rule as DuckDB SQL over (x, mn, mx) columns — ONE
    * definition shared by the emb_quantize and ann_sq oracles, mirroring
    * the single Scala-side Similarity.SqCode.
    */
  private val sqCodeSql: String =
    "(CASE WHEN mx = mn THEN 0 ELSE (510 * (x - mn) + (mx - mn)) // (2 * (mx - mn)) END)"

  // ----- dedup -----

  val dedupExact: Q = (s, dir) => Dedup.exact(docs(s, dir))

  val dedupExactSql: String =
    "WITH c AS (SELECT text, min(doc_id) AS dup_of FROM documents GROUP BY text) " +
      "SELECT d.doc_id, c.dup_of FROM documents d JOIN c ON d.text = c.text WHERE d.doc_id <> c.dup_of"

  val dedupJaccard: Q = (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), thetaPct = 90)

  val dedupJaccardSql: String =
    s"WITH $tsetCte " +
      "SELECT a.doc_id AS a, b.doc_id AS b, " +
      "CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter, " +
      "CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS uni " +
      "FROM tset a JOIN tset b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE 100 * len(list_intersect(a.toks, b.toks)) >= 90 * (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))"

  /** Dedup threshold-sensitivity curve (Dedup.thresholdCurve) — the
    * oracle keeps the all-pairs rule at the loose θ; the Spark PPJoin
    * candidates are lossless, so the histogram hash-matches.
    */
  val dedupThresholdCurve: Q = (s, dir) => Dedup.thresholdCurve(docs(s, dir), minThetaPct = 70)

  val dedupThresholdCurveSql: String =
    s"WITH $tsetCte, " +
      "pr AS (SELECT CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter, " +
      "CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS uni " +
      "FROM tset a JOIN tset b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE 100 * len(list_intersect(a.toks, b.toks)) >= 70 * (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))), " +
      "jb AS (SELECT CASE WHEN uni = 0 THEN 1000 ELSE (1000 * inter) // uni END AS jp FROM pr) " +
      "SELECT (jp // 50) * 50 AS bucket, CAST(count(*) AS BIGINT) AS n_pairs FROM jb GROUP BY 1"

  val dedupContain: Q = (s, dir) => Dedup.containmentPairs(docs(s, dir), thetaPct = 90)

  /** Oracle keeps the plain blocked all-pairs containment rule — the
    * Spark side's prefix⨝postings candidate join is lossless by the
    * containment prefix lemma, so the hash match proves it.
    */
  val dedupContainSql: String = {
    val k = TextAnalysis.TokenGramLen
    s"WITH $toksCte, " +
      s"g AS (SELECT doc_id, source, list_sort(list_distinct(list_transform(range(1, len(toks) - ${k - 2}), " +
      s"i -> array_to_string(toks[i:i+${k - 1}], ' ')))) AS grams FROM tk WHERE len(toks) >= $k) " +
      "SELECT a.doc_id AS a, b.doc_id AS b, " +
      "CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter, " +
      "CAST(least(len(a.grams), len(b.grams)) AS BIGINT) AS min_grams " +
      "FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE 100 * len(list_intersect(a.grams, b.grams)) >= 90 * least(len(a.grams), len(b.grams))"
  }

  val dedupRecall: Q = (s, dir) => Dedup.lshRecall(dedupState(s, dir), docs(s, dir), thetaPct = 90)

  /** The exact side is the all-pairs same-source Jaccard rule; the LSH
    * side re-uses the verified minhash pair CTEs restricted to the same
    * universe. n_lsh ≡ n_both by construction on both engines.
    * (lazy: `minhashPairCtes` is declared later in the file.)
    */
  lazy val dedupRecallSql: String =
    s"WITH $minhashPairCtes, " +
      "ex AS (SELECT a.doc_id AS a, b.doc_id AS b FROM tset a JOIN tset b " +
      "ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE 100 * len(list_intersect(a.toks, b.toks)) >= 90 * (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))), " +
      "ls AS (SELECT m.a, m.b FROM mhp m JOIN tset ta ON m.a = ta.doc_id " +
      "JOIN tset tb ON m.b = tb.doc_id WHERE ta.source = tb.source), " +
      "bo AS (SELECT ex.a, ex.b FROM ex JOIN ls USING (a, b)), " +
      "c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM ls) AS n_lsh, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM bo) AS n_both) " +
      "SELECT n_exact, n_lsh, n_both, " +
      "CAST((CAST(n_both AS HUGEINT) * 1000) // greatest(n_exact, 1) AS BIGINT) AS recall_permille FROM c"

  val dedupMinhash: Q = (s, dir) => Dedup.minhashLshPairs(dedupState(s, dir), thetaPct = 90)

  /** CTE chain ending in `mhp(a, b, inter, uni)` — the verified
    * MinHash-LSH pair set; shared by the pair and group oracles.
    */
  private val minhashPairCtes: String = {
    val cap = Dedup.DefaultLeadCap // the engine-side default, shared
    val leads = (1 to cap)
      .map(d =>
        s"SELECT doc_id AS a, lead(doc_id, $d) OVER (PARTITION BY bandKey ORDER BY doc_id) AS b FROM band"
      )
      .mkString(" UNION ALL ")
    val star =
      "SELECT min(doc_id) OVER (PARTITION BY bandKey) AS a, doc_id AS b FROM band"
    s"$tsetCte, " +
      s"${mhBandCtes("tset", "")}, " +
      s"cand AS (SELECT DISTINCT a, b FROM ($leads UNION ALL $star) WHERE b IS NOT NULL AND a < b), " +
      "mhp AS (SELECT c.a, c.b, " +
      "CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter, " +
      "CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS uni " +
      "FROM cand c JOIN tset ta ON c.a = ta.doc_id JOIN tset tb ON c.b = tb.doc_id " +
      "WHERE 100 * len(list_intersect(ta.toks, tb.toks)) >= 90 * (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))))"
  }

  val dedupMinhashSql: String =
    s"WITH $minhashPairCtes SELECT a, b, inter, uni FROM mhp"

  /** Incremental dedup: the delta crawl (doc_id % 4 = 3) deduplicated
    * against the committed base corpus (doc_id % 4 ≠ 3) through the base
    * band index alone — Dedup.incrementalKeep. Duplicate iff an LSH band
    * collides AND exact token-set Jaccard ≥ 90.
    */
  val dedupIncremental: Q = (s, dir) => {
    val d = docs(s, dir)
    Dedup.incrementalKeep(
      Dedup.state(d.where(col("doc_id") % 4 =!= 3)),
      d.where(col("doc_id") % 4 === 3),
      thetaPct = 90
    )
  }

  /** Shared md5 minhash (16 seeds) + 8-band key CTEs over an input CTE
    * `src` holding (doc_id, toks); emits `${p}band` = (doc_id, bandKey).
    * The ONE SQL site for the signature/band rule (the Scala side's
    * single site is Dedup.minhashSig/bandKeyCols) — both the batch pair
    * oracle and the incremental oracle compose it.
    *
    * NULL parity with Spark's concat_ws: an empty-token doc has ALL
    * minhashes NULL (list_min of an empty list), and concat_ws skips
    * NULLs, so every Spark band key is md5('') and empty docs share a
    * bucket. DuckDB's `||` would yield NULL keys instead (dropped by
    * equi-joins) — the CASE pins the md5('') rule. NULL minhashes are
    * all-or-nothing per doc, so testing mh[1] suffices.
    */
  private def mhBandCtes(src: String, p: String): String = {
    val seeds = 16
    val bands = 8
    val rows = seeds / bands
    val mh = (0 until seeds)
      .map(i => s"list_min(list_transform(toks, t -> md5('$i:' || t)))")
      .mkString("[", ", ", "]")
    val bandKeys = (0 until bands)
      .map { b =>
        val parts = (0 until rows).map(r => s"mh[${b * rows + r + 1}]").mkString(" || '|' || ")
        s"md5(CASE WHEN mh[1] IS NULL THEN '' ELSE $parts END)"
      }
      .mkString("[", ", ", "]")
    s"${p}sig AS (SELECT doc_id, $mh AS mh FROM $src), " +
      s"${p}band AS (SELECT DISTINCT doc_id, unnest($bandKeys) AS bandKey FROM ${p}sig)"
  }

  val dedupIncrementalSql: String =
    s"WITH $tsetCte, " +
      "base AS (SELECT doc_id, toks FROM tset WHERE doc_id % 4 <> 3), " +
      "delta AS (SELECT doc_id, toks FROM tset WHERE doc_id % 4 = 3), " +
      s"${mhBandCtes("base", "b")}, ${mhBandCtes("delta", "d")}, " +
      "cand AS (SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id " +
      "FROM dband d JOIN bband b ON d.bandKey = b.bandKey), " +
      "ver AS (SELECT c.delta_id, min(c.base_id) AS dup_of FROM cand c " +
      "JOIN delta td ON td.doc_id = c.delta_id JOIN base tb ON tb.doc_id = c.base_id " +
      "WHERE 100 * len(list_intersect(td.toks, tb.toks)) >= " +
      "90 * (len(td.toks) + len(tb.toks) - len(list_intersect(td.toks, tb.toks))) " +
      "GROUP BY c.delta_id) " +
      "SELECT d.doc_id, v.dup_of, " +
      "CAST(CASE WHEN v.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) d " +
      "LEFT JOIN ver v ON v.delta_id = d.doc_id"

  val dedupGroups: Q = (s, dir) => Dedup.minhashGroups(dedupState(s, dir), thetaPct = 90)

  /** Recursive min-label walk over the verified pair graph — identical
    * fixpoint to the Spark connected-components loop.
    */
  val dedupGroupsSql: String =
    s"WITH RECURSIVE $minhashPairCtes, " +
      "e AS (SELECT a AS src, b AS dst FROM mhp UNION SELECT b, a FROM mhp), " +
      "gnodes AS (SELECT DISTINCT src AS node FROM e), " +
      "walk(node, label) AS (SELECT node, node FROM gnodes " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node) " +
      "SELECT node AS doc_id, min(label) AS dup_group FROM walk GROUP BY node"

  /** Near-dup keep list (Dedup.nearDupKeep): the dedup verdict table —
    * composes the shared MinHash pair CTEs + the CC walk + a left join
    * back to every document.
    */
  val dedupKeep: Q = (s, dir) => Dedup.nearDupKeep(dedupState(s, dir), thetaPct = 90)

  val dedupKeepSql: String =
    s"WITH RECURSIVE $minhashPairCtes, " +
      "e AS (SELECT a AS src, b AS dst FROM mhp UNION SELECT b, a FROM mhp), " +
      "gnodes AS (SELECT DISTINCT src AS node FROM e), " +
      "walk(node, label) AS (SELECT node, node FROM gnodes " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node), " +
      "grp AS (SELECT node AS doc_id, min(label) AS dup_group FROM walk GROUP BY node) " +
      "SELECT d.doc_id, grp.dup_group, " +
      "CAST(CASE WHEN grp.dup_group IS NULL OR grp.dup_group = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM documents d LEFT JOIN grp ON grp.doc_id = d.doc_id"

  /** Per-document crawl-order gram novelty (TextAnalysis.gramNovelty):
    * distinct 8-grams first seen in this doc, in permille of the doc's
    * gram set — the same gram CTE as dup_grams with a min-owner join.
    */
  val textNovelty: Q = (s, dir) => TextAnalysis.gramNovelty(docs(s, dir))

  val textNoveltySql: String = {
    val k = TextAnalysis.TokenGramLen
    s"WITH $toksCte, " +
      s"g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
      s"unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram " +
      s"FROM tk WHERE len(toks) >= $k)), " +
      "f AS (SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc FROM g GROUP BY gram) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      "CAST(count(CASE WHEN first_doc = doc_id THEN 1 END) AS BIGINT) AS n_new, " +
      "CAST((1000 * count(CASE WHEN first_doc = doc_id THEN 1 END)) // count(*) AS BIGINT) AS novelty_permille " +
      "FROM g JOIN f USING (gram) GROUP BY doc_id"
  }

  /** Per-source hapax-legomena profile (TextAnalysis.hapaxProfile):
    * token mass, vocabulary, once-only words and their permille share.
    */
  val textHapax: Q = (s, dir) => TextAnalysis.hapaxProfile(docs(s, dir))

  val textHapaxSql: String =
    "WITH tkx AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents), " +
      "c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt FROM tkx GROUP BY 1, 2) " +
      "SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS vocab, " +
      "CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS BIGINT) AS hapax, " +
      "CAST((1000 * count(CASE WHEN cnt = 1 THEN 1 END)) // count(*) AS BIGINT) AS hapax_permille " +
      "FROM c GROUP BY source"

  /** Per-source duplication rollup (Dedup.sourceDupProfile): the
    * near-dup keep verdicts joined to sources and folded to a
    * domain-level drop-rate table; the oracle nests the full
    * recursive keep-list query as a derived table.
    */
  val dedupSourceProfile: Q = (s, dir) => Dedup.sourceDupProfile(dedupState(s, dir), docs(s, dir), thetaPct = 90)

  val dedupSourceProfileSql: String =
    s"SELECT d2.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN kl.keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
      "CAST((1000 * sum(CASE WHEN kl.keep = 0 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS drop_permille " +
      s"FROM ($dedupKeepSql) kl JOIN documents d2 USING (doc_id) GROUP BY d2.source"

  /** Word2vec skip-gram pair table (TextAnalysis.skipgrams, window ±2,
    * top-5 contexts per center).
    */
  val textSkipgrams: Q = (s, dir) => TextAnalysis.skipgrams(docs(s, dir))

  val textSkipgramsSql: String =
    s"WITH $toksCte, " +
      "ij AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tk WHERE len(toks) >= 2), " +
      "pr AS (SELECT toks[CAST(i AS INT)] AS center, toks[CAST(j AS INT)] AS context FROM " +
      "(SELECT toks, i, unnest(range(greatest(1, i - 2), least(len(toks), i + 2) + 1)) AS j FROM ij) WHERE j <> i), " +
      "c AS (SELECT center, context, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY 1, 2), " +
      "r AS (SELECT center, context, cnt, CAST(row_number() OVER (PARTITION BY center ORDER BY cnt DESC, context) AS BIGINT) AS rnk FROM c) " +
      "SELECT center, context, cnt, rnk FROM r WHERE rnk <= 5"

  private val hexHigh = "('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')"

  private val simhashCtes: String = {
    val sums = (0 until Dedup.SimhashBits)
      .map(j => s"CAST(sum(CASE WHEN substr(h, ${j + 1}, 1) IN $hexHigh THEN 1 ELSE -1 END) AS BIGINT) AS s$j")
      .mkString(", ")
    val shift = (0 until Dedup.SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    "tkx AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), " +
      "hh AS (SELECT doc_id, md5(tok) AS h FROM tkx), " +
      s"ss AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id), " +
      s"sh AS (SELECT doc_id, CAST($shift AS BIGINT) AS simhash FROM ss)"
  }

  val dedupSimhash: Q = (s, dir) => Dedup.simhash(docs(s, dir))

  val dedupSimhashSql: String =
    s"WITH $simhashCtes SELECT doc_id, simhash FROM sh"

  val dedupSimhashPairs: Q = (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 3)

  val dedupSimhashPairsSql: String =
    s"WITH $simhashCtes, " +
      "shs AS (SELECT sh.doc_id, sh.simhash, d.source FROM sh JOIN documents d ON sh.doc_id = d.doc_id) " +
      "SELECT a.doc_id AS a, b.doc_id AS b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
      "FROM shs a JOIN shs b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"

  val dedupEditVerify: Q = (s, dir) => Dedup.editVerifiedPairs(docs(s, dir), maxHamming = 3, prefixLen = 300)

  // the SimHash candidate CTE chain plus DuckDB's levenshtein over the
  // same 300-char prefixes; greatest() nesting mirrors the Spark side
  // so the integer division is identical
  val dedupEditVerifySql: String =
    s"WITH $simhashCtes, " +
      "shs AS (SELECT sh.doc_id, sh.simhash, d.source, left(d.text, 300) AS t FROM sh JOIN documents d ON sh.doc_id = d.doc_id), " +
      "pr AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming, " +
      "CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist, length(a.t) AS la, length(b.t) AS lb " +
      "FROM shs a JOIN shs b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) " +
      "SELECT a, b, hamming, edit_dist, " +
      "CAST(1000 - (1000 * edit_dist) // greatest(la, greatest(lb, 1)) AS BIGINT) AS sim_permille FROM pr"

  val embNearDup: Q = (s, dir) => Similarity.cosineNearDupPairs(emb(s, dir), thetaMilli = 150)

  // same (label, sign-bit bucket) blocking rule as the Spark side — the
  // bucket join is the declared scale path (bucketCtes defines bk below).
  // CTE chain ends in enp(a, b, score_milli): the verified pair set,
  // shared by the pair and semantic-group oracles.
  private def embPairCtes(thetaMilli: Int): String =
    s"$quantCte, $bucketCtes, " +
      "qbk AS (SELECT q.vec_id, q.label, q.v, bk.bucket FROM q JOIN bk ON q.vec_id = bk.vec_id), " +
      s"enp AS (SELECT a.vec_id AS a, b.vec_id AS b, " +
      s"(1000 * ${listDot("a.v", "b.v")} * abs(${listDot("a.v", "b.v")})) // (${listNorm("a.v")} * ${listNorm("b.v")}) AS score_milli " +
      "FROM qbk a JOIN qbk b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id " +
      s"WHERE (1000 * ${listDot("a.v", "b.v")} * abs(${listDot("a.v", "b.v")})) // (${listNorm("a.v")} * ${listNorm("b.v")}) >= $thetaMilli)"

  def embNearDupSql: String =
    s"WITH ${embPairCtes(150)} SELECT a, b, score_milli FROM enp"

  val semanticGroups: Q = (s, dir) => Similarity.cosineGroups(emb(s, dir))

  /** Recursive min-label walk over the verified cosine pair graph —
    * identical fixpoint to the adaptive CC on the Spark side.
    * (def, not val: bucketCtes inside embPairCtes is declared later in
    * the file — an eager val would capture null at object init.)
    */
  def semanticGroupsSql: String =
    s"WITH RECURSIVE ${embPairCtes(50)}, " +
      "e AS (SELECT a AS src, b AS dst FROM enp UNION SELECT b, a FROM enp), " +
      "gn AS (SELECT DISTINCT src AS node FROM e), " +
      "walk(node, label) AS (SELECT node, node FROM gn " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node) " +
      "SELECT node AS vec_id, min(label) AS dup_group FROM walk GROUP BY node"

  // ----- similarity search -----

  /** ANN parameters shared by the Scala query definitions AND the
    * oracle SQL below — interpolated on both sides so they cannot
    * drift (a one-sided change would silently desync the hash compare).
    */
  private val AnnNQueries = 20
  private val AnnK = 8

  val annTopK: Q = (s, dir) => Similarity.bruteTopK(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annTopKSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS q, c.vec_id AS n, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS score_milli " +
      s"FROM q qs JOIN q c ON qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"

  val annBuckets: Q = (s, dir) => Similarity.buckets(emb(s, dir))

  private val bucketCtes: String =
    s"pl AS (SELECT j, d, CAST(((j * 31 + d * 17) % 7) - 3 AS BIGINT) AS w FROM (SELECT unnest(range(${Similarity.Planes})) AS j), (SELECT unnest(range(64)) AS d)), " +
      "ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM q), " +
      "bits AS (SELECT vec_id, j, CAST(sum(x * w) AS BIGINT) AS dotj FROM ex JOIN pl ON pl.d = ex.d GROUP BY vec_id, j), " +
      "bk AS (SELECT vec_id, CAST(sum(CASE WHEN dotj > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)"

  val annBucketsSql: String =
    s"WITH $quantCte, $bucketCtes SELECT vec_id, bucket FROM bk"

  val annLsh: Q = (s, dir) => Similarity.lshTopK(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annLshSql: String =
    s"WITH $quantCte, $bucketCtes, " +
      "qb AS (SELECT q.vec_id, q.v, bk.bucket FROM q JOIN bk ON q.vec_id = bk.vec_id), " +
      "scored AS (SELECT qs.vec_id AS q, c.vec_id AS n, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS score_milli " +
      s"FROM qb qs JOIN qb c ON qs.bucket = c.bucket AND qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"

  /** Hard-negative mining (Similarity.hardNegatives): per query, the
    * top-k most similar DIFFERENT-label vectors — the contrastive-
    * training pair table. Same integer cosine rule as ann_topk with the
    * label-exclusion predicate.
    */
  val embHardNegatives: Q = (s, dir) =>
    Similarity.hardNegatives(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val embHardNegativesSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS q, c.vec_id AS n, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS score_milli " +
      s"FROM q qs JOIN q c ON qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id AND c.label <> qs.label), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"

  val annIvf: Q = (s, dir) => Similarity.ivfTopK(emb(s, dir))

  /** Replays ivfTopK's deterministic training verbatim: md5-seeded
    * sample, one Lloyd iteration with exact floor-mean centroids, argmin
    * assignment with cell tiebreak, nProbe-cell probe, same integer
    * cosine ranking as the other ANN oracles.
    */
  val annIvfSql: String = {
    val nCells = 16
    val nProbe = 6
    val nQueries = 20
    val k = 8
    val lloydIters = 2
    def d2(v: String, cv: String): String =
      s"list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    // one Lloyd round: assign to cents{i-1}, floor-mean update -> cents{i}
    def lloydRound(it: Int): String = {
      val prev = if (it == 1) "cents0" else s"cents${it - 1}"
      s"a$it AS (SELECT vec_id, v, cell FROM (SELECT q.vec_id, q.v, c.cell, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${d2("q.v", "c.cv")}, c.cell) AS rn " +
        s"FROM q CROSS JOIN $prev c) WHERE rn = 1), " +
        s"comp$it AS (SELECT cell, i, sum(v[i]) AS s, count(*) AS c FROM a$it " +
        "CROSS JOIN UNNEST(range(1, len(v) + 1)) AS t(i) GROUP BY cell, i), " +
        s"upd$it AS (SELECT cell, list((s - (((s % c) + c) % c)) // c ORDER BY i) AS uv FROM comp$it GROUP BY cell), " +
        s"cents$it AS (SELECT p.cell, COALESCE(u.uv, p.cv) AS cv FROM $prev p LEFT JOIN upd$it u ON p.cell = u.cell)"
    }
    val cents = s"cents$lloydIters"
    s"WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS v FROM embeddings), " +
      "cents0 AS (SELECT v AS cv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell " +
      s"FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCells), " +
      (1 to lloydIters).map(lloydRound).mkString("", ", ", ", ") +
      "idx AS (SELECT vec_id, v, cell FROM (SELECT q.vec_id, q.v, c.cell, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${d2("q.v", "c.cv")}, c.cell) AS rn " +
      s"FROM q CROSS JOIN $cents c) WHERE rn = 1), " +
      s"qs AS (SELECT vec_id, v FROM q WHERE vec_id < $nQueries), " +
      "probes AS (SELECT vec_id AS qid, qv, cell FROM (SELECT qs.vec_id, qs.v AS qv, c.cell, " +
      s"row_number() OVER (PARTITION BY qs.vec_id ORDER BY ${d2("qs.v", "c.cv")}, c.cell) AS rn " +
      s"FROM qs CROSS JOIN $cents c) WHERE rn <= $nProbe), " +
      "scored AS (SELECT p.qid AS q, idx.vec_id AS n, " +
      s"(1000 * ${listDot("p.qv", "idx.v")} * abs(${listDot("p.qv", "idx.v")})) // (${listNorm("idx.v")} * ${listNorm("p.qv")}) AS score_milli " +
      "FROM probes p JOIN idx ON idx.cell = p.cell WHERE idx.vec_id <> p.qid), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $k"
  }

  val annPq: Q = (s, dir) => Similarity.pqCodes(emb(s, dir))

  /** Per-subspace replay of the deterministic PQ training: the same
    * md5-seeded sample + one exact floor-mean Lloyd round as ann_ivf,
    * run on each of the 4 contiguous 16-dim slices, then argmin
    * assignment with cell tiebreak and the exact squared reconstruction
    * error summed across subspaces.
    */
  val annPqSql: String = {
    val m = 4
    val nCodes = 8
    val sub = 16
    def d2(v: String, cv: String): String =
      s"list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    def subspace(j: Int): String = {
      val lo = j * sub + 1
      val hi = (j + 1) * sub
      s"s$j AS (SELECT vec_id, v[$lo:$hi] AS v FROM q), " +
        s"c${j}0 AS (SELECT v AS cv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell " +
        s"FROM s$j ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCodes), " +
        s"a$j AS (SELECT vec_id, v, cell FROM (SELECT s.vec_id, s.v, c.cell, " +
        s"row_number() OVER (PARTITION BY s.vec_id ORDER BY ${d2("s.v", "c.cv")}, c.cell) AS rn " +
        s"FROM s$j s CROSS JOIN c${j}0 c) WHERE rn = 1), " +
        s"comp$j AS (SELECT cell, i, sum(v[i]) AS s, count(*) AS c FROM a$j " +
        "CROSS JOIN UNNEST(range(1, len(v) + 1)) AS t(i) GROUP BY cell, i), " +
        s"upd$j AS (SELECT cell, list((s - (((s % c) + c) % c)) // c ORDER BY i) AS uv FROM comp$j GROUP BY cell), " +
        s"c${j}1 AS (SELECT p.cell, COALESCE(u.uv, p.cv) AS cv FROM c${j}0 p LEFT JOIN upd$j u ON p.cell = u.cell), " +
        s"code$j AS (SELECT vec_id, cell, d2 FROM (SELECT s.vec_id, c.cell, ${d2("s.v", "c.cv")} AS d2, " +
        s"row_number() OVER (PARTITION BY s.vec_id ORDER BY ${d2("s.v", "c.cv")}, c.cell) AS rn " +
        s"FROM s$j s CROSS JOIN c${j}1 c) WHERE rn = 1)"
    }
    "WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS v FROM embeddings), " +
      (0 until m).map(subspace).mkString(", ") + " " +
      "SELECT q.vec_id, " + (0 until m).map(j => s"code$j.cell AS code_$j").mkString(", ") + ", " +
      s"CAST(${(0 until m).map(j => s"code$j.d2").mkString(" + ")} AS BIGINT) AS err_d2 FROM q " +
      (0 until m).map(j => s"JOIN code$j ON code$j.vec_id = q.vec_id").mkString(" ")
  }

  // ----- text analysis -----

  val textLangId: Q = (s, dir) => TextAnalysis.langId(docs(s, dir))

  val textLangIdSql: String = {
    def cnt(lang: String): String = {
      val set = TextAnalysis.markers(lang).map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(toks, t -> t IN ($set))) AS BIGINT) AS c_$lang"
    }
    s"WITH $toksCte, c AS (SELECT doc_id, ${cnt("en")}, ${cnt("de")}, ${cnt("es")}, ${cnt("fr")} FROM tk) " +
      "SELECT doc_id, c_en, c_de, c_es, c_fr, CASE " +
      "WHEN c_en > c_de AND c_en > c_es AND c_en > c_fr THEN 'en' " +
      "WHEN c_de > c_en AND c_de > c_es AND c_de > c_fr THEN 'de' " +
      "WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es' " +
      "WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr' " +
      "ELSE 'und' END AS lang_pred FROM c"
  }

  /** Language-ID confusion matrix (TextAnalysis.langConfusion): the
    * heuristic's predictions against the ground-truth lang column,
    * with per-truth-language permille (diagonal = recall).
    */
  val textLangConfusion: Q = (s, dir) => TextAnalysis.langConfusion(docs(s, dir))

  val textLangConfusionSql: String =
    s"WITH lp AS ($textLangIdSql), " +
      "cm AS (SELECT d.lang, lp.lang_pred, CAST(count(*) AS BIGINT) AS n " +
      "FROM lp JOIN documents d USING (doc_id) GROUP BY 1, 2), " +
      "t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total FROM cm GROUP BY 1) " +
      "SELECT cm.lang, cm.lang_pred, cm.n, " +
      "CAST((1000 * cm.n) // t.lang_total AS BIGINT) AS permille_of_lang " +
      "FROM cm JOIN t USING (lang)"

  val textQuality: Q = (s, dir) => TextAnalysis.quality(docs(s, dir))

  val textQualitySql: String = {
    val stopSet = TextAnalysis.markers("en").map(m => s"'$m'").mkString(", ")
    s"WITH $toksCte, f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
      "CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS tok_chars, " +
      s"CAST(len(list_filter(toks, t -> t IN ($stopSet))) AS BIGINT) AS stop_hits " +
      "FROM tk JOIN documents USING (doc_id) WHERE len(toks) > 0) " +
      "SELECT doc_id, n_chars, n_tokens, (1000 * tok_chars) // n_tokens AS avg_tok_len_milli, " +
      "(100 * stop_hits) // n_tokens AS stop_pct, " +
      "least(1000, (1000 * stop_hits) // n_tokens + n_tokens) AS quality_milli FROM f"
  }

  /** Length-vs-quality Pearson diagnostics (TextAnalysis.qualityCorr) —
    * exact integer slope/r², sign applied outside the division (Spark
    * div truncates, DuckDB // floors; magnitudes only cross the oracle).
    */
  val textQualityCorr: Q = (s, dir) => TextAnalysis.qualityCorr(docs(s, dir))

  val textQualityCorrSql: String = {
    val stopSet = TextAnalysis.markers("en").map(m => s"'$m'").mkString(", ")
    s"WITH $toksCte, f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      s"CAST(len(list_filter(toks, t -> t IN ($stopSet))) AS BIGINT) AS stop_hits " +
      "FROM tk WHERE len(toks) > 0), " +
      "q AS (SELECT CAST(n_tokens AS HUGEINT) AS x, " +
      "CAST(least(1000, (1000 * stop_hits) // n_tokens + n_tokens) AS HUGEINT) AS y FROM f), " +
      "m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy, " +
      "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM q), " +
      "c AS (SELECT CAST(n AS BIGINT) AS n_docs, n * sxy - sx * sy AS cov, " +
      "n * sxx - sx * sx AS varx, n * syy - sy * sy AS vary FROM m) " +
      "SELECT n_docs, CAST(CASE WHEN varx = 0 THEN 0 ELSE " +
      "(CASE WHEN cov < 0 THEN -1 ELSE 1 END) * ((1000 * abs(cov)) // varx) END AS BIGINT) AS slope_milli, " +
      "CAST(CASE WHEN varx = 0 OR vary = 0 THEN 0 ELSE " +
      "(1000000 * cov * cov) // (varx * vary) END AS BIGINT) AS r2_ppm FROM c"
  }

  val textTokenCounts: Q = (s, dir) => TextAnalysis.tokenCounts(docs(s, dir))

  val textTokenCountsSql: String =
    s"WITH $toksCte SELECT doc_id, CAST(len(toks) AS BIGINT) AS ws_tokens, " +
      "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens " +
      "FROM tk JOIN documents USING (doc_id)"

  /** FK-style readability grade (TextAnalysis.readability): the exact
    * integer rational (390w² + 11800ys − 15590sw) div (sw) with the
    * numerator clamped at 0 before the division (truncate == floor on
    * non-negatives, so Spark div and DuckDB // agree).
    */
  val textReadability: Q = (s, dir) => TextAnalysis.readability(docs(s, dir))

  val textReadabilitySql: String =
    s"WITH $toksCte, f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, " +
      "greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences, " +
      "CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS raw_syll " +
      "FROM tk JOIN documents USING (doc_id) WHERE len(toks) > 0), " +
      "g AS (SELECT doc_id, n_words, n_sentences, greatest(n_words, raw_syll) AS n_syllables FROM f) " +
      "SELECT doc_id, n_words, n_sentences, n_syllables, " +
      "CAST(greatest(CAST(0 AS HUGEINT), 390 * CAST(n_words AS HUGEINT) * n_words " +
      "+ 11800 * CAST(n_syllables AS HUGEINT) * n_sentences " +
      "- 15590 * CAST(n_sentences AS HUGEINT) * n_words) " +
      "// (CAST(n_sentences AS HUGEINT) * n_words) AS BIGINT) AS grade_milli FROM g"

  /** TF-IDF keyword extraction — top-3 distinctive tokens per document
    * with the integer surrogate score (1000 * tf * N) div df; ties on
    * the token so the per-doc top-k is total-ordered on both sides.
    */
  val textKeywords: Q = (s, dir) => TextAnalysis.tfidfKeywords(docs(s, dir), k = 3)

  val textKeywordsSql: String =
    "WITH tkw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS keyword FROM documents), " +
      "tf AS (SELECT doc_id, keyword, CAST(count(*) AS BIGINT) AS tf FROM tkw GROUP BY doc_id, keyword), " +
      "df AS (SELECT keyword, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY keyword), " +
      "n AS (SELECT count(*) AS n FROM documents), " +
      "s AS (SELECT doc_id, keyword, tf, CAST((1000 * tf * n.n) // df AS BIGINT) AS score_milli, " +
      "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY (1000 * tf * n.n) // df DESC, keyword) AS BIGINT) AS rnk " +
      "FROM tf JOIN df USING (keyword) CROSS JOIN n) " +
      "SELECT doc_id, keyword, score_milli, rnk FROM s WHERE rnk <= 3"

  /** Mergeable per-source distinct-token sketch (HLL register shape at
    * nibble granularity; TextAnalysis.distinctSketch) — registers only,
    * identical md5 routing/rank rule in the oracle.
    */
  val textSketch: Q = (s, dir) => TextAnalysis.distinctSketch(docs(s, dir))

  val textSketchSql: String = {
    val b = TextAnalysis.SketchBuckets
    "WITH tks AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), " +
      "hh AS (SELECT source, md5(tok) AS h FROM tks), " +
      s"r AS (SELECT source, CAST(((ascii(substr(h, 1, 1)) - CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 + (ascii(substr(h, 2, 1)) - CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN 87 ELSE 48 END)) % $b AS BIGINT) AS bucket, " +
      "CAST(length(regexp_extract(substr(h, 3, 16), '^(0*)', 1)) + 1 AS BIGINT) AS rank FROM hh) " +
      "SELECT source, bucket, max(rank) AS max_rank FROM r GROUP BY source, bucket"
  }

  /** Count-min sketch registers (TextAnalysis.cmSketch) — identical md5
    * routing in the oracle; merge-by-sum and the one-sided point-query
    * guarantee are asserted in OpsSpec.
    */
  val textCms: Q = (s, dir) => TextAnalysis.cmSketch(docs(s, dir))

  val textCmsSql: String = {
    val w = TextAnalysis.CmsWidth
    val rows = (0 until TextAnalysis.CmsDepth)
      .map { r =>
        s"SELECT CAST($r AS BIGINT) AS row, " +
          s"CAST(((ascii(substr(md5('$r:' || tok), 1, 1)) - CASE WHEN ascii(substr(md5('$r:' || tok), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 + (ascii(substr(md5('$r:' || tok), 2, 1)) - CASE WHEN ascii(substr(md5('$r:' || tok), 2, 1)) >= 97 THEN 87 ELSE 48 END)) % $w AS BIGINT) AS col FROM tks"
      }
      .mkString(" UNION ALL ")
    "WITH tks AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), " +
      s"rc AS ($rows) " +
      "SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM rc GROUP BY 1, 2"
  }

  /** Per-label centroids + within-class scatter (Similarity.centroids /
    * .centroidSpread) — the same exact floor-mean rule as the IVF/PQ
    * trainers, replayed dimension-wise in the oracle.
    */
  val embCentroids: Q = (s, dir) => Similarity.centroids(emb(s, dir))

  private val centroidCtes: String =
    s"$quantCte, " +
      "exd AS (SELECT CAST(label AS BIGINT) AS label, vec_id, " +
      "CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim, unnest(v) AS x FROM q), " +
      "cen AS (SELECT label, dim, CAST((s - (((s % c) + c) % c)) // c AS BIGINT) AS cval FROM " +
      "(SELECT label, dim, CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c FROM exd GROUP BY 1, 2))"

  val embCentroidsSql: String =
    s"WITH $centroidCtes SELECT label, dim, cval FROM cen"

  val embSpread: Q = (s, dir) => Similarity.centroidSpread(emb(s, dir))

  val embSpreadSql: String =
    s"WITH $centroidCtes " +
      "SELECT e.label, CAST(count(DISTINCT e.vec_id) AS BIGINT) AS n, " +
      "CAST(sum((e.x - c.cval) * (e.x - c.cval)) AS BIGINT) AS spread_d2 " +
      "FROM exd e JOIN cen c ON c.label = e.label AND c.dim = e.dim GROUP BY e.label"

  /** SQ8 scalar quantization (Similarity.sqCodes): per-dimension
    * [min,max] affine 8-bit codes with exact integer reconstruction
    * error; code and recon divisions are over non-negative terms so
    * truncate == floor across engines.
    */
  val embQuantize: Q = (s, dir) => Similarity.sqCodes(emb(s, dir))

  val embQuantizeSql: String = {
    val code = sqCodeSql
    s"WITH $quantCte, " +
      "ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
      "generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM q), " +
      "st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d), " +
      s"pe AS (SELECT vec_id, label, $code AS c, " +
      s"abs(x - (mn + (2 * $code * (mx - mn) + 255) // 510)) AS e " +
      "FROM ex JOIN st USING (d)) " +
      "SELECT vec_id, label, CAST(sum(c) AS BIGINT) AS code_sum, " +
      "CAST(sum(e) AS BIGINT) AS err_sum_centi, CAST(max(e) AS BIGINT) AS err_max_centi " +
      "FROM pe GROUP BY vec_id, label"
  }

  /** Binary-sketch Hamming ranking (Similarity.hammingTopK): the
    * oracle rebuilds the 48-bit packed sign sketch with the identical
    * plane-weight formula and ranks by bit_count(xor).
    */
  val annHamming: Q = (s, dir) =>
    Similarity.hammingTopK(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annHammingSql: String =
    s"WITH $quantCte, " +
      s"pl AS (SELECT j, d, CAST(((j * 31 + d * 17) % 7) - 3 AS BIGINT) AS w FROM " +
      s"(SELECT unnest(range(${Similarity.SketchBits})) AS j), (SELECT unnest(range(64)) AS d)), " +
      "ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM q), " +
      "bits AS (SELECT vec_id, j, CAST(sum(x * w) AS BIGINT) AS dotj FROM ex JOIN pl ON pl.d = ex.d GROUP BY vec_id, j), " +
      "sk AS (SELECT vec_id, CAST(sum(CASE WHEN dotj > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS s FROM bits GROUP BY vec_id), " +
      "sc AS (SELECT qs.vec_id AS q, c.vec_id AS n, CAST(bit_count(xor(qs.s, c.s)) AS BIGINT) AS hamming " +
      s"FROM sk qs JOIN sk c ON qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id), " +
      "ranked AS (SELECT q, n, hamming, row_number() OVER (PARTITION BY q ORDER BY hamming, n) AS rnk FROM sc) " +
      s"SELECT q, n, hamming, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"

  /** Recall@k of the Hamming ranking vs exact brute
    * (Similarity.annRecallHamming) — the prefilter-quality gate.
    */
  val annRecallHamming: Q = (s, dir) =>
    Similarity.annRecallHamming(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annRecallHammingSql: String =
    s"WITH bt AS ($annTopKSql), hm AS ($annHammingSql), " +
      "hs AS (SELECT bt.q, CAST(count(*) AS BIGINT) AS h FROM bt " +
      "JOIN hm r ON r.q = bt.q AND r.n = bt.n GROUP BY bt.q), " +
      "t AS (SELECT q, CAST(count(*) AS BIGINT) AS n_true FROM bt GROUP BY q) " +
      "SELECT t.q, t.n_true, CAST(coalesce(hs.h, 0) AS BIGINT) AS n_hits_hamming, " +
      "CAST((1000 * coalesce(hs.h, 0)) // t.n_true AS BIGINT) AS recall_hamming_permille " +
      "FROM t LEFT JOIN hs ON hs.q = t.q"

  /** Code-vs-prose routing signal (TextAnalysis.codeDetect): symbol
    * share + structural-character counts and the declared verdict.
    */
  val textCodeDetect: Q = (s, dir) => TextAnalysis.codeDetect(docs(s, dir))

  val textCodeDetectSql: String =
    "WITH f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
      "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS symbols, " +
      "CAST(len(regexp_extract_all(text, '[{}()\\[\\]]')) AS BIGINT) AS brace_hits, " +
      "CAST(len(regexp_extract_all(text, '[;=]')) AS BIGINT) AS op_hits " +
      "FROM documents WHERE length(text) > 0) " +
      "SELECT doc_id, n_chars, (1000 * symbols) // n_chars AS symbol_permille, brace_hits, op_hits, " +
      "CAST(CASE WHEN (1000 * symbols) // n_chars >= 50 AND brace_hits + op_hits >= 3 THEN 1 ELSE 0 END AS BIGINT) AS is_code " +
      "FROM f"

  /** Per-query label margin (Similarity.labelMargin): best same-label
    * minus best different-label integer cosine — the separability
    * eval; NULL best_same when the query's label has no other member.
    */
  val embMargin: Q = (s, dir) => Similarity.labelMargin(emb(s, dir), nQueries = AnnNQueries)

  val embMarginSql: String =
    s"WITH $quantCte, " +
      "sc AS (SELECT qs.vec_id AS q, CAST(qs.label AS BIGINT) AS ql, CAST(c.label AS BIGINT) AS nl, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS s " +
      s"FROM q qs JOIN q c ON qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id) " +
      "SELECT q, CAST(max(CASE WHEN nl = ql THEN s END) AS BIGINT) AS best_same_milli, " +
      "CAST(max(CASE WHEN nl <> ql THEN s END) AS BIGINT) AS best_diff_milli, " +
      "CAST(max(CASE WHEN nl = ql THEN s END) - max(CASE WHEN nl <> ql THEN s END) AS BIGINT) AS margin_milli " +
      "FROM sc GROUP BY q"

  /** Per-dimension stats (Similarity.dimStats): exact integer
    * min/max/sum and sample variance per embedding dimension — the
    * dead-dimension audit, DECIMAL/HUGEINT-widened.
    */
  val embDimStats: Q = (s, dir) => Similarity.dimStats(emb(s, dir))

  val embDimStatsSql: String =
    s"WITH $quantCte, " +
      "ex AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS d, unnest(v) AS x FROM q) " +
      "SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(min(x) AS BIGINT) AS min_x, " +
      "CAST(max(x) AS BIGINT) AS max_x, CAST(sum(x) AS BIGINT) AS sum_x, " +
      "CAST(CASE WHEN count(*) > 1 THEN (CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x) " +
      "- CAST(sum(x) AS HUGEINT) * sum(x)) // (CAST(count(*) AS HUGEINT) * (count(*) - 1)) ELSE 0 END AS BIGINT) AS var_centi2 " +
      "FROM ex GROUP BY d"

  /** Per-label norm profile (Similarity.normProfile): exact integer
    * min/max/floor-mean squared norms, the collapse monitor's gauge.
    */
  val embNorms: Q = (s, dir) => Similarity.normProfile(emb(s, dir))

  val embNormsSql: String =
    s"WITH $quantCte, " +
      "nn AS (SELECT CAST(label AS BIGINT) AS label, " +
      "CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM q) " +
      "SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(min(n2) AS BIGINT) AS min_n2, " +
      "CAST(max(n2) AS BIGINT) AS max_n2, CAST(sum(n2) // count(*) AS BIGINT) AS avg_n2 " +
      "FROM nn GROUP BY label"

  /** Centroid-distance outlier scores (Similarity.centroidOutliers):
    * exact per-vector d² to the label centroid, normalized by the
    * label mean via the division-free 1000·d²·n div Σd² rational.
    */
  val embOutliers: Q = (s, dir) => Similarity.centroidOutliers(emb(s, dir))

  val embOutliersSql: String =
    s"WITH $centroidCtes, " +
      "d2 AS (SELECT e.vec_id, e.label, CAST(sum((e.x - c.cval) * (e.x - c.cval)) AS BIGINT) AS d2 " +
      "FROM exd e JOIN cen c ON c.label = e.label AND c.dim = e.dim GROUP BY 1, 2), " +
      "l AS (SELECT label, CAST(sum(d2) AS BIGINT) AS sum_d2, CAST(count(*) AS BIGINT) AS n FROM d2 GROUP BY 1) " +
      "SELECT d2.vec_id, d2.label, d2.d2, " +
      "CASE WHEN l.sum_d2 = 0 THEN CAST(0 AS BIGINT) " +
      "ELSE CAST((CAST(1000 AS HUGEINT) * d2.d2 * l.n) // l.sum_d2 AS BIGINT) END AS ratio_milli " +
      "FROM d2 JOIN l USING (label)"

  /** Inter-class centroid separation (Similarity.centroidSeparation):
    * exact squared L2 distance between every label-centroid pair.
    */
  val embSeparation: Q = (s, dir) => Similarity.centroidSeparation(emb(s, dir))

  val embSeparationSql: String =
    s"WITH $centroidCtes " +
      "SELECT a.label AS label_a, b.label AS label_b, " +
      "CAST(sum((a.cval - b.cval) * (a.cval - b.cval)) AS BIGINT) AS centroid_d2 " +
      "FROM cen a JOIN cen b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2"

  /** Bigram LM table — top-5 continuations per head word with integer
    * conditional probability and collocation lift
    * (TextAnalysis.lmBigrams); the oracle replays the identical
    * adjacent-pair explode, marginals, integer divisions and
    * (cnt desc, w2) top-k order.
    */
  val lmBigrams: Q = (s, dir) => TextAnalysis.lmBigrams(docs(s, dir))

  val lmBigramsSql: String =
    "WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), " +
      "b0 AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 2), " +
      "b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM b0), " +
      "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), " +
      "w1t AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS w1_cnt FROM bc GROUP BY 1), " +
      "w2t AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS w2_cnt FROM bc GROUP BY 1), " +
      "n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bc), " +
      "j AS (SELECT bc.w1, bc.w2, bc.cnt, (1000 * bc.cnt) // w1_cnt AS p_cond_milli, " +
      "(1000 * n.n * bc.cnt) // (w1_cnt * w2_cnt) AS lift_milli, " +
      "row_number() OVER (PARTITION BY bc.w1 ORDER BY bc.cnt DESC, bc.w2) AS rnk " +
      "FROM bc JOIN w1t USING (w1) JOIN w2t USING (w2) CROSS JOIN n) " +
      "SELECT w1, w2, cnt, p_cond_milli, lift_milli FROM j WHERE rnk <= 5"

  /** Per-document LM fit score (TextAnalysis.lmScore) — the CCNet-style
    * quality signal as exact integers: mean and min bigram conditional
    * probability in milli, against the corpus's own bigram LM.
    */
  val textLmScore: Q = (s, dir) => TextAnalysis.lmScore(docs(s, dir))

  val textLmScoreSql: String =
    s"WITH $toksCte, " +
      "b0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tk WHERE len(toks) >= 2), " +
      "b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM b0), " +
      "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2), " +
      "w1t AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS w1_cnt FROM bc GROUP BY 1), " +
      "p AS (SELECT doc_id, (1000 * cnt) // w1_cnt AS p_milli FROM b JOIN bc USING (w1, w2) JOIN w1t USING (w1)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "CAST(sum(p_milli) // count(*) AS BIGINT) AS mean_p_milli, " +
      "CAST(min(p_milli) AS BIGINT) AS min_p_milli FROM p GROUP BY doc_id"

  /** Trigram-order LM fit (TextAnalysis.trigramLmScore) — lm_score one
    * order up; the per-doc order-2/order-3 gap is the repetition signal
    * bigram models miss. Oracle replays the trigram stream with the
    * trigram table's own (w1, w2) marginal as the context count.
    */
  val lmTrigramScore: Q = (s, dir) => TextAnalysis.trigramLmScore(docs(s, dir))

  val lmTrigramScoreSql: String =
    s"WITH $toksCte, " +
      "t0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM tk WHERE len(toks) >= 3), " +
      "t AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3 FROM t0), " +
      "tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt3 FROM t GROUP BY 1, 2, 3), " +
      "cx AS (SELECT w1, w2, CAST(sum(cnt3) AS BIGINT) AS cnt2 FROM tc GROUP BY 1, 2), " +
      "p AS (SELECT doc_id, (1000 * cnt3) // cnt2 AS p_milli FROM t JOIN tc USING (w1, w2, w3) JOIN cx USING (w1, w2)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, " +
      "CAST(sum(p_milli) // count(*) AS BIGINT) AS mean_p_milli, " +
      "CAST(min(p_milli) AS BIGINT) AS min_p_milli FROM p GROUP BY doc_id"

  /** Per-source total-variation drift vs the corpus token distribution
    * (TextAnalysis.sourceDrift) — exact integer ppm on both sides.
    */
  val sourceDrift: Q = (s, dir) => TextAnalysis.sourceDrift(docs(s, dir))

  val sourceDriftSql: String =
    "WITH tk AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), " +
      "sc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1, 2), " +
      "st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM sc GROUP BY 1), " +
      "ac AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS acnt FROM sc GROUP BY 1), " +
      "n AS (SELECT CAST(sum(acnt) AS BIGINT) AS n FROM ac), " +
      "vp AS (SELECT tok, (1000000 * acnt) // n.n AS all_ppm FROM ac CROSS JOIN n), " +
      "sa AS (SELECT CAST(sum(all_ppm) AS BIGINT) AS s_all FROM vp), " +
      "g AS (SELECT sc.source, st.n_tokens, (1000000 * sc.cnt) // st.n_tokens AS src_ppm, vp.all_ppm " +
      "FROM sc JOIN st USING (source) JOIN vp USING (tok)) " +
      "SELECT source, CAST(max(n_tokens) AS BIGINT) AS n_tokens, " +
      "CAST((sum(abs(src_ppm - all_ppm)) + ((SELECT s_all FROM sa) - sum(all_ppm))) // 2 AS BIGINT) AS tv_ppm " +
      "FROM g GROUP BY source"

  val lineDedup: Q = (s, dir) => TextAnalysis.lineDedup(docs(s, dir))

  /** Same corpus-global first-occurrence rule: the oracle keeper is a
    * row_number window (fine at oracle scale; the Spark side uses the
    * skew-safe min-struct aggregate instead — identical result since
    * (doc_id, seg_idx) is unique).
    */
  val lineDedupSql: String =
    s"WITH $toksCte, " +
      "segs AS (SELECT doc_id, " +
      "unnest(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT))) AS seg_idx, " +
      "unnest(list_transform(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT)), " +
      "i -> array_to_string(toks[(i*12+1):(i*12+12)], ' '))) AS seg " +
      "FROM tk WHERE len(toks) > 0), " +
      "k AS (SELECT doc_id, seg_idx, seg, " +
      "row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM segs) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs, " +
      "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS text_clean " +
      "FROM k GROUP BY doc_id"

  val annLshProbe: Q = (s, dir) =>
    Similarity.lshTopKProbed(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  /** Same chain as annLshSql with the query side expanded to its
    * Planes+1 Hamming-≤1 probe buckets before the bucket equi-join —
    * mirroring the Spark side's explode + equi-join exactly.
    */
  val annLshProbeSql: String =
    s"WITH $quantCte, $bucketCtes, " +
      "qb AS (SELECT q.vec_id, q.v, bk.bucket FROM q JOIN bk ON q.vec_id = bk.vec_id), " +
      s"qp AS (SELECT vec_id, v, unnest(list_append(list_transform(range(0, ${Similarity.Planes}), " +
      s"j -> xor(bucket, CAST(1 AS BIGINT) << j)), bucket)) AS bucket FROM qb WHERE vec_id < $AnnNQueries), " +
      "scored AS (SELECT qs.vec_id AS q, c.vec_id AS n, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS score_milli " +
      "FROM qp qs JOIN qb c ON qs.bucket = c.bucket AND c.vec_id <> qs.vec_id), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"

  val annRecall: Q = (s, dir) =>
    Similarity.annRecall(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  /** SQ8-reconstructed brute ranking (Similarity.sqTopK): the oracle
    * rebuilds the per-dimension reconstruction in long format, folds it
    * back to ordered lists, and reuses the exact scored/ranked shape of
    * ann_topk over the decoded values.
    */
  val annSq: Q = (s, dir) =>
    Similarity.sqTopK(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annSqSql: String = {
    val code = sqCodeSql
    s"WITH $quantCte, " +
      "ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM q), " +
      "st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d), " +
      s"re AS (SELECT vec_id, d, mn + (2 * $code * (mx - mn) + 255) // 510 AS rx FROM ex JOIN st USING (d)), " +
      "qq AS (SELECT vec_id, list(rx ORDER BY d) AS v FROM re GROUP BY vec_id), " +
      "scored AS (SELECT qs.vec_id AS q, c.vec_id AS n, " +
      s"(1000 * ${listDot("qs.v", "c.v")} * abs(${listDot("qs.v", "c.v")})) // (${listNorm("qs.v")} * ${listNorm("c.v")}) AS score_milli " +
      s"FROM qq qs JOIN qq c ON qs.vec_id < $AnnNQueries AND c.vec_id <> qs.vec_id), " +
      "ranked AS (SELECT q, n, score_milli, row_number() OVER (PARTITION BY q ORDER BY score_milli DESC, n) AS rnk FROM scored) " +
      s"SELECT q, n, score_milli, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= $AnnK"
  }

  /** Recall@k of the SQ8 ranking vs the exact brute ranking
    * (Similarity.annRecallSq) — same hit-intersection shape as
    * ann_recall pointed at the quantizer.
    */
  val annRecallSq: Q = (s, dir) =>
    Similarity.annRecallSq(emb(s, dir), nQueries = AnnNQueries, k = AnnK)

  val annRecallSqSql: String =
    s"WITH bt AS ($annTopKSql), sq AS ($annSqSql), " +
      "hs AS (SELECT bt.q, CAST(count(*) AS BIGINT) AS h FROM bt " +
      "JOIN sq r ON r.q = bt.q AND r.n = bt.n GROUP BY bt.q), " +
      "t AS (SELECT q, CAST(count(*) AS BIGINT) AS n_true FROM bt GROUP BY q) " +
      "SELECT t.q, t.n_true, CAST(coalesce(hs.h, 0) AS BIGINT) AS n_hits_sq, " +
      "CAST((1000 * coalesce(hs.h, 0)) // t.n_true AS BIGINT) AS recall_sq_permille " +
      "FROM t LEFT JOIN hs ON hs.q = t.q"

  /** Composes the three already-verified ranking oracles (each a full
    * WITH query, legal as a CTE body) and intersects them per query.
    */
  val annRecallSql: String = {
    def hitCte(name: String, rank: String) =
      s"$name AS (SELECT bt.q, CAST(count(*) AS BIGINT) AS h FROM bt " +
        s"JOIN $rank r ON r.q = bt.q AND r.n = bt.n GROUP BY bt.q)"
    s"WITH bt AS ($annTopKSql), lt AS ($annLshSql), lp AS ($annLshProbeSql), " +
      hitCte("hl", "lt") + ", " + hitCte("hp", "lp") + ", " +
      "t AS (SELECT q, CAST(count(*) AS BIGINT) AS n_true FROM bt GROUP BY q) " +
      "SELECT t.q, t.n_true, " +
      "CAST(coalesce(hl.h, 0) AS BIGINT) AS n_hits_lsh, " +
      "CAST((1000 * coalesce(hl.h, 0)) // t.n_true AS BIGINT) AS recall_lsh_permille, " +
      "CAST(coalesce(hp.h, 0) AS BIGINT) AS n_hits_probe, " +
      "CAST((1000 * coalesce(hp.h, 0)) // t.n_true AS BIGINT) AS recall_probe_permille " +
      "FROM t LEFT JOIN hl ON hl.q = t.q LEFT JOIN hp ON hp.q = t.q"
  }

  val textBoilerplate: Q = (s, dir) => TextAnalysis.boilerplate(docs(s, dir))

  /** Same segmentation + per-source repeat rule; DuckDB's range() is
    * end-exclusive and its list slice is 1-based-inclusive, mirroring
    * the Spark side's sequence/slice exactly (the lineDedup oracle
    * already locks this correspondence).
    */
  val textBoilerplateSql: String =
    s"WITH $toksCte, " +
      "segs AS (SELECT DISTINCT source, seg, doc_id FROM (SELECT doc_id, source, " +
      "unnest(list_transform(range(0, CAST(ceil(len(toks) / 6.0) AS BIGINT)), " +
      "i -> array_to_string(toks[(i*6+1):(i*6+6)], ' '))) AS seg " +
      "FROM tk WHERE len(toks) > 0)), " +
      "sd AS (SELECT source, CAST(count(*) AS BIGINT) AS src_docs FROM documents GROUP BY source), " +
      "f AS (SELECT source, seg, CAST(count(*) AS BIGINT) AS n_docs FROM segs GROUP BY source, seg) " +
      "SELECT f.source, f.seg, f.n_docs, " +
      "CAST((1000 * f.n_docs) // sd.src_docs AS BIGINT) AS doc_permille " +
      "FROM f JOIN sd USING (source) WHERE f.n_docs >= 2"

  val dupGrams: Q = (s, dir) => TextAnalysis.dupGramFraction(docs(s, dir))

  val dupGramsSql: String = {
    val k = TextAnalysis.TokenGramLen
    s"WITH $toksCte, " +
      s"g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
      s"unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram " +
      s"FROM tk WHERE len(toks) >= $k)), " +
      "dpg AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY gram) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      "CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams, " +
      "CAST((1000000 * sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS dup_ppm " +
      "FROM g JOIN dpg USING (gram) GROUP BY doc_id"
  }

  /** Query terms for the driver-checked BM25 retrieval row — drawn from
    * the synthetic vocabulary so the ranking is non-trivial.
    */
  val Bm25Query = "spark join merge"

  val textBm25: Q = (s, dir) => TextAnalysis.bm25(docs(s, dir), Bm25Query, k = 10)

  /** CTE chain ending in `s(doc_id, score_milli)` — the full BM25 score
    * table; shared by the top-k and hybrid-RRF oracles.
    */
  private val bm25ScoreCtes: String = {
    val terms = Bm25Query.split(" ").map(t => s"'$t'").mkString(", ")
    s"$toksCte, " +
      "tq AS (SELECT doc_id, unnest(toks) AS term FROM tk), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tq GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl), " +
      s"sc AS (SELECT t.doc_id, (1000 * (st.n_docs - df.df + 1)) // (df.df + 1) AS idf_milli, t.tf, " +
      "(1000 * dl.dl * st.n_docs) // st.total_dl AS r " +
      s"FROM tf t JOIN (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf WHERE term IN ($terms) GROUP BY 1) df USING (term) " +
      "JOIN dl USING (doc_id) CROSS JOIN st), " +
      "s AS (SELECT doc_id, CAST(sum((idf_milli * tf * 2200) // (tf * 1000 + (1200 * (250 + (750 * r) // 1000)) // 1000)) AS BIGINT) AS score_milli " +
      "FROM sc GROUP BY 1)"
  }

  val textBm25Sql: String =
    s"WITH $bm25ScoreCtes, " +
      "top AS (SELECT doc_id, score_milli, row_number() OVER (ORDER BY score_milli DESC, doc_id) AS rank FROM s) " +
      "SELECT CAST(rank AS BIGINT) AS rank, doc_id, score_milli FROM top WHERE rank <= 10"

  /** Hybrid BM25 → dense-rerank → RRF retrieval (Hybrid.rrfSearch):
    * sparse candidates from the shared BM25 score CTEs, cosine to the
    * vec_id-0 query vector, reciprocal-rank fusion at k=60.
    */
  val textRankFusion: Q = (s, dir) =>
    graft.ops.Hybrid.rrfSearch(docs(s, dir), emb(s, dir), Bm25Query)

  val textRankFusionSql: String =
    s"WITH $bm25ScoreCtes, $quantCte, " +
      "br AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id) AS BIGINT) AS bm25_rank FROM s), " +
      "qv AS (SELECT v AS qv FROM q WHERE vec_id = 0), " +
      "cand AS (SELECT br.doc_id, br.bm25_rank, " +
      s"(1000 * ${listDot("q.v", "qv.qv")} * abs(${listDot("q.v", "qv.qv")})) // (${listNorm("q.v")} * ${listNorm("qv.qv")}) AS cos_milli " +
      "FROM br JOIN q ON q.vec_id = br.doc_id CROSS JOIN qv), " +
      "cr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_milli DESC, doc_id) AS BIGINT) AS cos_rank FROM cand), " +
      // left join: a BM25 candidate with no embedding keeps its sparse
      // contribution with cos_rank NULL (mirrors Hybrid.rrfSearch)
      "f AS (SELECT br.doc_id, br.bm25_rank, cr.cos_rank, " +
      "CAST(1000000 // (60 + br.bm25_rank) + COALESCE(1000000 // (60 + cr.cos_rank), 0) AS BIGINT) AS rrf_micro " +
      "FROM br LEFT JOIN cr USING (doc_id)), " +
      "top AS (SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank FROM f) " +
      "SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25_rank, cos_rank, rrf_micro FROM top WHERE rank <= 10"

  /** BPE merge learning (Bpe.learnMerges, 4 rounds). The oracle unrolls
    * the identical rounds positionally: per round, weighted adjacent-
    * pair counts, (cnt desc, pair) argmax, leftmost-greedy merge via
    * run-parity flags (merges at even offsets of each equal-symbol run
    * — exactly the Spark fold's greedy rule), consumed-row drop and
    * re-index. MATERIALIZED per round for the usual anti-inlining
    * reason.
    */
  val BpeRounds = 4

  val bpeMerges: Q = (s, dir) => graft.ops.Bpe.learnMerges(docs(s, dir), BpeRounds)

  /** CTE chain shared by the merge-table and segmentation oracles:
    * ends with the final symbol table s{BpeRounds + 1}.
    */
  private val bpeCtes: String = {
    val base =
      "WITH w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents) GROUP BY word), " +
        "s1 AS MATERIALIZED (SELECT word, freq, CAST(unnest(range(1, length(word) + 1)) AS BIGINT) AS i, " +
        "unnest(list_transform(range(1, length(word) + 1), i -> word[i:i])) AS sym FROM w0)"
    val rounds = (1 to BpeRounds).map { r =>
      s"p$r AS MATERIALIZED (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (" +
        s"SELECT freq, sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY i) AS b FROM s$r) " +
        "WHERE b IS NOT NULL GROUP BY 1, 2), " +
        s"m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"rs$r AS MATERIALIZED (SELECT word, i, min(i) OVER (PARTITION BY word, grp) AS run_start FROM (" +
        s"SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM s$r " +
        s"WHERE sym = (SELECT a FROM m$r))), " +
        s"f$r AS MATERIALIZED (SELECT s.word, s.freq, s.i, s.sym, " +
        "lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.i) AS nsym, " +
        "CASE WHEN s.sym = m.a AND lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.i) = m.b " +
        "AND (m.a <> m.b OR ((s.i - rs.run_start) % 2) = 0) THEN 1 ELSE 0 END AS mstart " +
        s"FROM s$r s CROSS JOIN m$r m LEFT JOIN rs$r rs ON rs.word = s.word AND rs.i = s.i), " +
        s"s${r + 1} AS MATERIALIZED (SELECT word, freq, " +
        "CAST(row_number() OVER (PARTITION BY word ORDER BY i) AS BIGINT) AS i, " +
        "CASE WHEN mstart = 1 THEN sym || nsym ELSE sym END AS sym " +
        s"FROM (SELECT *, lag(mstart, 1, 0) OVER (PARTITION BY word ORDER BY i) AS consumed FROM f$r) " +
        "WHERE consumed = 0)"
    }.mkString(", ", ", ", " ")
    base + rounds
  }

  val bpeMergesSql: String =
    bpeCtes + (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rnk, a AS lhs, b AS rhs, a || b AS merged, cnt FROM m$r")
      .mkString(" UNION ALL ")

  /** BPE segmentation stats (Bpe.segment): per-doc whitespace token and
    * post-merge BPE symbol counts, via the final symbol table of the
    * shared unrolled trainer chain.
    */
  val bpeSegment: Q = (s, dir) => graft.ops.Bpe.segment(docs(s, dir), BpeRounds)

  val bpeSegmentSql: String =
    bpeCtes +
      s", ws AS (SELECT word, CAST(count(*) AS BIGINT) AS n_syms FROM s${BpeRounds + 1} GROUP BY word), " +
      "dt AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents), " +
      "dwc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY 1, 2) " +
      "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, CAST(sum(n * n_syms) AS BIGINT) AS n_bpe_syms " +
      "FROM dwc JOIN ws USING (word) GROUP BY doc_id"

  val stratifiedSample: Q = (s, dir) => Sampling.stratifiedSample(docs(s, dir))

  val stratifiedSampleSql: String =
    "WITH h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
      "r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk FROM h) " +
      "SELECT doc_id, source, rnk FROM r WHERE rnk <= 50"

  val invertedIndex: Q = (s, dir) => TextAnalysis.invertedIndex(docs(s, dir))

  val invertedIndexSql: String =
    "WITH tq AS (SELECT DISTINCT doc_id, term FROM " +
      "(SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents)) " +
      "SELECT term, CAST(count(*) AS BIGINT) AS df, " +
      "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings " +
      "FROM tq GROUP BY term"

  val domainRollup: Q = (s, dir) => TextAnalysis.domainRollup(docs(s, dir))

  val domainRollupSql: String = {
    def cnt(lang: String): String = {
      val set = TextAnalysis.markers(lang).map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(toks, t -> t IN ($set))) AS BIGINT) AS c_$lang"
    }
    s"WITH $toksCte, " +
      s"c AS (SELECT source, CAST(len(toks) AS BIGINT) AS ntok, ${cnt("en")}, ${cnt("de")}, ${cnt("es")}, ${cnt("fr")} FROM tk), " +
      "l AS (SELECT source, ntok, CASE " +
      "WHEN c_en > c_de AND c_en > c_es AND c_en > c_fr THEN 'en' " +
      "WHEN c_de > c_en AND c_de > c_es AND c_de > c_fr THEN 'de' " +
      "WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es' " +
      "WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr' " +
      "ELSE 'und' END AS lang_pred FROM c) " +
      "SELECT coalesce(source, '(all)') AS source, coalesce(lang_pred, '(all)') AS lang_pred, " +
      "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens " +
      "FROM l GROUP BY ROLLUP(source, lang_pred)"
  }

  /** Wide-format pivot of the source × language composition
    * (TextAnalysis.domainPivot) — the oracle expresses the same matrix
    * as one conditional count per column (the semantics Spark's pivot
    * compiles to).
    */
  val domainPivot: Q = (s, dir) => TextAnalysis.domainPivot(docs(s, dir))

  val domainPivotSql: String = {
    def cnt(lang: String): String = {
      val set = TextAnalysis.markers(lang).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($set))) AS c_$lang"
    }
    val langs = TextAnalysis.markers.keys.toSeq.sorted :+ "und"
    val cols = langs
      .map(l => s"CAST(sum(CASE WHEN lang_pred = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
      .mkString(", ")
    s"WITH $toksCte, " +
      s"c AS (SELECT source, ${cnt("en")}, ${cnt("de")}, ${cnt("es")}, ${cnt("fr")} FROM tk), " +
      "l AS (SELECT source, CASE " +
      "WHEN c_en > c_de AND c_en > c_es AND c_en > c_fr THEN 'en' " +
      "WHEN c_de > c_en AND c_de > c_es AND c_de > c_fr THEN 'de' " +
      "WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es' " +
      "WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr' " +
      "ELSE 'und' END AS lang_pred FROM c) " +
      s"SELECT source, $cols FROM l GROUP BY source"
  }

  val lengthQuantiles: Q = (s, dir) => TextAnalysis.lengthQuantiles(docs(s, dir))

  val lengthQuantilesSql: String =
    s"WITH $toksCte, " +
      "ln AS (SELECT CAST(len(toks) AS BIGINT) AS ntok FROM tk), " +
      "h AS (SELECT ntok, count(*) AS c FROM ln GROUP BY ntok), " +
      "cm AS (SELECT ntok, sum(c) OVER (ORDER BY ntok) AS cum FROM h), " +
      "n AS (SELECT count(*) AS n FROM ln) " +
      "SELECT CAST(min(CASE WHEN cum >= (50 * n.n + 99) // 100 THEN ntok END) AS BIGINT) AS p50_tokens, " +
      "CAST(min(CASE WHEN cum >= (90 * n.n + 99) // 100 THEN ntok END) AS BIGINT) AS p90_tokens, " +
      "CAST(min(CASE WHEN cum >= (99 * n.n + 99) // 100 THEN ntok END) AS BIGINT) AS p99_tokens " +
      "FROM cm, n"

  val textFingerprints: Q = (s, dir) => TextAnalysis.fingerprints(docs(s, dir))

  /** Per-ROW winnowing, mirroring the Spark formulation exactly (gram
    * hashes, window minima, and the distinct all inside list expressions
    * on each row): the two sides now agree for ANY input, including a
    * corpus that ever carried duplicate doc_id rows — the earlier
    * windowed oracle applied a global SELECT DISTINCT that the
    * zero-exchange Spark plan deliberately does not pay.
    */
  val textFingerprintsSql: String = {
    val k = TextAnalysis.GramLen
    val w = TextAnalysis.WinnowWindow
    val hw = TextAnalysis.HashHexLen
    s"WITH hsx AS (SELECT doc_id, list_transform(range(1, length(text) - ${k - 2}), " +
      s"i -> substr(md5(substr(text, CAST(i AS INT), $k)), 1, $hw)) AS hs " +
      s"FROM documents WHERE length(text) >= ${k + w - 1}), " +
      s"fps AS (SELECT doc_id, list_distinct(list_transform(range($w, len(hs) + 1), " +
      s"p -> list_min(hs[p - ${w - 1} : p]))) AS f FROM hsx) " +
      "SELECT doc_id, unnest(f) AS fp FROM fps"
  }

  /** Gini–Simpson lexical diversity (TextAnalysis.diversity) — the
    * oracle states the identical rule as a per-token group-by; the
    * Spark side folds sorted-array runs in one zero-shuffle scan.
    */
  val textDiversity: Q = (s, dir) => TextAnalysis.diversity(docs(s, dir))

  val textDiversitySql: String =
    s"WITH $toksCte, " +
      "c AS (SELECT doc_id, tok, count(*) AS n FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2), " +
      "a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS distinct_tokens, " +
      "CAST(sum(n * n) AS BIGINT) AS ss FROM c GROUP BY 1) " +
      "SELECT doc_id, n_tokens, distinct_tokens, " +
      "CAST(1000000 - (1000000 * ss) // (n_tokens * n_tokens) AS BIGINT) AS simpson_ppm FROM a"

  val textRepetition: Q = (s, dir) => TextAnalysis.repetition(docs(s, dir))

  val textRepetitionSql: String =
    s"WITH $toksCte, " +
      "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram FROM tk WHERE len(toks) >= 3), " +
      "tg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram FROM tk WHERE len(toks) >= 3), " +
      "bc AS (SELECT doc_id, gram, count(*) AS n FROM bg GROUP BY 1, 2), " +
      "ba AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top2, CAST(sum(n) AS BIGINT) AS tot2 FROM bc GROUP BY 1), " +
      "tc AS (SELECT doc_id, gram, count(*) AS n FROM tg GROUP BY 1, 2), " +
      "ta AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot3, CAST(count(*) AS BIGINT) AS dist3 FROM tc GROUP BY 1) " +
      "SELECT ba.doc_id, tot2 AS n_bigrams, (100 * top2) // tot2 AS top_bigram_pct, " +
      "tot3 AS n_trigrams, (100 * (tot3 - dist3)) // tot3 AS dup_trigram_pct " +
      "FROM ba JOIN ta ON ba.doc_id = ta.doc_id"

  val textDecontam: Q = (s, dir) => TextAnalysis.decontam(docs(s, dir))

  val textDecontamSql: String = {
    val k = TextAnalysis.TokenGramLen
    val m = TextAnalysis.EvalMod
    s"WITH $toksCte, " +
      s"g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram FROM tk WHERE len(toks) >= $k), " +
      s"ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % $m = 0), " +
      s"h AS (SELECT DISTINCT g.doc_id, g.gram FROM g JOIN ev USING (gram) WHERE g.doc_id % $m <> 0) " +
      "SELECT doc_id, count(*) AS n_collisions FROM h GROUP BY 1"
  }

  /** Broadcast-Bloom decontamination summary
    * (TextAnalysis.bloomDecontam) — identical md5 bit-position rule in
    * the oracle; no-false-negative law asserted in the spec.
    */
  val textDecontamBloom: Q = (s, dir) => TextAnalysis.bloomDecontam(docs(s, dir))

  val textDecontamBloomSql: String = {
    val k = TextAnalysis.TokenGramLen
    val m = TextAnalysis.EvalMod
    def hv(h: String, i: Int) =
      s"(ascii(substr($h, $i, 1)) - CASE WHEN ascii(substr($h, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
    def bit(seed: Int) = {
      val h = s"md5('$seed:' || gram)"
      s"CAST((((${hv(h, 1)} * 16 + ${hv(h, 2)}) * 16 + ${hv(h, 3)}) * 16 + ${hv(h, 4)}) AS BIGINT)"
    }
    val bitList = (0 until TextAnalysis.BloomHashes).map(bit).mkString("[", ", ", "]")
    val maskOf = "(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER))"
    s"WITH $toksCte, " +
      s"g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram FROM tk WHERE len(toks) >= $k), " +
      s"ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % $m = 0), " +
      s"eb AS (SELECT unnest($bitList) AS bit FROM ev), " +
      s"bw AS (SELECT bit // 32 AS word_idx, bit_or($maskOf) AS bits FROM eb GROUP BY 1), " +
      s"tg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % $m <> 0), " +
      s"pb AS (SELECT doc_id, gram, unnest($bitList) AS bit FROM tg), " +
      s"ph AS (SELECT doc_id, gram, min(CASE WHEN (coalesce(bw.bits, 0) & $maskOf) = $maskOf THEN 1 ELSE 0 END) AS all_hit " +
      "FROM pb LEFT JOIN bw ON bw.word_idx = pb.bit // 32 GROUP BY doc_id, gram), " +
      "pd AS (SELECT doc_id, max(all_hit) AS bloom_flag FROM ph GROUP BY doc_id), " +
      s"ex AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.doc_id % $m <> 0) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_train_docs, CAST(sum(bloom_flag) AS BIGINT) AS n_flagged_bloom, " +
      "CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_exact, " +
      "CAST(sum(CASE WHEN bloom_flag = 1 AND ex.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive " +
      "FROM pd LEFT JOIN ex ON ex.doc_id = pd.doc_id"
  }

  val domainStats: Q = (s, dir) => TextAnalysis.domainStats(docs(s, dir))

  val domainStatsSql: String =
    "WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS chars, " +
      "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ntok FROM documents), " +
      "p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(chars) AS BIGINT) AS total_chars, " +
      "CAST(sum(ntok) AS BIGINT) AS total_tokens FROM d GROUP BY source), " +
      "t AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS g FROM p) " +
      "SELECT source, n_docs, total_chars, total_tokens, " +
      "(1000 * total_tokens) // n_docs AS avg_doc_tokens_milli, " +
      "(1000000 * total_tokens) // t.g AS token_share_ppm FROM p, t"

  val corpusCurate: Q = (s, dir) => TextAnalysis.curate(docs(s, dir))

  /** Replays curate's rule chain: per-row signals via unnest/group CTEs
    * (the oracle is semantic — Spark computes the same integers with a
    * zero-shuffle array fold).
    */
  val corpusCurateSql: String = {
    def cnt(lang: String): String = {
      val set = TextAnalysis.markers(lang).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($set))) AS c_$lang"
    }
    s"WITH $toksCte, " +
      s"sig AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens, ${cnt("en")}, ${cnt("de")}, ${cnt("es")}, ${cnt("fr")} FROM tk WHERE len(toks) > 0), " +
      "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g FROM sig WHERE n_tokens >= 3), " +
      "bc AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top2, CAST(sum(cnt) AS BIGINT) AS tot2 FROM (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY 1, 2) GROUP BY 1), " +
      "tg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM sig WHERE n_tokens >= 3), " +
      "tc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tot3, CAST(count(*) AS BIGINT) AS dist3 FROM (SELECT doc_id, g, count(*) AS cnt FROM tg GROUP BY 1, 2) GROUP BY 1), " +
      "j AS (SELECT s.doc_id, s.n_tokens, " +
      "CASE WHEN c_en > c_de AND c_en > c_es AND c_en > c_fr THEN 'en' " +
      "WHEN c_de > c_en AND c_de > c_es AND c_de > c_fr THEN 'de' " +
      "WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es' " +
      "WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr' ELSE 'und' END AS lang_pred, " +
      "(100 * c_en) // s.n_tokens AS stop_pct, " +
      "CAST(COALESCE((100 * bc.top2) // bc.tot2, 0) AS BIGINT) AS top_bigram_pct, " +
      "CAST(COALESCE((100 * (tc.tot3 - tc.dist3)) // tc.tot3, 0) AS BIGINT) AS dup_trigram_pct " +
      "FROM sig s LEFT JOIN bc ON s.doc_id = bc.doc_id LEFT JOIN tc ON s.doc_id = tc.doc_id), " +
      "r AS (SELECT *, CASE " +
      s"WHEN n_tokens < ${TextAnalysis.MinDocTokens} THEN 'too_short' " +
      "WHEN lang_pred <> 'en' THEN 'lang' " +
      s"WHEN stop_pct < ${TextAnalysis.MinStopPct} THEN 'low_stopword' " +
      s"WHEN stop_pct >= ${TextAnalysis.MaxStopPct} THEN 'high_stopword' " +
      s"WHEN top_bigram_pct >= ${TextAnalysis.MaxTopBigramPct} OR dup_trigram_pct >= ${TextAnalysis.MaxDupTrigramPct} THEN 'repetitive' " +
      "ELSE 'ok' END AS reason FROM j) " +
      "SELECT doc_id, n_tokens, lang_pred, stop_pct, top_bigram_pct, dup_trigram_pct, " +
      "CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep, reason FROM r"
  }

  /** Per-domain mixture weight for the synthetic corpus: the numeric
    * suffix of 'srcN' maps each domain to 25/50/75 % deterministically.
    */
  private val mixRateExpr = "25 * (1 + CAST(substr(source, 4) AS INT) % 3)"

  val mixtureSample: Q = (s, dir) =>
    Sampling.mixtureSample(docs(s, dir), expr(mixRateExpr))

  val mixtureSampleSql: String =
    s"WITH r AS (SELECT doc_id, source, CAST($mixRateExpr AS BIGINT) AS rate_pct FROM documents) " +
      "SELECT doc_id, source, rate_pct FROM r " +
      "WHERE ((doc_id * 2654435761 + 97) % 4294967296) % 100 < rate_pct"

  val dataSplit: Q = (s, dir) => Sampling.hashSplit(docs(s, dir), valPct = 1, testPct = 1)

  val dataSplitSql: String =
    "SELECT doc_id, CASE " +
      "WHEN ((doc_id * 1103515245 + 12345) % 4294967296) % 100 < 1 THEN 'val' " +
      "WHEN ((doc_id * 1103515245 + 12345) % 4294967296) % 100 < 2 THEN 'test' " +
      "ELSE 'train' END AS split FROM documents"

  val vocabTopK: Q = (s, dir) => TextAnalysis.vocabTopK(docs(s, dir))

  val vocabTopKSql: String =
    s"WITH tkx AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents), " +
      "c AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tkx GROUP BY token), " +
      "r AS (SELECT token, occurrences, n_docs, row_number() OVER (ORDER BY occurrences DESC, token) AS rnk FROM c) " +
      s"SELECT token, occurrences, n_docs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= ${TextAnalysis.VocabK}"

  val sourceOverlap: Q = (s, dir) => TextAnalysis.sourceOverlap(docs(s, dir))

  val sourceOverlapSql: String = {
    val k = TextAnalysis.TokenGramLen
    s"WITH $toksCte, " +
      s"g AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram FROM tk WHERE len(toks) >= $k), " +
      "p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source), " +
      "sh AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_grams " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2) " +
      "SELECT sh.src_a, sh.src_b, sh.shared_grams, pa.n_grams AS grams_a, pb.n_grams AS grams_b, " +
      "(100 * sh.shared_grams) // (pa.n_grams + pb.n_grams - sh.shared_grams) AS jaccard_pct " +
      "FROM sh JOIN p pa ON pa.source = sh.src_a JOIN p pb ON pb.source = sh.src_b"
  }

  /** Many-source fan-out guard on the overlap matrix, oracle-checked:
    * grams present in more than [[SourceOverlapCap]] sources are dropped
    * before the pair self-join (boilerplate shared by everyone carries
    * no Jaccard signal and is pure s·(s−1)/2 fan-out). The per-source
    * denominators still count every gram, so jaccard_pct is a lower
    * bound under the cap — the documented semantics of the guard.
    */
  val SourceOverlapCap = 2

  val sourceOverlapCapped: Q = (s, dir) =>
    TextAnalysis.sourceOverlap(docs(s, dir), maxSources = Some(SourceOverlapCap))

  val sourceOverlapCappedSql: String = {
    val k = TextAnalysis.TokenGramLen
    s"WITH $toksCte, " +
      s"g AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(toks) - ${k - 2}), i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS gram FROM tk WHERE len(toks) >= $k), " +
      "p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source), " +
      s"hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > $SourceOverlapCap), " +
      "j AS (SELECT source, gram FROM g WHERE gram NOT IN (SELECT gram FROM hot)), " +
      "sh AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_grams " +
      "FROM j a JOIN j b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2) " +
      "SELECT sh.src_a, sh.src_b, sh.shared_grams, pa.n_grams AS grams_a, pb.n_grams AS grams_b, " +
      "(100 * sh.shared_grams) // (pa.n_grams + pb.n_grams - sh.shared_grams) AS jaccard_pct " +
      "FROM sh JOIN p pa ON pa.source = sh.src_a JOIN p pb ON pb.source = sh.src_b"
  }

  val seqPack: Q = (s, dir) => Sampling.seqPack(docs(s, dir))

  val seqPackSql: String = {
    val c = Sampling.PackCapacity
    s"WITH $toksCte, " +
      "n AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk WHERE len(toks) > 0), " +
      "cm AS (SELECT doc_id, source, n_tokens, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM n) " +
      s"SELECT doc_id, source, n_tokens, CAST((cum - n_tokens) // $c AS BIGINT) AS seq_start, " +
      s"CAST((cum - 1) // $c AS BIGINT) AS seq_end FROM cm"
  }

  /** Curriculum quality binning (Sampling.qualityDeciles): exact decile
    * of each doc's quality_milli via the histogram-cumulative rule —
    * decile = ceil(10*cum/n), ties share a bin.
    */
  val qualityDeciles: Q = (s, dir) => Sampling.qualityDeciles(docs(s, dir))

  val qualityDecilesSql: String =
    s"WITH qual AS ($textQualitySql), " +
      "h AS (SELECT quality_milli, count(*) AS c FROM qual GROUP BY 1), " +
      "cm AS (SELECT quality_milli, sum(c) OVER (ORDER BY quality_milli) AS cum FROM h), " +
      "n AS (SELECT count(*) AS n FROM qual) " +
      "SELECT q.doc_id, q.quality_milli, CAST((10 * cm.cum + n.n - 1) // n.n AS BIGINT) AS decile " +
      "FROM qual q JOIN cm USING (quality_milli) CROSS JOIN n"

  val qualitySample: Q = (s, dir) => Sampling.qualitySample(docs(s, dir))

  val qualitySampleSql: String =
    s"WITH qual AS ($textQualitySql) SELECT doc_id, quality_milli FROM qual " +
      "WHERE ((doc_id * 2246822519 + 11) % 4294967296) % 1000 < quality_milli"

  /** PII redaction (Curation.redact) — audit counts on the original
    * text + typed placeholders, RE2-compatible patterns so Java regex
    * and DuckDB's RE2 match identically (the synthetic corpus carries
    * no PII, so counts are 0 and text_clean == text — the planted-PII
    * rule check lives in OpsSpec).
    */
  val textRedact: Q = (s, dir) => Curation.redact(docs(s, dir))

  val textRedactSql: String = {
    // DuckDB string literals are not backslash-escaped: the Scala
    // pattern string passes through verbatim
    val em = Curation.EmailRe
    val ph = Curation.PhoneRe
    s"SELECT doc_id, CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phones, " +
      s"regexp_replace(regexp_replace(text, '$em', '<email>', 'g'), '$ph', '<phone>', 'g') AS text_clean " +
      "FROM documents"
  }

  /** URL canonicalization + canonical-url keep-list
    * (textprep.UrlCanon): urls are synthesized deterministically from
    * doc_id with case / default-port / utm / fragment / trailing-slash
    * variants; consecutive doc pairs share scheme+host+path so they
    * usually collide post-canonicalization — both keep outcomes
    * populated (the ':8080' sliver stays distinct by design).
    */
  val urlCanon: Q = (s, dir) => {
    val d2 = col("doc_id") / lit(2L)
    val half = floor(d2).cast("long")
    val schemeBase = when(half % 2 === 0, lit("https")).otherwise(lit("http"))
    val scheme = when(col("doc_id") % 5 === 0, upper(schemeBase)).otherwise(schemeBase)
    val defPort = when(half % 2 === 0, lit(":443")).otherwise(lit(":80"))
    val port = when(col("doc_id") % 3 === 0, defPort)
      .when(col("doc_id") % 7 === 0, lit(":8080"))
      .otherwise(lit(""))
    val path = concat(
      lit("/docs/"),
      half.cast("string"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit(""))
    )
    val ref = (half % 7).cast("string")
    val qs = when(col("doc_id") % 4 === 0, concat(lit("?utm_source=feed&ref="), ref))
      .when(col("doc_id") % 4 === 1, concat(lit("?ref="), ref, lit("&utm_campaign=x")))
      .when(col("doc_id") % 4 === 2, lit("?utm_medium=a&utm_term=b&utm_x=c"))
      .otherwise(lit(""))
    val frag = when(col("doc_id") % 6 === 0, lit("#section-2")).otherwise(lit(""))
    val host = concat(lit("site"), (half % 9).cast("string"), lit(".Example.COM"))
    val url = concat(scheme, lit("://"), host, port, path, qs, frag)
    graft.textprep.UrlCanon
      .canonicalKeep(docs(s, dir).select(col("doc_id"), url.as("url")))
      .select("doc_id", "url", "url_canon", "keep")
  }

  val urlCanonSql: String = {
    val schemeBase = "CASE WHEN (doc_id // 2) % 2 = 0 THEN 'https' ELSE 'http' END"
    val scheme = s"CASE WHEN doc_id % 5 = 0 THEN upper($schemeBase) ELSE $schemeBase END"
    val defPort = "CASE WHEN (doc_id // 2) % 2 = 0 THEN ':443' ELSE ':80' END"
    val port = s"CASE WHEN doc_id % 3 = 0 THEN $defPort WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END"
    val path =
      "'/docs/' || CAST(doc_id // 2 AS VARCHAR) || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END"
    val ref = "CAST((doc_id // 2) % 7 AS VARCHAR)"
    val qs = s"CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=' || $ref " +
      s"WHEN doc_id % 4 = 1 THEN '?ref=' || $ref || '&utm_campaign=x' " +
      "WHEN doc_id % 4 = 2 THEN '?utm_medium=a&utm_term=b&utm_x=c' ELSE '' END"
    val frag = "CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END"
    val url =
      s"$scheme || '://site' || CAST((doc_id // 2) % 9 AS VARCHAR) || '.Example.COM' || $port || $path || $qs || $frag"
    "WITH u AS (SELECT doc_id, " + url + " AS url FROM documents), " +
      "s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nofrag FROM u), " +
      "s2 AS (SELECT *, regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS head FROM s1), " +
      "s3 AS (SELECT *, substr(nofrag, length(head) + 1) AS rest, lower(head) AS hl FROM s2), " +
      "s4 AS (SELECT *, CASE WHEN hl LIKE 'http://%' AND hl LIKE '%:80' THEN substr(hl, 1, length(hl) - 3) " +
      "WHEN hl LIKE 'https://%' AND hl LIKE '%:443' THEN substr(hl, 1, length(hl) - 4) ELSE hl END AS h2 FROM s3), " +
      "s5 AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(rest, '&utm_[^=&]*=[^&]*', '', 'g'), " +
      "'\\?utm_[^=&]*=[^&]*&', '?'), '\\?utm_[^=&]*=[^&]*$', '') AS r3 FROM s4), " +
      "s6 AS (SELECT *, CASE WHEN r3 NOT LIKE '%?%' THEN regexp_replace(r3, '/+$', '') ELSE r3 END AS r4 FROM s5), " +
      "c AS (SELECT doc_id, url, CASE WHEN head = '' THEN url ELSE h2 || r4 END AS url_canon FROM s6) " +
      "SELECT doc_id, url, url_canon, " +
      "CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY url_canon) THEN 1 ELSE 0 END AS BIGINT) AS keep FROM c"
  }

  val corpusKeep: Q = (s, dir) => Curation.corpusDecision(docs(s, dir), expr(mixRateExpr))

  /** Composes the curate, exact-dedup and mixture-sampling oracles into
    * the same precedence chain the Spark side applies.
    */
  val corpusKeepSql: String =
    s"WITH cur AS ($corpusCurateSql), " +
      "dup AS (SELECT DISTINCT d.doc_id FROM documents d JOIN (SELECT text, min(doc_id) AS m FROM documents GROUP BY text) c ON d.text = c.text WHERE d.doc_id <> c.m), " +
      s"sm AS (SELECT doc_id, source, CAST($mixRateExpr AS BIGINT) AS rate_pct FROM documents), " +
      "v AS (SELECT sm.doc_id, sm.source, CASE " +
      "WHEN COALESCE(cur.reason, 'too_short') <> 'ok' THEN COALESCE(cur.reason, 'too_short') " +
      "WHEN dup.doc_id IS NOT NULL THEN 'duplicate' " +
      "WHEN ((sm.doc_id * 2654435761 + 97) % 4294967296) % 100 >= sm.rate_pct THEN 'sampled_out' " +
      "ELSE 'keep' END AS verdict " +
      "FROM sm LEFT JOIN cur ON cur.doc_id = sm.doc_id LEFT JOIN dup ON dup.doc_id = sm.doc_id) " +
      "SELECT doc_id, source, verdict, CAST(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS keep FROM v"

  /** Curation funnel (Curation.funnel): verdict-level doc counts,
    * corpus permille and distinct sources touched — the composed
    * keep-list oracle rolled up.
    */
  val corpusFunnel: Q = (s, dir) => Curation.funnel(docs(s, dir), expr(mixRateExpr))

  val corpusFunnelSql: String =
    s"WITH base AS ($corpusKeepSql), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM base) " +
      "SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST((1000 * count(*)) // t.total AS BIGINT) AS permille, " +
      "CAST(count(DISTINCT source) AS BIGINT) AS n_sources " +
      "FROM base CROSS JOIN t GROUP BY verdict, t.total"

  val lengthHistogram: Q = (s, dir) => TextAnalysis.lengthHistogram(docs(s, dir))

  val lengthHistogramSql: String =
    "WITH n AS (SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ntok FROM documents) " +
      "SELECT ntok // 10 AS bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(ntok) AS BIGINT) AS total_tokens FROM n GROUP BY 1"

  // ----- multimodal plumbing -----

  val multimodalMeta: Q = (s, dir) =>
    Multimodal.decode(Multimodal.mediaTable(docs(s, dir))).toDF()

  val multimodalMetaSql: String =
    "SELECT doc_id, 'image/fake-' || CAST(doc_id % 3 AS VARCHAR) AS media_type, " +
      "CAST(strlen(text) AS BIGINT) AS byte_len, md5(text) AS checksum, " +
      "CAST(320 + (doc_id % 5) * 160 AS BIGINT) AS width, " +
      "CAST(240 + (doc_id % 3) * 120 AS BIGINT) AS height, " +
      "CAST(strlen(text) // 10 AS BIGINT) AS n_frames FROM documents"

  /** Per-type payload-size spectrum (Multimodal.sizeSpectrum): log2
    * byte-length buckets with exact min/max per (type, bucket).
    */
  val multimodalSizes: Q = (s, dir) =>
    Multimodal.sizeSpectrum(Multimodal.mediaTable(docs(s, dir)))

  val multimodalSizesSql: String =
    "WITH m AS (SELECT 'image/fake-' || CAST(doc_id % 3 AS VARCHAR) AS media_type, " +
      "CAST(strlen(text) AS BIGINT) AS bytes FROM documents), " +
      "b AS (SELECT media_type, CASE WHEN bytes = 0 THEN -1 ELSE CAST(length(bin(bytes)) - 1 AS BIGINT) END AS bucket, bytes FROM m) " +
      "SELECT media_type, bucket, " +
      "CAST(CASE WHEN bucket < 0 THEN 0 ELSE CAST(1 AS BIGINT) << CAST(bucket AS INT) END AS BIGINT) AS lo, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(min(bytes) AS BIGINT) AS min_bytes, CAST(max(bytes) AS BIGINT) AS max_bytes " +
      "FROM b GROUP BY 1, 2"

  val multimodalFrames: Q = (s, dir) =>
    Multimodal.sampleFrames(Multimodal.decode(Multimodal.mediaTable(docs(s, dir))))

  val multimodalFramesSql: String =
    "WITH m AS (SELECT doc_id, CAST(strlen(text) // 10 AS BIGINT) AS n_frames FROM documents) " +
      "SELECT doc_id, CAST(unnest(range(0, n_frames, 7)) AS BIGINT) AS frame_idx, " +
      "CAST(unnest(range(0, n_frames, 7)) * 40 AS BIGINT) AS ts_milli FROM m WHERE n_frames > 0"

  val multimodalResize: Q = (s, dir) =>
    Multimodal.resize(Multimodal.decode(Multimodal.mediaTable(docs(s, dir))))

  /** Integer box-fit: scale_milli = min(1000, 640000 div w, 480000 div h);
    * all dims positive so floor division is identical in both engines.
    */
  val multimodalResizeSql: String =
    "WITH m AS (SELECT doc_id, CAST(320 + (doc_id % 5) * 160 AS BIGINT) AS width, " +
      "CAST(240 + (doc_id % 3) * 120 AS BIGINT) AS height FROM documents), " +
      "s AS (SELECT doc_id, width, height, least(1000, 640000 // width, 480000 // height) AS sm FROM m) " +
      "SELECT doc_id, width, height, CAST((width * sm) // 1000 AS BIGINT) AS out_w, " +
      "CAST((height * sm) // 1000 AS BIGINT) AS out_h FROM s"

  val multimodalFeatures: Q = (s, dir) =>
    Multimodal.extractFeatures(Multimodal.mediaTable(docs(s, dir)))

  /** 16-bin byte histogram of the UTF-8 payload; the corpus is ASCII so
    * per-character codepoints equal bytes. All 16 bins are emitted per
    * doc (zeros included), matching the fixed-length feature vector.
    */
  val multimodalFeaturesSql: String =
    "WITH b AS (SELECT doc_id, (ord(substr(text, CAST(i AS INT), 1)) * 16) // 256 AS bin " +
      "FROM documents CROSS JOIN UNNEST(range(1, strlen(text) + 1)) AS t(i)), " +
      "c AS (SELECT doc_id, bin, count(*) AS n FROM b GROUP BY doc_id, bin), " +
      "g AS (SELECT d.doc_id, CAST(bb.bin AS BIGINT) AS bin FROM documents d CROSS JOIN UNNEST(range(0, 16)) AS bb(bin)) " +
      "SELECT g.doc_id, g.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n " +
      "FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bin = g.bin"

  /** Perceptual payload hash (Multimodal.perceptualHash): the aHash
    * threshold-against-mean rule on the 16-bin byte histogram.
    */
  val multimodalPhash: Q = (s, dir) =>
    Multimodal.perceptualHash(Multimodal.mediaTable(docs(s, dir)))

  private val phashCtes: String =
    "b AS (SELECT doc_id, (ord(substr(text, CAST(i AS INT), 1)) * 16) // 256 AS bin " +
      "FROM documents CROSS JOIN UNNEST(range(1, strlen(text) + 1)) AS t(i)), " +
      "c AS (SELECT doc_id, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2), " +
      "tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1), " +
      "ph AS (SELECT d.doc_id, CAST(coalesce(sum(CASE WHEN 16 * c.n > tot.total " +
      "THEN (CAST(1 AS BIGINT) << CAST(c.bin AS INT)) ELSE 0 END), 0) AS BIGINT) AS phash " +
      "FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id LEFT JOIN tot ON tot.doc_id = d.doc_id " +
      "GROUP BY d.doc_id)"

  val multimodalPhashSql: String =
    s"WITH $phashCtes SELECT doc_id, phash FROM ph"

  /** Exact-pHash media dedup verdict (Multimodal.phashDedup): O(n)
    * output per corpus regardless of hash-collision structure — the
    * registry form of the media near-dup family (the banded pair
    * emitter Multimodal.nearDupPairs is sbt-tested; its pair output is
    * quadratic per collision class, which this fixture's degenerate
    * byte histograms would make ~all-pairs).
    */
  val multimodalDedup: Q = (s, dir) =>
    Multimodal.phashDedup(Multimodal.mediaTable(docs(s, dir)))

  val multimodalDedupSql: String =
    s"WITH $phashCtes, " +
      "rep AS (SELECT phash, min(doc_id) AS dup_of FROM ph GROUP BY phash) " +
      "SELECT ph.doc_id, rep.dup_of, " +
      "CAST(CASE WHEN ph.doc_id = rep.dup_of THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM ph JOIN rep ON rep.phash = ph.phash"

  /** Soft-dedup sampling weights (Dedup.softWeights): weight_permille =
    * 1000 div near-dup cluster size for every document — the oracle
    * composes the shared MinHash pair CTEs + the CC walk with a size
    * aggregate and the corpus left join.
    */
  val dedupWeights: Q = (s, dir) => Dedup.softWeights(dedupState(s, dir), thetaPct = 90)

  val dedupWeightsSql: String =
    s"WITH RECURSIVE $minhashPairCtes, " +
      "e AS (SELECT a AS src, b AS dst FROM mhp UNION SELECT b, a FROM mhp), " +
      "gnodes AS (SELECT DISTINCT src AS node FROM e), " +
      "walk(node, label) AS (SELECT node, node FROM gnodes " +
      "UNION SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node), " +
      "grp AS (SELECT node AS doc_id, min(label) AS dup_group FROM walk GROUP BY node), " +
      "sz AS (SELECT dup_group, CAST(count(*) AS BIGINT) AS group_size FROM grp GROUP BY dup_group) " +
      "SELECT d.doc_id, coalesce(sz.group_size, CAST(1 AS BIGINT)) AS group_size, " +
      "CAST(1000 // coalesce(sz.group_size, 1) AS BIGINT) AS weight_permille " +
      "FROM documents d LEFT JOIN grp ON grp.doc_id = d.doc_id " +
      "LEFT JOIN sz ON sz.dup_group = grp.dup_group"

  /** Duplicate-cluster size spectrum (Dedup.clusterSizeProfile):
    * documents and clusters per near-dup cluster size, singletons
    * included — the oracle wraps the weights statement as a derived
    * table and folds it.
    */
  val dedupSizes: Q = (s, dir) => Dedup.clusterSizeProfile(dedupState(s, dir), thetaPct = 90)

  val dedupSizesSql: String =
    s"SELECT group_size, CAST(count(*) AS BIGINT) AS n_docs, " +
      s"CAST(count(*) // group_size AS BIGINT) AS n_clusters " +
      s"FROM ($dedupWeightsSql) GROUP BY group_size"

  /** Committed-dedup-state health profile: the band-index bucket-size
    * spectrum (bucket_docs, n_buckets). The operational monitor a
    * pipeline reads before trusting its LSH state — a hot bucket hit by
    * a large share of the corpus is a degenerate shingle (the signal
    * behind incrementalKeep's maxBucket guard), and the spectrum is
    * where that shows up. Reads the committed `derived_band_index`
    * when a derived root is configured; otherwise derives in-query.
    * Shape at scale: two partial-aggregated exchanges — bandKey (the
    * index's own key), then the tiny bucket-size key.
    */
  val dedupStateStats: Q = (s, dir) =>
    dedupState(s, dir).banded
      .groupBy("bandKey")
      .agg(count(lit(1)).as("bucket_docs"))
      .groupBy("bucket_docs")
      .agg(count(lit(1)).as("n_buckets"))

  val dedupStateStatsSql: String =
    s"WITH $tsetCte, ${mhBandCtes("tset", "g")}, " +
      "b AS (SELECT bandKey, CAST(count(*) AS BIGINT) AS bucket_docs FROM gband GROUP BY 1) " +
      "SELECT bucket_docs, CAST(count(*) AS BIGINT) AS n_buckets FROM b GROUP BY 1"

  /** Per-source byte savings of the near-dup keep list: documents,
    * total bytes, bytes the keep=0 verdicts drop, and the savings rate
    * in permille — the "what does dedup buy us in storage/compute"
    * rollup a corpus owner reads before shipping a keep list. Rides
    * the committed dedup state like dedup_keep.
    * Shape at scale: the keep-list machinery plus one doc_id equi-join
    * to a column-pruned (doc_id, source, n_chars) scan and a
    * source-keyed partial-aggregated exchange bounded by the domain
    * vocabulary. 1000·bytes stays inside Long below ~9 PB per source.
    */
  val dedupSavings: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(
        Dedup.nearDupKeep(dedupState(s, dir), thetaPct = 90).select("doc_id", "keep"),
        "doc_id"
      )
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes_total"),
        sum(when(col("keep") === 0L, col("n_chars")).otherwise(0L)).as("bytes_dropped")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("bytes_total"),
        col("bytes_dropped"),
        expr("(1000 * bytes_dropped) div greatest(bytes_total, 1L)").as("savings_permille")
      )

  val dedupSavingsSql: String =
    s"WITH k AS ($dedupKeepSql) " +
      "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(d.n_chars) AS BIGINT) AS bytes_total, " +
      "CAST(sum(CASE WHEN k.keep = 0 THEN d.n_chars ELSE 0 END) AS BIGINT) AS bytes_dropped, " +
      "CAST((1000 * sum(CASE WHEN k.keep = 0 THEN d.n_chars ELSE 0 END)) " +
      "// greatest(sum(d.n_chars), 1) AS BIGINT) AS savings_permille " +
      "FROM documents d JOIN k USING (doc_id) GROUP BY 1"

  /** Zipf frequency spectrum (TextAnalysis.zipfSpectrum): log2-bucketed
    * frequency-of-frequencies over the corpus vocabulary.
    */
  val textZipf: Q = (s, dir) => TextAnalysis.zipfSpectrum(docs(s, dir))

  val textZipfSql: String =
    "WITH tkx AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents), " +
      "c AS (SELECT token, count(*) AS f FROM tkx GROUP BY token) " +
      "SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS freq_bucket, " +
      "CAST(count(*) AS BIGINT) AS n_words, CAST(sum(f) AS BIGINT) AS occurrences " +
      "FROM c GROUP BY 1"

  /** Heaps'-law vocabulary growth (TextAnalysis.heapsCurve): cumulative
    * doc/token/distinct-word counts at power-of-two doc_id checkpoints.
    */
  val textHeaps: Q = (s, dir) => TextAnalysis.heapsCurve(docs(s, dir))

  val textHeapsSql: String =
    s"WITH $toksCte, " +
      "mx AS (SELECT max(doc_id) AS mx FROM documents), " +
      "spine AS (SELECT unnest(range(0, (CASE WHEN mx = 0 THEN 0 ELSE length(bin(mx)) END) + 1)) AS k FROM mx), " +
      "fw AS (SELECT token, min(doc_id) AS f FROM (SELECT doc_id, unnest(toks) AS token FROM tk) GROUP BY token), " +
      "nw AS (SELECT CASE WHEN f = 0 THEN 0 ELSE length(bin(f)) END AS k, count(*) AS nw FROM fw GROUP BY 1), " +
      "ds AS (SELECT CASE WHEN doc_id = 0 THEN 0 ELSE length(bin(doc_id)) END AS k, count(*) AS nd, sum(len(toks)) AS nt FROM tk GROUP BY 1) " +
      "SELECT CAST(CAST(1 AS BIGINT) << CAST(spine.k AS INT) AS BIGINT) AS checkpoint, " +
      "CAST(sum(coalesce(nd, 0)) OVER w AS BIGINT) AS n_docs, " +
      "CAST(sum(coalesce(nt, 0)) OVER w AS BIGINT) AS cum_tokens, " +
      "CAST(sum(coalesce(nw, 0)) OVER w AS BIGINT) AS distinct_words " +
      "FROM spine LEFT JOIN nw ON nw.k = spine.k LEFT JOIN ds ON ds.k = spine.k " +
      "WINDOW w AS (ORDER BY spine.k)"

  // ----- registry -----

  val registry: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", dedupExact, dedupExactSql),
    QueryDef("dedup_jaccard", dedupJaccard, dedupJaccardSql),
    QueryDef("dedup_threshold_curve", dedupThresholdCurve, dedupThresholdCurveSql),
    QueryDef("dedup_minhash", dedupMinhash, dedupMinhashSql),
    QueryDef("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    QueryDef("dedup_groups", dedupGroups, dedupGroupsSql),
    QueryDef("dedup_keep", dedupKeep, dedupKeepSql),
    QueryDef("dedup_source_profile", dedupSourceProfile, dedupSourceProfileSql),
    QueryDef("text_hapax", textHapax, textHapaxSql),
    QueryDef("text_novelty", textNovelty, textNoveltySql),
    QueryDef("text_skipgrams", textSkipgrams, textSkipgramsSql),
    QueryDef("dedup_simhash", dedupSimhash, dedupSimhashSql),
    QueryDef("dedup_simhash_pairs", dedupSimhashPairs, dedupSimhashPairsSql),
    QueryDef("dedup_edit_verify", dedupEditVerify, dedupEditVerifySql),
    QueryDef("emb_neardup", embNearDup, embNearDupSql),
    QueryDef("emb_hard_negatives", embHardNegatives, embHardNegativesSql),
    QueryDef("semantic_groups", semanticGroups, semanticGroupsSql),
    QueryDef("ann_topk", annTopK, annTopKSql),
    QueryDef("ann_buckets", annBuckets, annBucketsSql),
    QueryDef("ann_lsh", annLsh, annLshSql),
    QueryDef("ann_ivf", annIvf, annIvfSql),
    QueryDef("ann_pq", annPq, annPqSql),
    QueryDef("text_langid", textLangId, textLangIdSql),
    QueryDef("text_lang_confusion", textLangConfusion, textLangConfusionSql),
    QueryDef("text_code_detect", textCodeDetect, textCodeDetectSql),
    QueryDef("text_quality", textQuality, textQualitySql),
    QueryDef("text_quality_corr", textQualityCorr, textQualityCorrSql),
    QueryDef("text_token_counts", textTokenCounts, textTokenCountsSql),
    QueryDef("text_readability", textReadability, textReadabilitySql),
    QueryDef("text_keywords", textKeywords, textKeywordsSql),
    QueryDef("text_sketch", textSketch, textSketchSql),
    QueryDef("text_cms", textCms, textCmsSql),
    QueryDef("emb_centroids", embCentroids, embCentroidsSql),
    QueryDef("emb_spread", embSpread, embSpreadSql),
    QueryDef("lm_bigrams", lmBigrams, lmBigramsSql),
    QueryDef("text_lm_score", textLmScore, textLmScoreSql),
    QueryDef("lm_trigram_score", lmTrigramScore, lmTrigramScoreSql),
    QueryDef("source_drift", sourceDrift, sourceDriftSql),
    QueryDef("text_fingerprints", textFingerprints, textFingerprintsSql),
    QueryDef("line_dedup", lineDedup, lineDedupSql),
    QueryDef("text_boilerplate", textBoilerplate, textBoilerplateSql),
    QueryDef("ann_lsh_probe", annLshProbe, annLshProbeSql),
    QueryDef("ann_recall", annRecall, annRecallSql),
    QueryDef("ann_sq", annSq, annSqSql),
    QueryDef("ann_recall_sq", annRecallSq, annRecallSqSql),
    QueryDef("ann_hamming", annHamming, annHammingSql),
    QueryDef("ann_recall_hamming", annRecallHamming, annRecallHammingSql),
    QueryDef("dedup_contain", dedupContain, dedupContainSql),
    QueryDef("dedup_recall", dedupRecall, dedupRecallSql),
    QueryDef("dup_grams", dupGrams, dupGramsSql),
    QueryDef("text_bm25", textBm25, textBm25Sql),
    QueryDef("text_rank_fusion", textRankFusion, textRankFusionSql),
    QueryDef("stratified_sample", stratifiedSample, stratifiedSampleSql),
    QueryDef("inverted_index", invertedIndex, invertedIndexSql),
    QueryDef("domain_rollup", domainRollup, domainRollupSql),
    QueryDef("domain_pivot", domainPivot, domainPivotSql),
    QueryDef("length_quantiles", lengthQuantiles, lengthQuantilesSql),
    QueryDef("text_repetition", textRepetition, textRepetitionSql),
    QueryDef("text_diversity", textDiversity, textDiversitySql),
    QueryDef("text_decontam", textDecontam, textDecontamSql),
    QueryDef("text_decontam_bloom", textDecontamBloom, textDecontamBloomSql),
    QueryDef("domain_stats", domainStats, domainStatsSql),
    QueryDef("corpus_curate", corpusCurate, corpusCurateSql),
    QueryDef("url_canon", urlCanon, urlCanonSql),
    QueryDef("mixture_sample", mixtureSample, mixtureSampleSql),
    QueryDef("data_split", dataSplit, dataSplitSql),
    QueryDef("length_histogram", lengthHistogram, lengthHistogramSql),
    QueryDef("vocab_topk", vocabTopK, vocabTopKSql),
    QueryDef("bpe_merges", bpeMerges, bpeMergesSql),
    QueryDef("bpe_segment", bpeSegment, bpeSegmentSql),
    QueryDef("source_overlap", sourceOverlap, sourceOverlapSql),
    QueryDef("source_overlap_capped", sourceOverlapCapped, sourceOverlapCappedSql),
    QueryDef("seq_pack", seqPack, seqPackSql),
    QueryDef("quality_sample", qualitySample, qualitySampleSql),
    QueryDef("quality_deciles", qualityDeciles, qualityDecilesSql),
    QueryDef("corpus_keep", corpusKeep, corpusKeepSql),
    QueryDef("corpus_funnel", corpusFunnel, corpusFunnelSql),
    QueryDef("text_redact", textRedact, textRedactSql),
    QueryDef("multimodal_meta", multimodalMeta, multimodalMetaSql),
    QueryDef("multimodal_sizes", multimodalSizes, multimodalSizesSql),
    QueryDef("multimodal_frames", multimodalFrames, multimodalFramesSql),
    QueryDef("multimodal_resize", multimodalResize, multimodalResizeSql),
    QueryDef("multimodal_features", multimodalFeatures, multimodalFeaturesSql),
    QueryDef("multimodal_phash", multimodalPhash, multimodalPhashSql),
    QueryDef("dedup_weights", dedupWeights, dedupWeightsSql),
    QueryDef("text_zipf", textZipf, textZipfSql),
    QueryDef("text_heaps", textHeaps, textHeapsSql),
    QueryDef("multimodal_dedup", multimodalDedup, multimodalDedupSql),
    QueryDef("emb_separation", embSeparation, embSeparationSql),
    QueryDef("emb_quantize", embQuantize, embQuantizeSql),
    QueryDef("emb_outliers", embOutliers, embOutliersSql),
    QueryDef("emb_norms", embNorms, embNormsSql),
    QueryDef("emb_margin", embMargin, embMarginSql),
    QueryDef("emb_dim_stats", embDimStats, embDimStatsSql),
    QueryDef("dedup_sizes", dedupSizes, dedupSizesSql),
    QueryDef("dedup_state_stats", dedupStateStats, dedupStateStatsSql),
    QueryDef("dedup_savings", dedupSavings, dedupSavingsSql)
  )
}
