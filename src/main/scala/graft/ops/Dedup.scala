package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.TokenRules
import graft.functions.GraftFunctions

/** Document deduplication operators for a training-data pipeline over the
  * `documents` table — exact, n-gram Jaccard, MinHash+LSH, and SimHash.
  * Every variant is a declarative Column pipeline whose rules are shared
  * verbatim with the DuckDB oracles (integer/string-only comparisons, no
  * float drift).
  *
  * Scale design:
  *   - exact dedup is one hash aggregate (map-side combined);
  *   - pairwise variants never go quadratic: block-scoped self-joins
  *     (`source`) for the exact-Jaccard baseline, banded-MinHash buckets
  *     with a deterministic sorted-window cap for the global LSH path;
  *   - MinHash signatures are md5-order minima — pure codegen'd
  *     expressions (array_min over transform), no UDF.
  */
object Dedup {

  /** Per-band-bucket lead-window cap (candidate pairs per doc) — the
    * single source of truth the oracle SQL interpolates; a drift between
    * engine and oracle would silently desync every minhash hash compare.
    */
  val DefaultLeadCap = 10

  /** Distinct sorted token set per document. */
  private def tokenSets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("source"),
      array_sort(array_distinct(TokenRules.tokens(col("text")))).as("toks")
    )

  /** Exact duplicate assignment: (doc_id, dup_of = min doc_id with
    * byte-identical text), emitted only for true duplicates.
    *
    * Scale shape: the shuffle key is a 192-bit content fingerprint
    * (xxhash64 ++ md5), ~40 bytes/row, never the document body — the
    * round-1 groupBy(text)+join(text) carried every body through two
    * shuffles. A 192-bit double-hash collision across even 10^12 docs
    * has probability ~1e-34, strictly below any cluster's undetected
    * bit-error rate, so hash-group equality IS exact dedup at web scale.
    */
  def exact(docs: DataFrame): DataFrame = {
    // keeper via partial-aggregated groupBy + join-back, NOT a window:
    // a boilerplate text duplicated across millions of docs is one hot
    // fingerprint, and the window form would sort that group's entire
    // population in a single task while the aggregate collapses it
    // map-side (same doctrine as UrlCanon.canonicalKeep). Staged: the
    // fingerprint frame feeds both the keeper table and the join probe.
    val keyed = graft.util.Materialize.stage(
      docs.select(col("doc_id"), struct(xxhash64(col("text")), md5(col("text"))).as("k"))
    )
    val keepers = keyed
      .groupBy("k")
      .agg(min("doc_id").as("dup_of"), count(lit(1)).as("c"))
      .where(col("c") > 1) // duplicate groups only — a small join side
      .drop("c")
    keyed
      .join(keepers, "k")
      .where(col("doc_id") =!= col("dup_of"))
      .select("doc_id", "dup_of")
  }

  /** Threshold-sensitivity curve — the table a corpus owner reads
    * before picking a dedup threshold: every verified same-source pair
    * with Jaccard ≥ minThetaPct/100, histogrammed into 50-permille
    * similarity buckets (bucket = floor(j‰/50)·50; the degenerate
    * empty-empty pairs the ≥ rule admits sit in the 1000 bucket, same
    * convention as [[ngramJaccardPairs]]). Reading the cumulative tail
    * of this table IS the pair-volume-vs-threshold tradeoff. Output:
    * (bucket, n_pairs).
    *
    * Scale shape: exactly the [[ngramJaccardPairs]] PPJoin plan at the
    * loosest threshold of interest (prefixes lengthen as θ drops — the
    * candidate bound degrades gracefully, it never becomes all-pairs),
    * folded by one tiny bucket-keyed aggregate.
    */
  def thresholdCurve(docs: DataFrame, minThetaPct: Int = 70): DataFrame =
    ngramJaccardPairs(docs, minThetaPct)
      .select(
        expr("CASE WHEN uni = 0 THEN 1000L ELSE (1000 * inter) div uni END").as("jp")
      )
      .select(expr("(jp div 50) * 50").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))

  /** Exact n-gram (token-set) Jaccard pairs within `source` blocks:
    * emits (a, b, inter, uni) for 100*inter >= thetaPct*uni. Integer
    * comparison — bit-identical across engines.
    *
    * Scale shape: PPJoin-style prefix filtering, NOT an all-pairs block
    * join. Token sets are already globally sorted; a pair with
    * Jaccard >= t has |inter| >= ceil(t*|x|) for both sides, and the
    * standard prefix lemma then guarantees the two prefixes of length
    * |x| - ceil(t*|x|) + 1 share a token. So an equi-join on
    * (source, prefix token) generates a candidate superset with zero
    * false negatives, and the exact intersect/union filter reproduces
    * the all-pairs result bit-for-bit (the oracle keeps the plain
    * all-pairs rule). Near-duplicate corpora make prefix buckets tiny —
    * candidates stay ~linear instead of O(block^2).
    */
  def ngramJaccardPairs(docs: DataFrame, thetaPct: Int = 90): DataFrame = {
    val t = jaccardCandidates(docs, thetaPct)
      .select(
        col("a"),
        col("b"),
        // native count (graft.functions): same value as
        // size(array_intersect(...)) on these distinct sets; union size
        // derives from the sizes, so neither array is materialized
        graft.functions.GraftFunctions
          .distinctIntersectSize(col("atoks"), col("btoks"))
          .as("inter"),
        (size(col("atoks")) + size(col("btoks"))).cast("long").as("sz")
      )
      .select(col("a"), col("b"), col("inter"), (col("sz") - col("inter")).as("uni"))
      .where(lit(100) * col("inter") >= lit(thetaPct) * col("uni"))
    t
  }

  /** Candidate pairs for [[ngramJaccardPairs]] (exposed for the bounded-
    * candidate-count test): PPJoin prefix equi-join with the global token
    * order ASCENDING DOCUMENT FREQUENCY (ties by token). The prefix lemma
    * holds for any global total order, but bucket sizes stay small only
    * when prefixes prefer RARE tokens — a lexicographic order puts
    * stopword-heavy vocabularies' hottest tokens into every prefix and
    * melts the equi-join buckets (classic PPJoin orders by ascending df
    * for exactly this reason). The exact intersect/union verify above is
    * order-independent, so the final result is provably unchanged.
    */
  private[graft] def jaccardCandidates(docs: DataFrame, thetaPct: Int = 90): DataFrame = {
    val t0 = tokenSets(docs)
    // global document frequency of each token, then each doc's token
    // array re-sorted by (df, token). ONE outer explode feeds both the
    // df aggregate (map-side combined groupBy — skew-safe for
    // stopwords, unlike a count-over-window that sorts a hot token's
    // whole partition) and the re-collect; explode_outer keeps
    // empty-token docs as a null-tok row (filtered back out of ftoks),
    // so no second scan for the empty-doc sliver. All shuffle keys are
    // single tokens / doc ids, never bodies.
    val ex = t0.select(col("source"), col("doc_id"), explode_outer(col("toks")).as("tok"))
    val df = ex
      .where(col("tok").isNotNull)
      .groupBy("tok")
      .agg(count(lit(1)).as("df"))
    val ordered = ex
      .join(df, Seq("tok"), "left")
      .groupBy("doc_id", "source")
      .agg(
        expr(
          "transform(filter(array_sort(collect_list(struct(df, tok))), s -> s.tok IS NOT NULL), s -> s.tok)"
        ).as("ftoks")
      )
    // ceil(thetaPct*|toks|/100) in exact integer math over the
    // frequency-ordered array; empty docs keep a '' sentinel prefix
    // (empty-empty pairs, J = 0/0, are accepted by the rule)
    val prefixExpr =
      s"CASE WHEN size(ftoks) = 0 THEN array('') " +
        s"ELSE slice(ftoks, 1, size(ftoks) - (($thetaPct * size(ftoks) + 99) div 100) + 1) END"
    // candidate generation is SLIM — (source, ptok, doc_id) only; the
    // token arrays join back AFTER the pair-level dedup, so no shuffle
    // in the candidate path ever carries an array (the round-2 shape
    // dragged both docs' full token sets through the self-join AND the
    // dropDuplicates exchange)
    val pref = ordered.select(
      col("source"),
      col("doc_id"),
      explode(expr(prefixExpr)).as("ptok")
    )
    val a = pref.select(col("source"), col("ptok"), col("doc_id").as("a"))
    val b = pref.select(col("source"), col("ptok"), col("doc_id").as("b"))
    val cands = a
      .join(b, Seq("source", "ptok"))
      .where(col("a") < col("b"))
      .dropDuplicates("a", "b")
    // the exact verify needs only the sorted token SET — the cheap
    // tokenize-only frame, not the frequency-ordered one
    val slim = t0.select(col("doc_id"), col("toks"))
    cands
      .join(slim.select(col("doc_id").as("a"), col("toks").as("atoks")), "a")
      .join(slim.select(col("doc_id").as("b"), col("toks").as("btoks")), "b")
      .select(col("a"), col("b"), col("atoks"), col("btoks"))
  }

  /** Asymmetric near-dup CONTAINMENT pairs over distinct 8-token-gram
    * sets within `source` blocks: emits (a, b, inter, min_grams) where
    * 100·|A∩B| ≥ thetaPct·min(|A|,|B|) — the subset-syndication detector
    * Jaccard misses (a page fully contained in a longer page scores low
    * Jaccard but containment ≈ 1). Gram sets, not token sets: on a
    * small-vocabulary corpus token-SET containment is near-universal
    * (measured: 109k degenerate pairs at sf0.1 vs 7 true gram-contained
    * pairs), while 8-gram sets carry the same distinctiveness as
    * [[graft.ops.TextAnalysis.dupGramFraction]]'s cut rule.
    *
    * Scale shape: containment's prefix lemma bounds only the SMALLER
    * side, so candidates are an equi-join of each document's
    * rare-gram-first prefix (length |X| − ceil(θ|X|) + 1 under the
    * ascending-document-frequency order) against the OTHER documents'
    * FULL gram postings — the standard containment-join asymmetry
    * (prefix⨝prefix would drop true pairs; full⨝full is the quadratic
    * block join this avoids). Zero false negatives: a qualifying pair's
    * smaller side has |A∩B| ≥ ceil(θ|A|) > |A| − prefixLen, so at least
    * one intersection gram sits in the prefix. The exact verify then
    * reproduces the all-pairs rule bit-for-bit (the oracle keeps the
    * plain blocked all-pairs form). Candidate keys are slim
    * (source, gram, doc_id) — no shuffle carries gram arrays.
    */
  def containmentPairs(docs: DataFrame, thetaPct: Int = 90): DataFrame = {
    val k = TextAnalysis.TokenGramLen
    // distinct sorted gram set per doc — staged: feeds the df aggregate,
    // the prefix build, the full-postings side and the exact verify
    val gsets = graft.util.Materialize.stage(
      docs
        .select(col("doc_id"), col("source"), TokenRules.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= k)
        .select(
          col("doc_id"),
          col("source"),
          expr(
            s"array_sort(array_distinct(transform(sequence(1, size(toks) - ${k - 1}), " +
              s"i -> concat_ws(' ', slice(toks, i, $k)))))"
          ).as("grams")
        )
    )
    val ex = gsets.select(col("source"), col("doc_id"), explode(col("grams")).as("gram"))
    val dfg = ex.groupBy("gram").agg(count(lit(1)).as("df"))
    val ordered = ex
      .join(dfg, Seq("gram"))
      .groupBy("doc_id", "source")
      .agg(
        expr("transform(array_sort(collect_list(struct(df, gram))), s -> s.gram)").as("fgrams")
      )
    val prefixExpr =
      s"slice(fgrams, 1, size(fgrams) - (($thetaPct * size(fgrams) + 99) div 100) + 1)"
    val pref = ordered.select(
      col("source"),
      col("doc_id").as("x"),
      explode(expr(prefixExpr)).as("gram")
    )
    val cands = pref
      .join(ex.select(col("source"), col("gram"), col("doc_id").as("y")), Seq("source", "gram"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .dropDuplicates("a", "b")
    val slim = gsets.select(col("doc_id"), col("grams"))
    cands
      .join(slim.select(col("doc_id").as("a"), col("grams").as("ag")), "a")
      .join(slim.select(col("doc_id").as("b"), col("grams").as("bg")), "b")
      .select(
        col("a"),
        col("b"),
        graft.functions.GraftFunctions.distinctIntersectSize(col("ag"), col("bg")).as("inter"),
        least(size(col("ag")), size(col("bg"))).cast("long").as("min_grams")
      )
      .where(lit(100) * col("inter") >= lit(thetaPct) * col("min_grams"))
  }

  /** Corpus-level recall of the banded-LSH near-dup finder against the
    * exact (PPJoin-verified) same-source Jaccard pair set — the dedup
    * counterpart of [[graft.ops.Similarity.annRecall]]'s tuning table:
    * banding trades recall for candidate volume, and this one row is
    * what seeds/bands/cap are tuned against. The LSH pairs are
    * restricted to the exact set's same-source universe first; both
    * finders verify the same token-set Jaccard rule exactly, so every
    * restricted LSH pair re-appears in the exact set (n_lsh ≡ n_both —
    * the hash match proves it) and the gap to n_exact decomposes into
    * banding miss plus the per-bucket lead-window cap's intentional
    * enumeration bound. On this corpus the cap dominates (sf0.1 reads
    * 245 of 48,169 pairs = 5‰ — ~9% of ALL pairs clear θ here, so
    * bounded PAIR enumeration is the design point and dedup quality is
    * judged on drop-flag recall, which the sbt suite holds ≥ 0.9); on a
    * real corpus, where near-dup clusters are small, the same row reads
    * banding miss directly. Output one row:
    * (n_exact, n_lsh, n_both, recall_permille).
    *
    * The LSH side reads the dedup state `st`; the exact (PPJoin)
    * denominator still needs token SEQUENCES for its grams, so `docs`
    * is scanned once for that side.
    *
    * Shape at scale: both pair generators keep their bucketed/banded
    * shapes; the comparison adds two joins of slim pair-keyed tables
    * and three 1-row aggregates crossJoined (the established 1-row
    * pattern). Both pair sets are staged — each is read twice.
    */
  def lshRecall(st: DedupState, docs: DataFrame, thetaPct: Int = 90): DataFrame = {
    val exact =
      graft.util.Materialize.stage(ngramJaccardPairs(docs, thetaPct).select("a", "b"))
    val src = docs.select(col("doc_id"), col("source"))
    val lsh = graft.util.Materialize.stage(
      minhashLshPairs(st, thetaPct)
        .select("a", "b")
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .where(col("sa") === col("sb"))
        .select("a", "b")
    )
    val both = exact.join(lsh, Seq("a", "b"), "left_semi")
    exact
      .agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      .select(
        col("n_exact"),
        col("n_lsh"),
        col("n_both"),
        expr(
          "CAST((CAST(n_both AS DECIMAL(38,0)) * 1000) DIV greatest(n_exact, 1L) AS BIGINT)"
        ).as("recall_permille")
      )
  }

  /** MinHash signature length and LSH band count of every dedup-state
    * artifact — fixed, as in the oracles' band rule (`mhBandCtes`), so
    * a committed band index and a fresh delta always band alike.
    */
  private val Seeds = 16
  private val Bands = 8

  /** md5-order MinHash signature column: per seed i, the minimum of
    * md5("i:" + token) over the document's distinct tokens. Shared rule
    * with the oracle: list_min(list_transform(...)) there.
    */
  private def minhashSig(toksCol: String): Seq[org.apache.spark.sql.Column] = {
    // one native single-pass signature (graft.functions.MinhashSig) in
    // place of `Seeds` interpreted transform/array_min folds; each mh_i
    // is byte-identical to array_min(transform(toks, t -> md5('i:'||t)))
    val sig = GraftFunctions.minhashSig(col(toksCol), Seeds)
    (0 until Seeds).map(i => sig.getItem(i).as(s"mh$i"))
  }

  /** Distinct sorted token set per document, (doc_id, toks) — the
    * second committable dedup-state artifact next to the band index
    * (corpus-global: no `source` block column).
    */
  def tokenSetTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      array_sort(array_distinct(TokenRules.tokens(col("text")))).as("toks")
    )

  /** The `Bands` band-key columns (all aliased `bandKey`) over the mh_i
    * signature columns of [[minhashSig]].
    */
  private def bandKeyCols: Seq[org.apache.spark.sql.Column] = {
    val rows = Seeds / Bands
    (0 until Bands).map { bIdx =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"mh${bIdx * rows + r}")): _*)).as("bandKey")
    }
  }

  /** (doc_id, bandKey) LSH band index of a tokenSets frame — one scan,
    * all band keys exploded, distinct. Shared by the batch pair
    * generator and the incremental (delta-vs-committed-base) path.
    */
  private def bandedKeys(t: DataFrame): DataFrame =
    t.select(col("doc_id") +: col("toks") +: minhashSig("toks"): _*)
      .select(col("doc_id"), explode(array(bandKeyCols: _*)).as("bandKey"))
      .distinct()

  /** (doc_id, bandKey, toks) — the banded projection with the token set
    * retained: the row-local input of the STREAMING near-dup path
    * ([[graft.streaming.DedupStream]]), whose per-band state verifies
    * with the tokens directly instead of joining the committed token
    * table. Same signature/band-key bytes as `state(docs).banded`;
    * duplicate (doc, bandKey) rows from band collisions are left in (the
    * stream stage dedups per group — a stateless `distinct` is not
    * available pre-state on a stream).
    */
  private[graft] def bandedWithToks(docs: DataFrame): DataFrame =
    tokenSetTable(docs)
      .select(col("doc_id") +: col("toks") +: minhashSig("toks"): _*)
      .select(col("doc_id"), explode(array(bandKeyCols: _*)).as("bandKey"), col("toks"))

  /** The band index `state(docs).banded` from an already-materialized
    * token-set frame — used when `derived_token_sets` is committed first
    * and the band index is derived from the committed table instead of
    * re-tokenizing the corpus.
    */
  def bandIndexFromToks(toks: DataFrame): DataFrame = bandedKeys(toks)

  /** The committed dedup state of a corpus: `toks` = [[tokenSetTable]]
    * (doc_id, toks sorted-distinct — one row per document), `banded` =
    * the MinHash-LSH band index (doc_id, bandKey), one row per document
    * per band. At 100 TB these two snapshot tables ARE what the MinHash
    * family reads — every operator below that takes a `DedupState` runs
    * without touching a byte of document text, and a new crawl
    * deduplicates against them without touching a byte of the
    * already-ingested corpus (see [[incrementalKeep]]).
    */
  final case class DedupState(toks: DataFrame, banded: DataFrame)

  /** Derive both state frames from the corpus in ONE tokenization scan
    * (Catalyst does not deduplicate common subtrees across joins, so
    * the band index must be derived from the same token-set frame).
    */
  def state(docs: DataFrame): DedupState = {
    val t = tokenSetTable(docs)
    DedupState(t, bandedKeys(t))
  }

  /** Incremental near-dup verdicts for a delta crawl against an
    * already-ingested base corpus: for every delta document,
    * (doc_id, dup_of = min verified base partner | NULL, keep 1/0).
    * A delta doc is a duplicate iff it shares an LSH band with some base
    * doc AND exact token-set Jaccard ≥ thetaPct — the same verify rule
    * as the batch path, restricted to delta×base (dedup WITHIN the delta
    * is [[nearDupKeep]] on the delta alone; composition of the two is
    * the full recrawl story).
    *
    * Scale shape: the base side enters only through its dedup state —
    * in production both frames come off snapshot tables, so the delta
    * run's cost is O(delta) plus the pruned index/token reads. The band
    * join touches `|delta| × bands` probe rows against a
    * bucket-partitioned index, and the verify join reads only the
    * candidate-matched base token rows (a semi-join-pruned read at the
    * storage layer). Nothing rescans base bodies. `maxBucket` optionally
    * drops band buckets whose base population exceeds a cap — the
    * standard hot-bucket guard (a bucket hit by half the corpus is a
    * degenerate shingle, not a dup signal); default off = exact rule.
    */
  def incrementalKeep(
      base: DedupState,
      delta: DataFrame,
      thetaPct: Int = 90,
      maxBucket: Option[Int] = None
  ): DataFrame = {
    val baseIndex = base.banded
    val dt = tokenSetTable(delta)
    val dband = bandedKeys(dt)
    // map-side-combined count + semi-join, NOT a count-over-window: the
    // window form sorts the hottest bucket's whole population in one
    // task — the guard against skew must itself be skew-safe
    val idx = maxBucket match {
      case Some(k) =>
        val cool = baseIndex
          .groupBy("bandKey")
          .agg(count(lit(1)).as("bc"))
          .where(col("bc") <= k)
          .select("bandKey")
        baseIndex.join(cool, Seq("bandKey"), "left_semi")
      case None => baseIndex
    }
    val cand = dband
      .select(col("doc_id").as("delta_id"), col("bandKey"))
      .join(idx.select(col("doc_id").as("base_id"), col("bandKey")), "bandKey")
      .select("delta_id", "base_id")
      .distinct()
    val inter = graft.functions.GraftFunctions.distinctIntersectSize(col("dtoks"), col("btoks"))
    val uni = size(col("dtoks")) + size(col("btoks")) - inter
    val ver = cand
      .join(dt.select(col("doc_id").as("delta_id"), col("toks").as("dtoks")), "delta_id")
      .join(base.toks.select(col("doc_id").as("base_id"), col("toks").as("btoks")), "base_id")
      .where(lit(100) * inter >= lit(thetaPct) * uni)
      .groupBy("delta_id")
      .agg(min("base_id").as("dup_of"))
    delta
      .select(col("doc_id"))
      .join(ver.withColumnRenamed("delta_id", "doc_id"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep")
      )
  }

  /** Global (un-blocked) MinHash+LSH near-duplicate pairs:
    * shingle->minhash->band->bucket-join, then exact token-set Jaccard
    * verification at thetaPct. Candidates inside a band bucket pair
    * sorted-window style (each doc with the next `cap` docs by doc_id) —
    * deterministic and never quadratic in bucket size. Candidate
    * generation reads the state's (doc_id, bandKey) index and
    * verification its (doc_id, toks) table; document text is never
    * touched.
    */
  def minhashLshPairs(
      st: DedupState,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap
  ): DataFrame = {
    val t = st.toks
    // one scan emits all band keys (explode), and ONE window pass emits
    // all `cap` neighbors as an array (every lead shares the same frame,
    // so Catalyst plans a single Exchange+Sort+Window) — the round-1
    // shape union'd `cap` separate window passes, re-sorting the banded
    // table cap times
    val banded = st.banded
    val w = Window.partitionBy("bandKey").orderBy("doc_id")
    val windowCands = banded
      .select(
        col("doc_id").as("a"),
        // window exprs must live in a Project/Window node — materialize
        // the lead array first, explode in the next select
        array((1 to cap).map(d => lead(col("doc_id"), d).over(w)): _*).as("bs")
      )
      .select(col("a"), explode(col("bs")).as("b"))
      .where(col("b").isNotNull)
    // star edges to the bucket minimum: O(bucket) extra candidates that
    // catch partners beyond the window cap
    val starCands = banded
      .withColumn("a", min("doc_id").over(Window.partitionBy("bandKey")))
      .where(col("a") < col("doc_id"))
      .select(col("a"), col("doc_id").as("b"))
    val cands = windowCands.union(starCands).distinct()
    val ta = t.select(col("doc_id").as("a"), col("toks").as("atoks"))
    val tb = t.select(col("doc_id").as("b"), col("toks").as("btoks"))
    cands
      .join(ta, "a")
      .join(tb, "b")
      .select(
        col("a"),
        col("b"),
        graft.functions.GraftFunctions
          .distinctIntersectSize(col("atoks"), col("btoks"))
          .as("inter"),
        (size(col("atoks")) + size(col("btoks"))).cast("long").as("sz")
      )
      .select(col("a"), col("b"), col("inter"), (col("sz") - col("inter")).as("uni"))
      .where(lit(100) * col("inter") >= lit(thetaPct) * col("uni"))
  }

  /** Duplicate-CLUSTER assignment — the dedup endgame at corpus scale:
    * connected components over the verified MinHash-LSH pair graph, so
    * transitive near-duplicate chains (a~b, b~c) collapse into one
    * cluster even when a~c itself misses the threshold. Emits
    * (doc_id, dup_group = min doc_id of the cluster) for every doc in a
    * multi-doc cluster; the kept representative is the row with
    * doc_id == dup_group, and docs in no pair are implicitly their own
    * singleton clusters (not emitted). The reference's per-cluster dedup
    * collapses duplicates inside k-means clusters the same way
    * (experiments/wikiqa/utils/cluster_and_deduplication.py:207-259);
    * here the cluster relation is the LSH pair graph itself and the
    * fixpoint is the scalable min-label propagation.
    *
    * @param driverPairThreshold adaptive small-graph path (same shape as
    *   ClusterGraph's dictionary probe): `take(threshold+1)` on the pair
    *   set is incremental — when the graph is small the union-find runs
    *   driver-side and the whole grouping is ONE Spark job instead of
    *   2×diameter CC-iteration jobs (pure driver-latency savings,
    *   identical output — sbt-tested against the distributed path); at
    *   corpus scale the probe sees threshold+1 pairs and the distributed
    *   min-label fixpoint runs unchanged.
    */
  def minhashGroups(
      st: DedupState,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap,
      driverPairThreshold: Int = 2000000
  ): DataFrame =
    groupsFromPairs(
      minhashLshPairs(st, thetaPct, cap).select(col("a"), col("b")),
      "doc_id",
      driverPairThreshold
    )

  /** Adaptive connected components over an (a, b) pair frame: union-find
    * on the driver when the pair list provably fits (one Spark job
    * instead of 2×diameter CC iterations), the distributed min-label
    * fixpoint otherwise — identical output (sbt-tested). Shared by the
    * MinHash and embedding-cosine duplicate-group operators.
    *
    * The pair frame is persisted and sized with count(), NOT probed with
    * take(threshold+1): take's incremental partition scan (1, then
    * scaleUpFactor×, ...) re-executes the entire upstream — at corpus
    * scale a full MinHash/banding pass — once per growth round when the
    * result is small but spread over many partitions (measured: 66.8 s
    * vs 13 s for the MinHash dup-group registry query at sf0.1). count()
    * runs the upstream exactly once into the cache; both branches then
    * read cached blocks, and the cache is dropped before returning
    * (union-find output is driver-local; the distributed branch's CC
    * checkpoints internally, so neither result retains the lineage).
    */
  private[ops] def groupsFromPairs(
      pairs: DataFrame,
      idCol: String,
      driverPairThreshold: Int = 2000000
  ): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val typed = pairs.as[(Long, Long)].persist()
    try {
      groupsFromCached(typed, idCol, driverPairThreshold)
    } finally typed.unpersist(false)
  }

  private def groupsFromCached(
      typed: org.apache.spark.sql.Dataset[(Long, Long)],
      idCol: String,
      driverPairThreshold: Int
  ): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    val pairs = typed.toDF("a", "b")
    if (typed.count() <= driverPairThreshold) {
      val probe = typed.collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        val root = r
        var c = x
        while (parent.getOrElse(c, c) != root) { val n = parent(c); parent(c) = root; c = n }
        root
      }
      probe.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val members = parent.keys.toSeq
      members
        .groupBy(find)
        .valuesIterator
        .flatMap { ms => val root = ms.min; ms.map(m => (m, root)) }
        .toSeq
        .toDF(idCol, "dup_group")
    } else {
      val nodes = pairs
        .select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .distinct()
      graft.cluster.ConnectedComponents
        .run(pairs.select(col("a").as("src"), col("b").as("dst")), nodes)
        .select(col("node").as(idCol), col("component").as("dup_group"))
    }
  }

  /** The near-dup dedup endgame artifact: the per-document keep/drop
    * list a curation run writes after [[minhashGroups]] — keep = the
    * cluster's min doc_id (the deterministic representative) or any
    * document in no cluster; dup_group is NULL for singletons. Output:
    * (doc_id, dup_group, keep) for every input document.
    *
    * Shape at scale: the group table is the (small) duplicate subset —
    * the left join back to the corpus is AQE-broadcastable; everything
    * upstream is the banded-LSH + CC shape documented on
    * [[minhashGroups]]. The doc universe is the state's token-set table
    * (one row per document by construction), so the keep list needs no
    * corpus read at all.
    */
  def nearDupKeep(
      st: DedupState,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap
  ): DataFrame =
    st.toks
      .select(col("doc_id"))
      .join(minhashGroups(st, thetaPct, cap), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("dup_group"),
        when(col("dup_group").isNull || col("dup_group") === col("doc_id"), 1L)
          .otherwise(0L)
          .as("keep")
      )

  /** Soft dedup: per-document sampling weight in permille instead of a
    * hard keep/drop — every member of a duplicate cluster of size s gets
    * weight 1000 div s (singletons 1000), so a training sampler sees
    * each duplicated CONTENT with total mass ~1000 regardless of how
    * many near-copies the crawl captured, without discarding the
    * per-copy variation a hard keep list throws away (the
    * RefinedWeb/Gopher-style alternative to [[nearDupKeep]]). Output:
    * (doc_id, group_size, weight_permille) for every input document.
    *
    * Shape at scale: the group table (the small duplicate subset) is
    * staged once — its size aggregate and the corpus join both read the
    * checkpoint; the per-group size table is cluster-count-sized and
    * AQE-broadcastable; everything upstream is the banded-LSH + CC
    * shape documented on [[minhashGroups]].
    */
  def softWeights(
      st: DedupState,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap
  ): DataFrame = {
    val grp = graft.util.Materialize.stage(minhashGroups(st, thetaPct, cap))
    val sz = grp.groupBy("dup_group").agg(count(lit(1)).as("group_size"))
    st.toks
      .select(col("doc_id"))
      .join(grp, Seq("doc_id"), "left")
      .join(sz, Seq("dup_group"), "left")
      .select(
        col("doc_id"),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        expr("CAST(1000 div coalesce(group_size, CAST(1 AS BIGINT)) AS BIGINT)").as("weight_permille")
      )
  }

  /** Duplicate-cluster size spectrum: for every near-dup cluster size s
    * (singletons included as s = 1), how many documents and clusters
    * the corpus holds at that size — the one-page "how duplicated is
    * this crawl" profile (mass in s = 1 → clean corpus; a fat tail →
    * template farms) read before choosing hard-keep vs soft-weight
    * dedup. n_clusters = n_docs div s exactly, since every cluster of
    * size s contributes s member rows. Output:
    * (group_size, n_docs, n_clusters).
    *
    * Shape at scale: [[softWeights]]'s banded-LSH + CC machinery, then
    * one partial-aggregated exchange into at most max-cluster-size
    * groups.
    */
  def clusterSizeProfile(
      st: DedupState,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap
  ): DataFrame =
    softWeights(st, thetaPct, cap)
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("group_size"),
        col("n_docs"),
        expr("n_docs div group_size").as("n_clusters")
      )

  val SimhashBits = 16

  /** 16-bit SimHash per document over the token multiset. Bit j of a
    * token's hash is the high bit of hex nibble j of md5(token); the
    * document bit is the sign of the summed ±1 contributions. All string
    * and integer ops — identical in both engines.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TokenRules.tokens(col("text"))).as("tok"))
    val withH = toks.withColumn("h", md5(col("tok").cast("binary")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(
        when(substring(col("h"), j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L)
          .otherwise(-1L)
      ).as(s"s$j")
    }
    val agg = withH.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val shExpr = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j}L ELSE 0L END)")
      .mkString(" + ")
    agg.select(col("doc_id"), expr(shExpr).as("simhash"))
  }

  /** SimHash near-duplicate pairs within source blocks: hamming distance
    * (popcount of xor) at most `maxHamming`.
    *
    * Scale shape: pigeonhole banding, NOT an all-pairs block join. The
    * 16-bit hash splits into maxHamming+1 bands; flipping at most
    * maxHamming bits leaves at least one band intact, so an equi-join on
    * (source, band index, band value) generates a candidate superset with
    * zero false negatives, and the exact popcount filter then reproduces
    * the all-pairs result bit-for-bit (the oracle keeps the plain
    * all-pairs rule). Candidates per band bucket are near-duplicates by
    * construction — never a block-wide cartesian.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimhashBits, s"maxHamming must be < $SimhashBits")
    // smallest divisor of SimhashBits with nBands >= maxHamming + 1 —
    // more bands than pigeonhole needs stays lossless (only adds
    // candidates), so non-divisor maxHamming+1 rounds up
    val nBands = (1 to SimhashBits)
      .filter(SimhashBits % _ == 0)
      .find(_ >= maxHamming + 1)
      .get
    val bandBits = SimhashBits / nBands
    val mask = (1 << bandBits) - 1
    val sh = simhash(docs).join(docs.select("doc_id", "source"), "doc_id")
    val banded = sh.select(
      col("source"),
      col("doc_id"),
      col("simhash"),
      posexplode(
        array((0 until nBands).map(b => expr(s"(simhash >> ${b * bandBits}) & $mask")): _*)
      ).as(Seq("band", "bval"))
    )
    val l = banded.select(col("source"), col("band"), col("bval"), col("doc_id").as("a"), col("simhash").as("sa"))
    val r = banded.select(col("source"), col("band"), col("bval"), col("doc_id").as("b"), col("simhash").as("sb"))
    l.join(r, Seq("source", "band", "bval"))
      .where(col("a") < col("b"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .distinct()
  }

  /** Edit-distance verification of the SimHash candidate pairs: each
    * banded candidate (hamming ≤ `maxHamming` within its source block)
    * is scored with the classic Levenshtein distance over the first
    * `prefixLen` characters of both texts, plus the length-normalized
    * similarity in permille. SimHash says "probably near-duplicate";
    * edit distance is the character-level ground check a curator reads
    * before bulk-dropping a candidate cluster — the two disagree
    * exactly on the shuffled-paragraph / template-rewrite cases.
    *
    * Shape at scale: the pair set is the pigeonhole-banded candidate
    * stream (never all-pairs); attaching the two prefixes is two
    * doc_id hash joins; Levenshtein on the capped prefixes is
    * O(prefixLen²) per pair — a constant, by design, because full-text
    * edit distance over web documents is unpayable and unnecessary for
    * a verification signal.
    */
  def editVerifiedPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      prefixLen: Int = 300
  ): DataFrame = {
    val txt = docs.select(col("doc_id"), expr(s"left(text, $prefixLen)").as("t"))
    simhashPairs(docs, maxHamming)
      .join(txt.select(col("doc_id").as("a"), col("t").as("ta")), "a")
      .join(txt.select(col("doc_id").as("b"), col("t").as("tb")), "b")
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn(
        "sim_permille",
        expr("1000 - (1000 * edit_dist) div greatest(length(ta), greatest(length(tb), 1))")
      )
      .select("a", "b", "hamming", "edit_dist", "sim_permille")
  }

  /** Per-source duplication rollup over the [[nearDupKeep]] verdicts —
    * the crawl-quality table a corpus curator reads per domain: how
    * many documents each source contributed, how many the near-dup
    * keep list drops, and the drop rate in permille (a source at
    * 600‰ is mirror/syndication spam; its crawl priority should fall
    * before its bytes are fetched again). Output:
    * (source, n_docs, n_dropped, drop_permille).
    *
    * Shape at scale: the shared banded-LSH keep pass over the dedup
    * state, one doc-keyed join to attach the source column (`docs` is
    * read only for its (doc_id, source) columns — a column-pruned
    * metadata scan, never the bodies), and a source-keyed
    * partial-aggregated exchange bounded by the domain vocabulary.
    */
  def sourceDupProfile(
      st: DedupState,
      docs: DataFrame,
      thetaPct: Int = 90,
      cap: Int = DefaultLeadCap
  ): DataFrame =
    nearDupKeep(st, thetaPct, cap)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep") === 0L, lit(1))).as("n_dropped")
      )
      .withColumn("drop_permille", expr("(1000 * n_dropped) div n_docs"))
}
