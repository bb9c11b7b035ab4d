package graft.cluster

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MinhashUtil
import graft.util.Hex

/** Candidate-pair generation for surface-form clustering — the
  * deterministic, order-independent replacement for the reference's
  * greedy LLM propose/validate loop (src/kg_gen/steps/_3_cluster_graph.py:
  * 217-276). Four blocking channels, unioned:
  *
  *   1. exact normalized-key star edges (each member links to the
  *      group-minimum member — no quadratic blowup for big exact groups);
  *   2. sorted-neighborhood edges within 2-char-prefix blocks of the
  *      normalized form (prefix-y variants sort adjacently; partitioning
  *      by prefix block avoids a global sort at scale);
  *   3. banded-MinHash buckets over character shingles (non-prefix
  *      variants), pairs generated sorted-neighborhood-style inside each
  *      bucket with a deterministic cap — no quadratic bucket blowup;
  *   4. explicit synonym sets from ClusterConfig — the deterministic
  *      analogue of the reference's free-text `context` steering
  *      (tests/test_clustering.py:536-554; SURVEY.md §2.5).
  *
  * Channels 2-3 are *candidates* only; every pair then passes the exact
  * acceptance rule (norm equality / shingle-Jaccard / prefix-ratio /
  * synonym) before it becomes a cluster edge.
  */
object CandidatePairs {

  final case class ClusterConfig(
      /** 0.75: shared-affix but distinct items do NOT merge — antonyms
        * (jaccard3(happy, unhappy) = 0.6) and names differing only in a
        * leading syllable (jaccard3(subel dunmore, vebel dunmore) ≈ 0.69)
        * stay apart. Genuine tense/plural/case/abbreviation variants are
        * caught upstream by norm-equality or the prefix rule, so the
        * Jaccard channel only needs to admit near-identical strings.
        */
      jaccardThreshold: Double = 0.75,
      prefixRatio: Double = 0.6,
      shingleK: Int = 3,
      minhashSeeds: Int = 16,
      bands: Int = 8,
      neighborWindow: Int = 3,
      bucketPairCap: Int = 10,
      maxIterations: Int = 20,
      /** Below this many distinct items, connected components runs as a
        * driver-side union-find over the collected candidate edges
        * instead of the iterative DataFrame loop — the same adaptive
        * small-input principle as AQE's broadcast-join conversion. A
        * surface-form dictionary of ≤100k strings is a few MB; the
        * iterative loop's per-round job latency (driver scheduling, not
        * data) would dominate it. Above the threshold the distributed
        * fixpoint runs unchanged.
        */
      driverClusterThreshold: Int = 100000,
      synonymSets: Seq[Set[String]] = Nil
  )

  /** Banded MinHash keys of a normalized surface: `bands` keys, each the
    * hex md5 of `rows` `|`-joined per-seed minima over md5-hashed UTF-8
    * shingles. The signature comes from the MinHash kernel `Dedup`'s
    * `minhash_sig` also runs ([[graft.functions.MinhashUtil]]), and the
    * bands hash on its reused digest. Pure function — identical on every
    * executor.
    */
  def bandKeys(norm: String, cfg: ClusterConfig): Seq[String] = {
    val sh = Normalize.shingles(norm, cfg.shingleK).map(_.getBytes(StandardCharsets.UTF_8)).toArray
    val rows = math.max(1, cfg.minhashSeeds / cfg.bands)
    val sig = MinhashUtil.sigBytes(sh, cfg.minhashSeeds)
    val md = MinhashUtil.md5
    (0 until cfg.bands).map { b =>
      sig.slice(b * rows, (b + 1) * rows).zipWithIndex.foreach { case (h, r) =>
        if (r > 0) md.update('|'.toByte)
        md.update(h)
      }
      Hex.string(md.digest())
    }
  }

  /** The exact acceptance rule for a candidate pair of (surface, norm). */
  def accepts(cfg: ClusterConfig)(aNorm: String, bNorm: String, aSurf: String, bSurf: String): Boolean =
    aNorm == bNorm ||
      Normalize.jaccard(aNorm, bNorm, cfg.shingleK) >= cfg.jaccardThreshold ||
      Normalize.prefixMatch(aNorm, bNorm, cfg.prefixRatio) ||
      cfg.synonymSets.exists(s => s.contains(aSurf) && s.contains(bSurf))

  /** Spark-parity string semantics for the driver twin: Spark `length`/
    * `substring` count CODE POINTS and its string comparison is UTF-8
    * unsigned-byte order — JVM String.length/take/compareTo are UTF-16
    * code units and disagree beyond the BMP (e.g. U+1D54F counts as 2,
    * and U+E000..U+FFFF sort after astral chars in UTF-16 but before
    * them in UTF-8). The twin must use these, or the adaptive path's
    * clusters change when the dictionary crosses the driver threshold.
    */
  private[cluster] def cpLen(s: String): Int = s.codePointCount(0, s.length)
  private def cpTake(s: String, n: Int): String =
    if (cpLen(s) <= n) s else s.substring(0, s.offsetByCodePoints(0, n))
  private[cluster] val utf8Order: Ordering[String] =
    (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** Driver-side twin of [[edges]] for the adaptive small-dictionary
    * path: identical channels, blocking keys, orderings, and acceptance
    * rule, evaluated in plain Scala over an already-collected member set.
    * The distributed path's per-channel Spark jobs (probe + windows +
    * minhash flatMap + verify) are pure driver-scheduling latency when
    * the dictionary is a few thousand surfaces — this removes them
    * entirely (the jobs, not the semantics: results match [[edges]]
    * pair-for-pair, which the sbt parity test asserts).
    */
  def edgesLocal(members: Seq[String], cfg: ClusterConfig = ClusterConfig()): Seq[(String, String)] = {
    val distinctMembers = members.distinct
    val withNorm = distinctMembers.map(m => (m, Normalize(m)))
    implicit val ord: Ordering[String] = utf8Order
    val pairOrd: Ordering[(String, String)] = Ordering.Tuple2(utf8Order, utf8Order)
    val lenOrd: Ordering[(Int, String)] = Ordering.Tuple2(Ordering.Int, utf8Order)

    // 1. exact-norm star edges: member -> group root (min by (len, member))
    val byNorm = withNorm.groupBy(_._2)
    val exact = byNorm.iterator.flatMap { case (_, ms) =>
      val root = ms.map(_._1).minBy(m => (cpLen(m), m))(lenOrd)
      ms.map(_._1).filter(_ != root).map(m => (m, root))
    }.toSeq

    // distinct norms carry one witness surface (their min member)
    val norms = byNorm.map { case (n, ms) => (ms.map(_._1).min(utf8Order), n) }.toSeq

    // neighbors under a (norm, member) sort within a keyed block —
    // the driver twin of the leadNeighbors window pass
    def neighbors(keyed: Seq[(String, (String, String))], n: Int): Seq[((String, String), (String, String))] =
      keyed.groupBy(_._1).iterator.flatMap { case (_, block) =>
        val sorted = block.map(_._2).sortBy { case (member, norm) => (norm, member) }(pairOrd)
        sorted.indices.flatMap { i =>
          (1 to n).flatMap { d =>
            if (i + d < sorted.length) Some((sorted(i), sorted(i + d))) else None
          }
        }
      }.toSeq

    // 2. sorted neighborhood within 2-char prefix blocks of the norm
    val neighborCand = neighbors(
      norms.map { case (m, n) => (cpTake(n, 2), (m, n)) },
      cfg.neighborWindow
    )

    // 3. minhash band buckets over distinct norms, capped neighborhood
    val bandCand = neighbors(
      norms.flatMap { case (m, n) => bandKeys(n, cfg).map(k => (k, (m, n))) },
      cfg.bucketPairCap
    ).filter { case ((_, aNorm), (_, bNorm)) => aNorm != bNorm }

    val acc = accepts(cfg) _
    val verified = (neighborCand ++ bandCand).collect {
      case ((aM, aN), (bM, bN)) if acc(aN, bN, aM, bM) => (aM, bM)
    }

    // 4. synonym edges over members actually present. Full clique per
    // set (sets are tiny driver config), NOT a star to the sorted head:
    // a star disconnects the present members whenever the head surface
    // is absent from the corpus, since absent-endpoint edges are
    // filtered next.
    val present = distinctMembers.toSet
    val synEdges = cfg.synonymSets.flatMap { s =>
      val sorted = s.toSeq.sorted
      for {
        i <- sorted.indices
        j <- (i + 1) until sorted.length
      } yield (sorted(j), sorted(i))
    }.filter { case (a, b) => present(a) && present(b) }

    (exact ++ verified ++ synEdges).distinct
  }

  /** items: one string column `member` (distinct). Returns accepted edges
    * (src, dst) over member surfaces.
    */
  def edges(items: DataFrame, cfg: ClusterConfig = ClusterConfig()): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._

    val withNorm = items
      .select(col("member"))
      .distinct()
      .as[String]
      .map(m => (m, Normalize(m)))
      .toDF("member", "norm")

    // 1. exact-norm star edges: member -> min(member) within norm group.
    // groupBy+join instead of a whole-partition Window so hot norms get
    // map-side partial aggregation and AQE skew-join handling.
    val roots = withNorm
      .groupBy("norm")
      .agg(min(struct(length(col("member")), col("member"))).as("root"))
    val exact = withNorm
      .join(roots, "norm")
      .select(col("member").as("src"), col("root.member").as("dst"))
      .where(col("src") =!= col("dst"))

    // distinct norms carry one witness surface (their min member) so the
    // near-match channels work per-norm, not per-member
    val norms = withNorm
      .groupBy("norm")
      .agg(min("member").as("member"))

    // one Window pass per channel: all leads of the same frame come out
    // of a single Exchange+Sort+Window as an array of structs, exploded —
    // round 1 union'd `window` separate passes, re-sorting each block
    // `window` times (the clustering hot path's job-count bloat)
    def leadNeighbors(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec, n: Int): DataFrame =
      df.select(
          col("member").as("aMember"),
          col("norm").as("aNorm"),
          // window exprs must live in a Project/Window node — build the
          // lead array here, explode in the next select
          array((1 to n).map(d =>
            struct(
              lead(col("norm"), d).over(w).as("bNorm"),
              lead(col("member"), d).over(w).as("bMember")
            )): _*).as("bs")
        )
        .select(col("aMember"), col("aNorm"), explode(col("bs")).as("b"))
        .where(col("b.bNorm").isNotNull)
        .select(col("aMember"), col("aNorm"), col("b.bMember").as("bMember"), col("b.bNorm").as("bNorm"))

    // 2. sorted neighborhood within 2-char prefix blocks
    val block = Window
      .partitionBy(substring(col("norm"), 1, 2))
      .orderBy(col("norm"), col("member"))
    val neighborCand = leadNeighbors(norms, block, cfg.neighborWindow)

    // 3. minhash band buckets over distinct norms, capped neighborhood
    val banded = norms.as[(String, String)].flatMap { case (norm, member) =>
      bandKeys(norm, cfg).map(k => (k, norm, member))
    }.toDF("bandKey", "norm", "member")
    val bucket = Window.partitionBy("bandKey").orderBy(col("norm"), col("member"))
    val bandCand = leadNeighbors(banded, bucket, cfg.bucketPairCap)
      .where(col("bNorm") =!= col("aNorm"))

    // 4. synonym edges (tiny, driver-provided config)
    val synEdges: DataFrame = {
      // clique, not star-to-head — see edgesLocal: present members must
      // stay connected when the head surface is absent
      val pairs = cfg.synonymSets.flatMap { s =>
        val sorted = s.toSeq.sorted
        for {
          i <- sorted.indices
          j <- (i + 1) until sorted.length
        } yield (sorted(j), sorted(i))
      }
      if (pairs.isEmpty) Seq.empty[(String, String)].toDF("src", "dst")
      else {
        // only link synonyms that are actually present in the item set
        val p = pairs.toDF("src", "dst")
        val members = withNorm.select(col("member"))
        p.join(members.withColumnRenamed("member", "src"), Seq("src"), "left_semi")
          .join(members.withColumnRenamed("member", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
      }
    }

    val acc = accepts(cfg) _
    val verified = neighborCand
      .union(bandCand)
      .dropDuplicates("aNorm", "bNorm")
      .as[(String, String, String, String)]
      .flatMap { case (aMember, aNorm, bMember, bNorm) =>
        if (acc(aNorm, bNorm, aMember, bMember)) Some((aMember, bMember)) else None
      }
      .toDF("src", "dst")

    exact.union(verified).union(synEdges).distinct()
  }

  /** LSH-channel recall eval — the cluster-stage analog of
    * `Dedup.lshRecall`: how many of the shingle-Jaccard-acceptable
    * entity pairs (4·|∩| ≥ 3·|∪| over 3-shingles of the NORM, i.e. the
    * exact jaccardThreshold = 0.75 acceptance rule in integer form,
    * restricted to pairs norm-equality does not already catch) does the
    * banded-MinHash blocking channel (16 seeds / 8 bands — the
    * ClusterConfig defaults) actually surface. One row:
    * (n_gold, n_lsh, n_caught, recall_permille).
    *
    * Shape at scale: everything is bounded by the ENTITY VOCABULARY,
    * not the corpus. The gold denominator blocks on shared shingles
    * (a pair with jaccard ≥ 3/4 shares a shingle by definition), so
    * there is no cartesian anywhere; like dedup_recall this is a
    * declared-cost EVAL op — its exact-verify work is the point. The
    * normalized/shingled/banded base frame is staged once and read by
    * all three sides.
    */
  def lshChannelRecall(entities: DataFrame): DataFrame = {
    val seeds = 16
    val bands = 8
    val rows = seeds / bands
    val mh = (0 until seeds)
      .map(i => s"array_min(transform(sh, t -> md5(concat('$i:', t))))")
      .mkString("array(", ", ", ")")
    val bk = (0 until bands)
      .map { b =>
        val parts = (0 until rows).map(r => s"element_at(mh, ${b * rows + r + 1})").mkString(", ")
        s"md5(concat_ws('|', $parts))"
      }
      .mkString("array(", ", ", ")")
    val base = graft.util.Materialize.stage(
      entities
        .select(
          col("entity"),
          expr(Normalize.Sql.normCase("lower(entity)")).as("norm")
        )
        .withColumn(
          "sh",
          expr(
            "array_sort(array_distinct(CASE WHEN length(norm) <= 3 THEN array(norm) " +
              "ELSE transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3)) END))"
          )
        )
        .withColumn("mh", expr(mh))
        .withColumn("bk", expr(bk))
        .select("entity", "norm", "sh", "bk")
    )
    // gold: shingle-posting equi-join (no cartesian), exact verify
    val post = base.select(explode(col("sh")).as("g"), col("entity"))
    val cands = post
      .select(col("g"), col("entity").as("a"))
      .join(post.select(col("g"), col("entity").as("b")), "g")
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    val gold = graft.util.Materialize.stage(
      cands
        .join(base.select(col("entity").as("a"), col("sh").as("sha"), col("norm").as("na")), "a")
        .join(base.select(col("entity").as("b"), col("sh").as("shb"), col("norm").as("nb")), "b")
        .where(col("na") =!= col("nb"))
        .withColumn("inter", graft.functions.GraftFunctions.distinctIntersectSize(col("sha"), col("shb")).cast("int"))
        .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
        .where(lit(4) * col("inter") >= lit(3) * col("uni"))
        .select("a", "b")
    )
    // LSH channel: pairs sharing >= 1 band bucket (norm-distinct, like gold)
    val bpost = base.select(explode(col("bk")).as("bkk"), col("entity"), col("norm"))
    val lsh = graft.util.Materialize.stage(
      bpost
        .select(col("bkk"), col("entity").as("a"), col("norm").as("na"))
        .join(bpost.select(col("bkk"), col("entity").as("b"), col("norm").as("nb")), "bkk")
        .where(col("a") < col("b") && col("na") =!= col("nb"))
        .select("a", "b")
        .distinct()
    )
    val caught = gold.join(lsh, Seq("a", "b"), "left_semi")
    gold
      .agg(count(lit(1)).as("n_gold"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      .select(
        col("n_gold"),
        col("n_lsh"),
        col("n_caught"),
        expr("CAST((1000 * n_caught) div greatest(n_gold, 1L) AS BIGINT)").as("recall_permille")
      )
  }
}
