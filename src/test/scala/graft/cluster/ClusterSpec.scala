package graft.cluster

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.model.Graph
import graft.cluster.CandidatePairs.ClusterConfig

/** Clustering property tests ported 1:1 from the reference's LLM-free
  * fixtures (tests/test_clustering.py; FIXTURES.md §3). The reference
  * asserts *properties* of the clustering, not iteration order — those
  * properties must hold for our deterministic fixpoint too.
  */
class ClusterSpec extends AnyFunSuite with SparkTestBase {

  private def cluster(g: Graph, cfg: ClusterConfig = ClusterConfig()): Graph =
    ClusterGraph.clusterDriverGraph(spark, g, cfg)

  test("cats-dogs: shrinkage, representative membership, relation remap") {
    // tests/test_clustering.py:12-84
    val g = Graph(
      entities = Set("cat", "cats", "kitten", "dog", "dogs", "puppy"),
      edges = Set("likes", "like", "liking", "chases", "chase"),
      relations = Set(
        ("cat", "likes", "dog"),
        ("cats", "like", "dogs"),
        ("kitten", "liking", "puppy"),
        ("dog", "chases", "cat"),
        ("dogs", "chase", "cats")
      )
    )
    val c = cluster(g)
    assert(c.entities.size < g.entities.size, s"no shrinkage: ${c.entities}")
    assert(c.edges.size < g.edges.size, s"no edge shrinkage: ${c.edges}")
    // every representative is a member of its own cluster
    c.entityClusters.get.foreach { case (rep, members) => assert(members.contains(rep)) }
    c.edgeClusters.get.foreach { case (rep, members) => assert(members.contains(rep)) }
    // cat/cats and dog/dogs merged
    assert(c.entityClusters.get.exists { case (_, m) => Set("cat", "cats").subsetOf(m) })
    assert(c.entityClusters.get.exists { case (_, m) => Set("dog", "dogs").subsetOf(m) })
    // relations remapped onto representatives
    val reps = c.entities
    c.relations.foreach { case (s, _, o) =>
      assert(reps.contains(s) && reps.contains(o))
    }
  }

  test("case variants collapse to exactly one cluster each") {
    // tests/test_clustering.py:109-158
    val g = Graph(
      entities = Set("Person", "person", "PERSON", "Book", "BOOK", "book"),
      edges = Set("Reads", "reads", "READS"),
      relations = Set(
        ("Person", "Reads", "Book"),
        ("person", "reads", "BOOK"),
        ("PERSON", "READS", "book")
      )
    )
    val c = cluster(g)
    assert(c.entities.size == 2, c.entities)
    assert(c.edges.size == 1, c.edges)
    assert(c.relations.size == 1, c.relations)
    assert(c.entityClusters.get.size == 2)
    assert(c.entityClusters.get.values.forall(_.size == 3))
    assert(c.edgeClusters.get.head._2.size == 3)
  }

  test("sentiment groups via explicit synonym config (context analogue)") {
    // tests/test_clustering.py:161-200 — context-driven semantic merge
    val g = Graph(
      entities = Set("happy", "joyful", "glad", "sad", "unhappy", "gloomy", "person"),
      edges = Set("is", "feels", "becomes"),
      relations = Set(
        ("person", "is", "happy"),
        ("person", "feels", "joyful"),
        ("person", "becomes", "glad"),
        ("person", "is", "sad"),
        ("person", "feels", "unhappy"),
        ("person", "becomes", "gloomy")
      )
    )
    val cfg = ClusterConfig(synonymSets = Seq(
      Set("happy", "joyful", "glad"),
      Set("sad", "unhappy", "gloomy")
    ))
    val c = cluster(g, cfg)
    assert(c.entityClusters.get.exists { case (_, m) => Set("happy", "joyful", "glad").subsetOf(m) })
    assert(c.entityClusters.get.exists { case (_, m) => Set("sad", "unhappy", "gloomy").subsetOf(m) })
    assert(c.entityClusters.get.exists { case (_, m) => m == Set("person") })
  }

  test("synonym sets merge present members even when the set's sorted head is absent") {
    // the set's lexicographic head ("angry") never appears in the graph;
    // a star-to-head edge shape would drop both edges at the presence
    // filter and leave the two present synonyms unmerged
    val g = Graph(
      entities = Set("furious", "irate", "person"),
      edges = Set("is"),
      relations = Set(("person", "is", "furious"), ("person", "is", "irate"))
    )
    val cfg = ClusterConfig(synonymSets = Seq(Set("angry", "furious", "irate")))
    val c = cluster(g, cfg)
    assert(c.entityClusters.get.exists { case (_, m) => Set("furious", "irate").subsetOf(m) })
  }

  test("no over-merge: distinct items stay singletons") {
    // tests/test_clustering.py:203-242
    val g = Graph(
      entities = Set("apple", "banana", "carrot", "dog", "farmer"),
      edges = Set("eats", "grows", "likes"),
      relations = Set(
        ("dog", "eats", "apple"),
        ("farmer", "grows", "carrot"),
        ("farmer", "likes", "banana")
      )
    )
    val c = cluster(g)
    assert(c.entities == g.entities)
    assert(c.edges == g.edges)
    assert(c.relations == g.relations)
    assert(c.entityClusters.get.values.forall(_.size == 1))
  }

  test("empty graph yields empty cluster dicts, not null") {
    // tests/test_clustering.py:245-256
    val c = cluster(Graph.empty)
    assert(c.entityClusters.contains(Map.empty))
    assert(c.edgeClusters.contains(Map.empty))
    assert(c.entities.isEmpty && c.edges.isEmpty && c.relations.isEmpty)
  }

  test("singletons: relations preserved, every item in some cluster") {
    // tests/test_clustering.py:259-294
    val g = Graph(
      entities = Set("person", "home"),
      edges = Set("walks"),
      relations = Set(("person", "walks", "home"))
    )
    val c = cluster(g)
    assert(c.relations == g.relations)
    val clusteredEntities = c.entityClusters.get.values.flatten.toSet
    assert(g.entities.subsetOf(clusteredEntities))
    val clusteredEdges = c.edgeClusters.get.values.flatten.toSet
    assert(g.edges.subsetOf(clusteredEdges))
  }

  test("large scale: every expected group shares a cluster") {
    // tests/test_clustering.py:321-444
    val g = Graph(
      entities = Set(
        "cat", "cats", "kitten", "dog", "dogs", "puppy", "mouse", "mice",
        "rat", "rats", "hamster", "hamsters", "fish", "fishes", "bird",
        "birds", "parrot", "parrots", "owner", "owners", "vet",
        "veterinarian", "doctor", "food", "baby", "pet"
      ),
      edges = Set(
        "likes", "like", "loves", "love", "chases", "chase", "pursuing",
        "pursue", "eats", "eat", "feeds", "feed", "cares for", "care for",
        "tends to", "tend to", "treats", "treat", "healing", "heals", "heal"
      ),
      relations = Set(
        ("cat", "likes", "fish"),
        ("cats", "love", "mice"),
        ("dog", "chases", "cat"),
        ("dogs", "pursue", "birds"),
        ("mouse", "eats", "food"),
        ("rat", "feeds", "baby"),
        ("owner", "cares for", "pet"),
        ("vet", "treats", "dog"),
        ("veterinarian", "heals", "cat")
      )
    )
    // the reference steers "vet/veterinarian/doctor" together via the
    // context prompt; here context is explicit configuration
    val cfg = ClusterConfig(synonymSets = Seq(Set("vet", "veterinarian", "doctor")))
    val c = cluster(g, cfg)
    assert(c.entities.size < g.entities.size)
    assert(c.edges.size < g.edges.size)

    val animalGroups = Seq(
      Set("cat", "cats", "kitten"),
      Set("dog", "dogs", "puppy"),
      Set("mouse", "mice", "rat", "rats"),
      Set("fish", "fishes"),
      Set("bird", "birds", "parrot", "parrots"),
      Set("hamster", "hamsters"),
      Set("owner", "owners"),
      Set("vet", "veterinarian", "doctor")
    )
    animalGroups.foreach { group =>
      assert(
        c.entityClusters.get.values.exists(cl => (group & cl).size >= 2),
        s"no cluster covers >=2 of $group: ${c.entityClusters.get}"
      )
    }
    val actionGroups = Seq(
      Set("likes", "like", "loves", "love"),
      Set("chases", "chase", "pursuing", "pursue"),
      Set("eats", "eat", "feeds", "feed"),
      Set("cares for", "care for", "tends to", "tend to"),
      Set("treats", "treat", "healing", "heals", "heal")
    )
    actionGroups.foreach { group =>
      assert(
        c.edgeClusters.get.values.exists(cl => (group & cl).size >= 2),
        s"no cluster covers >=2 of $group: ${c.edgeClusters.get}"
      )
    }
  }

  test("family: Josh/Joshua unify and relations rewrite onto the rep") {
    // src/kg_gen/steps/_3_cluster_graph.py:339-360 demo fixture
    val g = Graph(
      entities = Set("Linda", "Joshua", "Josh", "Ben", "Andrew", "Judy"),
      edges = Set("is mother of", "is brother of", "is father of",
        "is sister of", "is nephew of", "is aunt of", "is same as"),
      relations = Set(
        ("Linda", "is mother of", "Joshua"),
        ("Ben", "is brother of", "Josh"),
        ("Andrew", "is father of", "Josh"),
        ("Judy", "is sister of", "Andrew"),
        ("Josh", "is nephew of", "Judy"),
        ("Judy", "is aunt of", "Josh"),
        ("Josh", "is same as", "Joshua")
      )
    )
    val c = cluster(g)
    assert(c.entityClusters.get.exists { case (rep, m) =>
      m == Set("Josh", "Joshua") && rep == "Josh"
    }, c.entityClusters.get)
    // (Josh, is same as, Joshua) collapses to (Josh, is same as, Josh)
    assert(c.relations.contains(("Josh", "is same as", "Josh")))
    assert(!c.entities.contains("Joshua"))
  }

  test("clustering is deterministic") {
    val g = Graph(
      entities = Set("run", "runs", "running", "walk", "walks"),
      edges = Set("does"),
      relations = Set(("run", "does", "walk"))
    )
    assert(cluster(g) == cluster(g))
  }

  test("driver and distributed clusterItems paths assign identically") {
    import spark.implicits._
    val members = ((0 until 80).map(graft.corpus.CorpusGen.entityName) ++
      (0 until 30).flatMap(i => graft.corpus.CorpusGen.variants(graft.corpus.CorpusGen.entityName(i)))).distinct
    val items = members.toDF("member")
    def assigns(cfg: CandidatePairs.ClusterConfig) =
      ClusterGraph.clusterItems(items, cfg).as[(String, String)].collect().toSet
    // threshold 0 forces the CC fixpoint + groupBy-reps branch; default
    // takes the driver union-find branch — same members, same clusters
    val viaDriver = assigns(CandidatePairs.ClusterConfig())
    val viaDistributed = assigns(CandidatePairs.ClusterConfig(driverClusterThreshold = 0))
    assert(viaDriver == viaDistributed)
    assert(viaDriver.map(_._1) == members.toSet)
  }

  test("edgesLocal matches the distributed edges pair-for-pair") {
    import spark.implicits._
    // a surface set exercising all four channels: exact-norm groups
    // (case/plural), prefix-neighborhood variants, minhash-band
    // near-identicals, synonyms, and confusable non-matches that must
    // NOT edge (antonyms, leading-syllable-different names)
    val base = (0 until 120).map(graft.corpus.CorpusGen.entityName)
    val members = (base ++ base.take(40).flatMap(graft.corpus.CorpusGen.variants) ++
      Seq("happy", "unhappy", "subel dunmore", "vebel dunmore", "vet", "veterinarian") ++
      // multibyte and astral surfaces: Spark counts and orders them by
      // code point / UTF-8 byte, the JVM by UTF-16 unit
      Seq("Ünïcode", "ünïcodes", "Ünïcod", "𝕏enon", "𝕏enons", "𝕏eno", "\uE000zone", "\uE000zones")).distinct
    val cfg = ClusterConfig(synonymSets = Seq(Set("vet", "veterinarian")))
    val local = CandidatePairs.edgesLocal(members, cfg).toSet
    val dist = CandidatePairs
      .edges(members.toDF("member"), cfg)
      .as[(String, String)]
      .collect()
      .toSet
    assert(local == dist, s"local-only: ${(local -- dist).take(5)}; dist-only: ${(dist -- local).take(5)}")
    assert(local.nonEmpty)
  }

  /** The string formula `bandKeys` computed before it moved onto the
    * shared MinHash kernel, kept as the bit-for-bit reference: hex md5
    * of `i:shingle`, per-seed String min, hex md5 of each `|`-joined
    * band slice.
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def referenceBandKeys(norm: String, cfg: ClusterConfig): Seq[String] = {
    val sh = Normalize.shingles(norm, cfg.shingleK)
    val rows = math.max(1, cfg.minhashSeeds / cfg.bands)
    val sig = (0 until cfg.minhashSeeds).map(i => sh.map(t => md5Hex(i + ":" + t)).min)
    (0 until cfg.bands).map(b => md5Hex(sig.slice(b * rows, (b + 1) * rows).mkString("|")))
  }

  test("bandKeys equals the reference string formula key-for-key") {
    val names = (0 until 120).map(graft.corpus.CorpusGen.entityName)
    val surfaces = names ++ names.flatMap(graft.corpus.CorpusGen.variants) ++
      // empty, shorter than k, exactly k, 2- and 3-byte UTF-8, astral
      // (UTF-16 `sliding` splits its surrogate pairs: a lone surrogate
      // encodes as '?'), ligatures, and a bare lone surrogate
      Seq("", "a", "ab", "abc", "é", "日本語テキスト", "𝕏 x 𝕏", "ﬁne ﬂow", "\uD835x")
    val inputs = (surfaces ++ surfaces.map(Normalize(_))).distinct
    for (cfg <- Seq(ClusterConfig(), ClusterConfig(minhashSeeds = 12, bands = 4), ClusterConfig(minhashSeeds = 4, bands = 8))) {
      inputs.foreach { n =>
        val got = CandidatePairs.bandKeys(n, cfg)
        assert(got == referenceBandKeys(n, cfg), s"norm '$n', $cfg")
        assert(got.length == cfg.bands)
      }
    }
  }

  test("connected components: salted propagation equals unsalted on a hub graph") {
    import spark.implicits._
    // star hub (h -> s0..s199) + a chain + isolated nodes: the hub's
    // edge rows all share src=h, the exact skew the salt spreads
    val hubEdges = (0 until 200).map(i => ("hub", s"s$i"))
    val chain = Seq(("c0", "c1"), ("c1", "c2"), ("c2", "c3"))
    val edges = (hubEdges ++ chain).toDF("src", "dst")
    val nodes = (hubEdges.flatMap(e => Seq(e._1, e._2)) ++
      chain.flatMap(e => Seq(e._1, e._2)) ++ Seq("lone")).distinct.toDF("node")
    def result(salt: Int): Set[(String, String)] =
      ConnectedComponents
        .run(edges, nodes, saltFactor = salt)
        .as[(String, String)]
        .collect()
        .toSet
    val unsalted = result(1)
    assert(result(4) == unsalted)
    // a capped-out run is mid-propagation (components still split) —
    // it must fail loudly, never return the partial labels
    assertThrows[IllegalStateException] {
      ConnectedComponents.run(edges, nodes, maxIterations = 1).collect()
    }
    // sanity on the fixpoint itself
    val byComponent = unsalted.groupBy(_._2)
    assert(byComponent.exists(_._2.size == 201), "hub star must form one 201-node component")
    assert(unsalted.contains(("lone", "lone")))
    assert(byComponent.exists(c => c._2.map(_._1) == Set("c0", "c1", "c2", "c3")))
  }

  test("incremental components equal a from-scratch run over base+delta") {
    import spark.implicits._
    def cc(edges: Seq[(String, String)], extraNodes: Seq[String] = Nil) = {
      val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ extraNodes).distinct.toDF("node")
      ConnectedComponents.run(edges.toDF("src", "dst"), nodes)
    }
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.as[(String, String)].collect().toSet
    // base: three components {a*}, {b*}, {z} (z isolated via extraNodes)
    val base = Seq(("a1", "a2"), ("a2", "a3"), ("b1", "b2"))
    val baseAssign = cc(base, extraNodes = Seq("z"))
    // delta exercises every case at once: merges the a- and b-components
    // (b2->a3), attaches a brand-new chain (n1,n2) to z, a delta-only
    // island (m1,m2), a re-sent base edge (a1,a2 -> contracted
    // self-loop), and an intra-component edge (b1->b2)
    val delta = Seq(("b2", "a3"), ("z", "n1"), ("n1", "n2"), ("m1", "m2"), ("a1", "a2"), ("b1", "b2"))
    val incr = asSet(ConnectedComponents.incremental(baseAssign, delta.toDF("src", "dst")))
    val scratch = asSet(cc(base ++ delta))
    assert(incr == scratch, s"incr-only: ${(incr -- scratch).take(5)}; scratch-only: ${(scratch -- incr).take(5)}")
    // the merged a/b component carries the global min member as label
    assert(incr.contains(("b1", "a1")) && incr.contains(("a3", "a1")))
    // formerly-isolated z merged with the delta-only chain
    assert(incr.contains(("n2", "n1")) && incr.contains(("z", "n1")))
    // empty delta: assignment passes through unchanged
    val empty = spark.emptyDataset[(String, String)].toDF("src", "dst")
    assert(asSet(ConnectedComponents.incremental(baseAssign, empty)) == asSet(baseAssign))
    // a delta-only node whose only delta edge is a self-loop ("Alice met
    // Alice") is still a node of the merged graph: it must survive the
    // contraction, both when other delta edges reach the fixpoint and
    // when every contracted edge is a self-loop (the skipped fixpoint)
    val ab = Seq(("a", "b"))
    val abAssign = cc(ab)
    for (loopDelta <- Seq(Seq(("x", "x"), ("b", "c")), Seq(("x", "x"), ("a", "b")))) {
      val got = asSet(ConnectedComponents.incremental(abAssign, loopDelta.toDF("src", "dst")))
      val want = asSet(cc(ab ++ loopDelta))
      assert(got == want, s"delta $loopDelta: incr-only ${got -- want}; scratch-only ${want -- got}")
      assert(got.contains(("x", "x")))
    }
  }

  test("lshChannelRecall: engine expressions agree with the driver-side pure functions") {
    import spark.implicits._
    // abcdefghij/abcdefghix: 8 shingles each, 7 shared -> jaccard 7/9 >= 3/4, distinct
    // norms -> gold. walked/walk normalize to the same key -> excluded from gold by
    // the norm-inequality rule. mnopqrstuv is unrelated to everything.
    val surfaces = Seq("abcdefghij", "abcdefghix", "walked", "walk", "mnopqrstuv")
    val row = CandidatePairs.lshChannelRecall(surfaces.toDF("entity")).collect().head
    val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))

    // independent brute force via the driver-side pure functions the
    // cluster stage itself uses (md5/minhash/banding in plain Scala)
    val cfg = CandidatePairs.ClusterConfig()
    val norm = surfaces.map(sf => sf -> Normalize(sf)).toMap
    val pairs = for {
      i <- surfaces.indices
      j <- (i + 1) until surfaces.length
    } yield (Seq(surfaces(i), surfaces(j)).min, Seq(surfaces(i), surfaces(j)).max)
    val distinctNorm = pairs.filter { case (a, b) => norm(a) != norm(b) }
    val gold = distinctNorm.filter { case (a, b) =>
      Normalize.jaccard(norm(a), norm(b), cfg.shingleK) >= cfg.jaccardThreshold
    }.toSet
    val lsh = distinctNorm.filter { case (a, b) =>
      CandidatePairs.bandKeys(norm(a), cfg).toSet
        .intersect(CandidatePairs.bandKeys(norm(b), cfg).toSet)
        .nonEmpty
    }.toSet
    val caught = gold.intersect(lsh)
    val expectRecall = if (gold.isEmpty) 0L else 1000L * caught.size / gold.size
    assert(got == ((gold.size.toLong, lsh.size.toLong, caught.size.toLong, expectRecall)))
    // the fixture is built so the gold set is non-trivial
    assert(gold.nonEmpty, "fixture produced no gold pairs")
    assert(gold == Set(("abcdefghij", "abcdefghix")))
  }
}
