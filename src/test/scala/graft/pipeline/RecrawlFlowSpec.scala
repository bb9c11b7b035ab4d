package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.analytics.GraphDiff
import graft.extract.TokenRules
import graft.ops.Dedup
import graft.store.SnapshotTable

/** The incremental-maintenance capstone: a recrawl delta is deduplicated
  * against the COMMITTED state of the previous ingest (band index +
  * token sets, read back off the snapshot store — no base rescan), only
  * the kept documents extend the corpus, and the new canonical triple
  * set diffs against the committed v1 graph as (added, removed) rows.
  * Composes Dedup.incrementalKeep + SnapshotTable + GraphDiff —
  * each individually specced; this asserts the composed flow end to end.
  */
class RecrawlFlowSpec extends AnyFunSuite with SparkTestBase {

  test("recrawl: committed dedup state -> incremental keep -> snapshot diff") {
    val root = java.nio.file.Files.createTempDirectory("graft-recrawl").toString
    val table = new SnapshotTable(spark, root)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = d.where(col("doc_id") % 4 =!= 3)
    val delta = d.where(col("doc_id") % 4 === 3)

    // ingest v1: canonical triples + the two dedup-state artifacts
    val v1 = table.commit(TokenRules.triples(base), "canonical_triples", "v1")
    val st = Dedup.state(base)
    table.commit(st.banded, "dedup_band_index", "v1")
    table.commit(st.toks, "dedup_token_sets", "v1")

    // recrawl: dedup the delta against the COMMITTED artifacts only
    val verdicts = Dedup.incrementalKeep(
      Dedup.DedupState(table.read("dedup_token_sets", "v1"), table.read("dedup_band_index", "v1")),
      delta
    )
    val keptIds = verdicts.where(col("keep") === 1L).select("doc_id")
    val kept = delta.join(keptIds, "doc_id")
    assert(verdicts.count() == delta.count())
    assert(kept.count() < delta.count(), "fixture has no cross-crawl dups — weak test")
    assert(kept.count() > 0, "every delta doc was a dup — weak test")

    // v2 = base + kept delta; diff v2 against the committed v1 snapshot
    val v2 = TokenRules.triples(base.unionByName(kept))
    val diff = GraphDiff.triples(v1, v2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))

    // growth is monotone: nothing removed, added = brute-force EXCEPT
    assert(diff.forall(_._4 == "added"))
    val v1set = v1.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val v2set = v2.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(diff.map(t => (t._1, t._2, t._3)).toSet == (v2set -- v1set))
    assert(diff.nonEmpty, "kept delta contributed no new triples — weak test")

    // components maintain incrementally off the SAME committed state:
    // v1's (node, component) assignment is a snapshot artifact, and the
    // diff's added edges fold in via ConnectedComponents.incremental —
    // base edges never re-read — landing exactly where a from-scratch
    // run over v2 lands
    import graft.cluster.ConnectedComponents
    def edgesOf(tr: org.apache.spark.sql.DataFrame) =
      tr.select(col("subject").as("src"), col("obj").as("dst"))
    def nodesOf(tr: org.apache.spark.sql.DataFrame) =
      tr.select(col("subject").as("node"))
        .union(tr.select(col("obj").as("node")))
        .distinct()
    table.commit(ConnectedComponents.run(edgesOf(v1), nodesOf(v1)), "cc_assign", "v1")
    val addedEdges = GraphDiff
      .triples(v1, v2)
      .where(col("change") === "added")
      .select(col("subject").as("src"), col("obj").as("dst"))
    val incr = ConnectedComponents
      .incremental(table.read("cc_assign", "v1"), addedEdges)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    val scratch = ConnectedComponents
      .run(edgesOf(v2), nodesOf(v2))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(incr == scratch, s"incr-only: ${(incr -- scratch).take(5)}; scratch-only: ${(scratch -- incr).take(5)}")

    // relation-quality audit over the recrawl: this crawl only ADDS
    // triples, so functional conflicts are monotone — every v1 conflict
    // row survives in v2 with n_objs no smaller — and the v2 profile's
    // triple counts must sum to the v2 graph exactly
    import graft.analytics.Analytics
    def conflictMap(tr: org.apache.spark.sql.DataFrame) =
      Analytics.functionalConflicts(tr).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1 = conflictMap(v1)
    val c2 = conflictMap(v2)
    assert(c1.forall { case (k, n) => c2.getOrElse(k, 0L) >= n },
      "a grow-only recrawl lost a functional conflict")
    val profiled = Analytics.predicateProfile(v2)
      .agg(sum(col("n_triples"))).collect()(0).getLong(0)
    assert(profiled == v2.count(), "profile triple counts must partition the graph")

    // the entity-resolution and rule-mining audits are monotone on a
    // grow-only recrawl too: contexts and composition paths only get
    // added, so every v1 same-as candidate keeps at least its shared
    // count and every v1 rule keeps at least its path and pair support
    def sameAsMap(tr: org.apache.spark.sql.DataFrame) =
      Analytics.sameAsCandidates(tr).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sa1 = sameAsMap(v1)
    val sa2 = sameAsMap(v2)
    assert(sa1.nonEmpty, "fixture produced no same-as candidates — weak test")
    assert(sa1.forall { case (k, n) => sa2.getOrElse(k, 0L) >= n },
      "a grow-only recrawl lost same-as shared contexts")
    def ruleMap(tr: org.apache.spark.sql.DataFrame) =
      Analytics.ruleSupport(tr).collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val ru1 = ruleMap(v1)
    val ru2 = ruleMap(v2)
    assert(ru1.nonEmpty, "fixture produced no composition rules — weak test")
    assert(ru1.forall { case (k, (paths, pairs)) =>
      val (p2, q2) = ru2.getOrElse(k, (0L, 0L)); p2 >= paths && q2 >= pairs
    }, "a grow-only recrawl lost rule support")
  }
}
