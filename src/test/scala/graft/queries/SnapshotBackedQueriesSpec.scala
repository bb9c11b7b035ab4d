package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Snapshot-backed query mode (VERDICT r3 #4): with a derived-table root
  * configured, the kg_* analytics read the committed canonical
  * triple/entity snapshots instead of re-deriving from raw text; both
  * paths must be row-identical (so the driver's oracle hash-matches
  * either way).
  */
class SnapshotBackedQueriesSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def rowsOf(name: String): Seq[String] = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("snapshot-backed kg_* queries are row-identical to derive-from-text") {
    val names =
      Seq("kg_triples", "kg_entities", "kg_edges", "kg_degree", "kg_stats", "kg_components",
        "kg_cc_incremental")
    val fromText = names.map(n => n -> rowsOf(n)).toMap

    val root = Files.createTempDirectory("graft-derived-spec")
    try {
      Queries.derivedRootOverride = Some(root.toString)
      Queries.ensureDerived(spark, sfDir)
      // the snapshot must actually be committed and used, not silently
      // falling back to the derive path
      val t = new graft.store.SnapshotTable(spark, root.toString)
      val fp = Queries.derivedFp(spark, sfDir).get
      assert(t.exists("derived_triples", fp))
      assert(t.exists("derived_entities", fp))
      // kg_cc_incremental's committed base assignment and delta edges
      assert(t.exists("derived_cc_base_assign", fp))
      assert(t.exists("derived_cc_delta_edges", fp))
      val fromSnap = names.map(n => n -> rowsOf(n)).toMap
      names.foreach { n =>
        assert(fromSnap(n) == fromText(n), s"query $n diverged under snapshot-backed mode")
      }
    } finally {
      Queries.derivedRootOverride = None
      deleteRecursively(root.toFile)
    }
  }

  test("snapshot-backed dedup_* queries are row-identical to derive-from-text") {
    val names = Seq(
      "dedup_minhash", "dedup_groups", "dedup_keep",
      "dedup_weights", "dedup_sizes", "dedup_source_profile"
    )
    val fromText = names.map(n => n -> rowsOf(n)).toMap

    val root = Files.createTempDirectory("graft-derived-dedup-spec")
    try {
      Queries.derivedRootOverride = Some(root.toString)
      Queries.ensureDerived(spark, sfDir)
      // the dedup state must actually be committed and used, not
      // silently falling back to the derive path
      val t = new graft.store.SnapshotTable(spark, root.toString)
      val fp = Queries.derivedFp(spark, sfDir).get
      assert(t.exists("derived_token_sets", fp))
      assert(t.exists("derived_band_index", fp))
      val fromSnap = names.map(n => n -> rowsOf(n)).toMap
      names.foreach { n =>
        assert(fromSnap(n) == fromText(n), s"query $n diverged under snapshot-backed mode")
      }
    } finally {
      Queries.derivedRootOverride = None
      deleteRecursively(root.toFile)
    }
  }

  test("ensureDerived is resume-safe: a second call never recomputes") {
    val root = Files.createTempDirectory("graft-derived-resume")
    try {
      Queries.derivedRootOverride = Some(root.toString)
      Queries.ensureDerived(spark, sfDir)
      val t = new graft.store.SnapshotTable(spark, root.toString)
      val fp = Queries.derivedFp(spark, sfDir).get
      val stages = Seq("derived_triples", "derived_cc_base_assign")
      def files = stages.map(st => st -> t.read(st, fp).inputFiles.toSet).toMap
      val before = files
      Queries.ensureDerived(spark, sfDir)
      val after = files
      stages.foreach { st =>
        assert(before(st) == after(st), s"resume recomputed the committed $st snapshot")
      }
    } finally {
      Queries.derivedRootOverride = None
      deleteRecursively(root.toFile)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
    ()
  }
}
