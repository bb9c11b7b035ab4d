package graft.store

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SnapshotTableSpec extends AnyFunSuite with SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snap").toString

  test("commit writes data + manifest with per-file lineage, hint swaps atomically") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root)
    val df = spark.range(100).withColumn("v", col("id") * 2)
    t.commit(df.repartition(4), "stage1", "fp-a")
    assert(t.exists("stage1", "fp-a"))
    assert(t.rowCount("stage1", "fp-a").contains(100L))
    val id = t.snapshotId("stage1", "fp-a")
    assert(t.currentSnapshot.contains(id))
    val manifest = t.manifest(id).get
    assert(manifest("stage").toString.contains("stage1"))
    // per-file lineage present (4 partitions -> up to 4 files)
    assert(manifest.contains("files"))
  }

  test("snapshotId is pinned: it names persisted snapshot directories") {
    // stage + "-" + hex of the first 8 md5 bytes of the fingerprint; a
    // change here orphans every snapshot already committed
    val t = new SnapshotTable(spark, freshRoot())
    assert(t.snapshotId("s", "fp") == "s-0666f0acdeed38d4")
  }

  test("resumeOrCompute skips recomputation for committed fingerprints") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root)
    var computes = 0
    def compute() = { computes += 1; spark.range(10).toDF() }
    val a = t.resumeOrCompute("s", "fp1")(compute())
    assert(computes == 1 && a.count() == 10)
    val b = t.resumeOrCompute("s", "fp1")(compute())
    assert(computes == 1, "second call must not recompute")
    assert(b.count() == 10)
    // different fingerprint -> new snapshot
    t.resumeOrCompute("s", "fp2")(compute())
    assert(computes == 2)
  }

  test("kill-and-resume: a fresh table instance resumes identical data") {
    val root = freshRoot()
    val t1 = new SnapshotTable(spark, root)
    val data = spark.range(50).withColumn("x", col("id") % 7)
    t1.commit(data, "stage1", "fp")
    // "crash": drop the handle; a new process opens the same root
    val t2 = new SnapshotTable(spark, root)
    assert(t2.exists("stage1", "fp"))
    val resumed = t2.read("stage1", "fp")
    assert(resumed.collect().map(_.toSeq).toSet == data.collect().map(_.toSeq).toSet)
  }

  test("lineage exposes exact per-file counters; history walks the parent chain") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root)
    t.commit(spark.range(100).repartition(4).toDF(), "a", "fp1")
    t.commit(spark.range(30).toDF(), "b", "fp2")
    val lin = t.lineage("a", "fp1")
    assert(lin.columns.toSeq == Seq("snapshot_id", "stage", "file", "rows"))
    val rows = lin.collect()
    assert(rows.map(_.getLong(3)).sum == 100L, "per-file counters must sum to the committed count")
    assert(rows.length >= 2, "a repartitioned commit spans multiple files")
    // every recorded file exists and is distinct
    assert(rows.map(_.getString(2)).distinct.length == rows.length)
    rows.foreach(r => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(r.getString(2)))))
    val h = t.history
    assert(h.map(x => (x._2, x._3)) == Seq(("b", 30L), ("a", 100L)), h.toString)
  }

  test("prunedRead: manifest zone maps skip files, result identical to full scan + filter") {
    import spark.implicits._
    val root = freshRoot()
    val t = new SnapshotTable(spark, root)
    // range-partitioned by key: each data file covers a disjoint key
    // range, so a point probe must keep exactly one file per column type
    val df = spark
      .range(0, 1000)
      .select(
        col("id").as("k"),
        concat(lit("key"), format_string("%04d", col("id"))).as("s"),
        (col("id") * 3).as("v")
      )
      .repartitionByRange(8, col("k"))
    val full = t.commit(df, "zm", "fp-zm")
    val allFiles = full.inputFiles.toSet
    assert(allFiles.size == 8)

    // long-column point probe
    val pl = t.prunedRead("zm", "fp-zm", "k", 777L)
    assert(pl.inputFiles.length < allFiles.size, "no files were skipped")
    val gotL = pl.where(col("k") === 777L).collect().map(_.getLong(2)).toSeq
    assert(gotL == Seq(777L * 3))

    // string-column point probe (files are range-laid-out on k, and s is
    // monotone in k, so string zone maps prune too)
    val ps = t.prunedRead("zm", "fp-zm", "s", "key0123")
    assert(ps.inputFiles.length < allFiles.size)
    assert(ps.where(col("s") === "key0123").count() == 1)

    // out-of-range probe: zero files, empty frame, schema preserved
    val none = t.prunedRead("zm", "fp-zm", "k", 10_000L)
    assert(none.count() == 0)
    assert(none.schema == full.schema)

    // a column with no stats (missing from zone maps) prunes nothing
    val noStats = t.prunedRead("zm", "fp-zm", "no_such_col", 1L)
    assert(noStats.inputFiles.toSet == allFiles)
  }

  test("prunedRead on a partitioned snapshot: partition column survives and dir-prunes") {
    import spark.implicits._
    val root = freshRoot()
    val t = new SnapshotTable(spark, root)
    val df = spark
      .range(0, 400)
      .select(
        col("id").as("k"),
        pmod(col("id"), lit(4)).as("bucket"),
        (col("id") * 7).as("v")
      )
    val full = t.commit(df, "pz", "fp-pz", partitionBy = Seq("bucket"))

    // probe on the PARTITION column: values come from directory names
    // (no footer stats exist for them) — they must come back non-NULL
    // and the read must prune to that bucket's directory
    val pb = t.prunedRead("pz", "fp-pz", "bucket", 2L)
    val expected = full.where(col("bucket") === 2L)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pb.where(col("bucket") === 2L)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.size == 100)
    assert(pb.inputFiles.length < full.inputFiles.length, "no partition dirs were pruned")
    // partition-dir inference types bucket as Integer — compare numerically
    assert(pb.select("bucket").distinct().collect().map(_.getAs[Number](0).longValue).toSeq == Seq(2L))

    // probe on a DATA column of the partitioned snapshot: footer zone
    // maps still apply, and the partition column still materializes
    val pk = t.prunedRead("pz", "fp-pz", "k", 123L)
    val row = pk.where(col("k") === 123L).select("bucket", "v").collect()
    assert(row.length == 1 && row(0).getAs[Number](0).longValue == 123L % 4 && row(0).getLong(1) == 123L * 7)
  }
}
