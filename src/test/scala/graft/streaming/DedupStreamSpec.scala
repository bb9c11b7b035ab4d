package graft.streaming

import graft.SparkTestBase
import graft.ops.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

final case class DocRow(doc_id: Long, source: String, text: String)

/** Streaming near-dup keep-list vs a brute-force reference implementing
  * the same definition (prefix comparison through banded candidates,
  * bucket admission cap, min-id blame), plus band-rule parity with the
  * committed batch index.
  */
class DedupStreamSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val batch1 = Seq(
    DocRow(1L, "s", "alpha beta gamma delta epsilon zeta"),
    DocRow(2L, "s", "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    DocRow(3L, "s", "one two three four five six seven eight"),
    DocRow(4L, "s", "totally different content words here")
  )
  private val batch2 = Seq(
    DocRow(5L, "s", "alpha beta gamma delta epsilon zeta"), // dup of 1 across batches
    DocRow(6L, "s", "one two three four five six seven nine"), // near-dup of 3 (7/9 jaccard — below 90)
    DocRow(7L, "s", "unrelated fresh text with new tokens")
  )

  /** Reference: for each doc in arrival order (batch, then doc_id), its
    * dup blame = min id among PREVIOUSLY ADMITTED docs sharing >= 1 band
    * whose token-set Jaccard passes thetaPct; admission = first
    * maxBucket docs per band.
    */
  private def reference(
      batches: Seq[Seq[DocRow]],
      thetaPct: Int,
      maxBucket: Int
  ): Map[Long, Option[Long]] = {
    val allDocs = batches.flatten
    val bandRows = Dedup
      .state(allDocs.toDF())
      .banded
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bandsOf = bandRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val toks = allDocs.map(d => d.doc_id -> d.text.split(' ').filter(_.nonEmpty).toSet).toMap
    val admitted = scala.collection.mutable.Map.empty[String, Vector[Long]] // band -> doc ids
    val out = scala.collection.mutable.Map.empty[Long, Option[Long]]
    batches.foreach { batch =>
      batch.sortBy(_.doc_id).foreach { d =>
        val ds = toks(d.doc_id)
        val cands = bandsOf(d.doc_id).flatMap(b => admitted.getOrElse(b, Vector.empty))
        val dups = cands.filter { id =>
          val bs = toks(id)
          val inter = (ds & bs).size
          val uni = ds.size + bs.size - inter
          100 * inter >= thetaPct * uni
        }
        out(d.doc_id) = if (dups.isEmpty) None else Some(dups.min)
        bandsOf(d.doc_id).foreach { b =>
          val cur = admitted.getOrElse(b, Vector.empty)
          if (cur.size < maxBucket) admitted(b) = cur :+ d.doc_id
        }
      }
    }
    out.toMap
  }

  test("streaming keep-list matches the reference across micro-batches") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[DocRow]
    val verdicts = DedupStream.nearDupBandStream(
      DedupStream.bandedDocs(ms.toDF()),
      thetaPct = 90,
      maxBucket = 64
    )
    val q = verdicts.toDF().writeStream
      .format("memory")
      .queryName("dedup_stream")
      .outputMode("append")
      .start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val keep = DedupStream
        .keepFromBandVerdicts(spark.table("dedup_stream"))
        .collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
        .toMap
      val expected = reference(Seq(batch1, batch2), thetaPct = 90, maxBucket = 64)
      assert(keep.keySet == expected.keySet)
      expected.foreach { case (id, dup) =>
        assert(keep(id)._1 == dup, s"doc $id: expected blame $dup, got ${keep(id)._1}")
        assert(keep(id)._2 == (if (dup.isEmpty) 1L else 0L), s"doc $id keep flag")
      }
      // the scenario itself: exact dups blamed on 1 within AND across
      // batches; the 7/9-jaccard near-dup stays below the 90 threshold
      assert(keep(2L)._1.contains(1L))
      assert(keep(5L)._1.contains(1L))
      assert(keep(6L)._1.isEmpty)
      assert(keep(7L)._1.isEmpty)
    } finally q.stop()
  }

  test("bucket admission cap bounds state and the reference models the same miss") {
    implicit val sql = spark.sqlContext
    // cap 1: only the first doc per band is admitted, so 2 blames 1
    // but 5 (same bands, arriving later) still blames 1 (admitted
    // first), while a dup of 3 would be missed if 3's bucket were
    // full — exercised by the reference comparison at cap 1
    val ms = MemoryStream[DocRow]
    val verdicts = DedupStream.nearDupBandStream(
      DedupStream.bandedDocs(ms.toDF()),
      thetaPct = 90,
      maxBucket = 1
    )
    val q = verdicts.toDF().writeStream
      .format("memory")
      .queryName("dedup_stream_cap")
      .outputMode("append")
      .start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val keep = DedupStream
        .keepFromBandVerdicts(spark.table("dedup_stream_cap"))
        .collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      val expected = reference(Seq(batch1, batch2), thetaPct = 90, maxBucket = 1)
      expected.foreach { case (id, dup) => assert(keep(id) == dup, s"doc $id") }
    } finally q.stop()
  }

  test("in-batch siblings are ordered numerically: 9 is kept, 10 blames it") {
    implicit val sql = spark.sqlContext
    // "10" < "9" as strings: string-ordered ids would admit 10 first and
    // blame it for 9 — the reverse of the batch keep list's min-id rule
    val txt = "alpha beta gamma delta epsilon zeta"
    val rows = Seq(DocRow(10L, "s", txt), DocRow(9L, "s", txt))
    val ms = MemoryStream[DocRow]
    val q = DedupStream
      .nearDupBandStream(DedupStream.bandedDocs(ms.toDF()))
      .toDF()
      .writeStream
      .format("memory")
      .queryName("dedup_stream_ids")
      .outputMode("append")
      .start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val keep = DedupStream
        .keepFromBandVerdicts(spark.table("dedup_stream_ids"))
        .selectExpr("CAST(doc_id AS BIGINT)", "CAST(dup_of AS BIGINT)", "keep")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2)))
        .toSet
      assert(keep == Set((9L, None, 1L), (10L, Some(9L), 0L)))
      val batchKeep = Dedup.nearDupKeep(Dedup.state(rows.toDF())).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toSet
      assert(keep.map(k => k._1 -> k._3) == batchKeep)
    } finally q.stop()
  }

  test("banded projection bytes match the committed batch band index") {
    val docs = batch1.toDF()
    val streamShape = DedupStream
      .bandedDocs(docs)
      .collect()
      .map(b => (b.doc_id, b.bandKey))
      .toSet
    val batchShape = Dedup
      .state(docs)
      .banded
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(streamShape == batchShape)
  }
}
