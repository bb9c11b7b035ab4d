package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.ops.Dedup

/** Streaming face of the incremental delta-crawl dedup
  * ([[graft.ops.Dedup.incrementalKeep]]): documents arrive as an
  * unbounded stream and each micro-batch is deduplicated against the
  * committed base corpus through its band-index + token-set snapshot
  * artifacts — the live-ingest version of the recrawl story.
  *
  * Shape: foreachBatch applying the batch operator per micro-batch. The
  * verdict for a delta document is a PURE function of (that document,
  * the static base artifacts) — delta docs never interact — so any
  * micro-batch split of the same delta set produces exactly the batch
  * operator's verdict rows (sbt parity test), and a replayed
  * micro-batch reproduces its rows verbatim: an idempotent upsert by
  * doc_id at the sink gives exactly-once content. No streaming state
  * store is needed at all — the "state" is the committed base snapshot.
  */
object DedupStream {

  /** Start the verdict stream: each micro-batch's
    * (doc_id, dup_of, keep) frame, deduplicated against the committed
    * `base` state, is handed to `onBatch`.
    */
  def keepVerdicts(
      delta: DataFrame,
      base: Dedup.DedupState,
      onBatch: (DataFrame, Long) => Unit,
      thetaPct: Int = 90,
      maxBucket: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    delta.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        onBatch(Dedup.incrementalKeep(base, batch, thetaPct, maxBucket), id)
      }
      .start()

  // ------------------------------------------------------------------
  // Stateful continuous near-dup detection — the second streaming face:
  // no committed base exists yet (a cold-start crawl), so each document
  // is checked against everything seen BEFORE it through per-band
  // flatMapGroupsWithState state holding the first `maxBucket` admitted
  // docs per band (the batch path's hot-bucket skew guard, reused as
  // the state bound). Rows inside a micro-batch group are processed in
  // numeric doc_id order, so near-dup siblings arriving together always
  // blame the smaller id — the batch family's min-blame convention. For an
  // unbounded crawl, compose with an event-time TTL the way
  // newTriplesExpiring bounds the triple distinct; cross-horizon
  // re-admission then relies on the downstream store's idempotent
  // MERGE, the same documented contract.
  // ------------------------------------------------------------------

  /** One banded sighting of a document: its band key plus the
    * sorted-distinct token set the verifier needs.
    */
  final case class BandedDoc(doc_id: Long, bandKey: String, toks: Seq[String])

  /** Stage-2 output: this document, in this band, is a verified
    * near-duplicate of `dup_of` (None = no match in this band).
    */
  final case class BandVerdict(doc_id: Long, bandKey: String, dup_of: Option[Long])

  /** Row-local banded projection (doc_id, bandKey, toks) — works on a
    * batch OR streaming frame (no shuffle, no state). Band keys and
    * signatures are byte-identical to `Dedup.state(docs).banded`.
    */
  def bandedDocs(docs: DataFrame): Dataset[BandedDoc] = {
    import docs.sparkSession.implicits._
    // documents.parquet keys are longs; ids stay numeric so in-batch
    // order and blame follow the batch family's numeric min-id rule
    Dedup
      .bandedWithToks(docs)
      .withColumn("doc_id", col("doc_id").cast("long"))
      .as[BandedDoc]
  }

  /** Per-band stateful near-dup check; see object doc. Emits one
    * verdict per (document, band) sighting.
    */
  def nearDupBandStream(
      banded: Dataset[BandedDoc],
      thetaPct: Int = 90,
      maxBucket: Int = 64
  ): Dataset[BandVerdict] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.bandKey)
      .flatMapGroupsWithState[List[(Long, Seq[String])], BandVerdict](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { case (band, rows, state: GroupState[List[(Long, Seq[String])]]) =>
        var kept = if (state.exists) state.get else Nil
        val out = List.newBuilder[BandVerdict]
        // doc_id order + per-doc dedup: deterministic within-batch
        // processing regardless of shuffle iterator order
        val docs = rows.toSeq.groupBy(_.doc_id).toSeq.sortBy(_._1).map(_._2.head)
        docs.foreach { d =>
          val ds = d.toks.toSet
          var dup: Option[Long] = None
          kept.foreach { case (id, toks) =>
            if (dup.forall(_ > id)) {
              val bs = toks.toSet
              val inter = (ds & bs).size
              val uni = ds.size + bs.size - inter
              // the batch family's integer verification rule
              if (100 * inter >= thetaPct * uni) dup = Some(dup.fold(id)(math.min(_, id)))
            }
          }
          out += BandVerdict(d.doc_id, band, dup)
          if (kept.size < maxBucket) kept = kept :+ (d.doc_id -> d.toks)
        }
        state.update(kept)
        out.result().iterator
      }
  }

  /** Fold per-band verdicts to the per-document keep decision —
    * (doc_id, dup_of, keep) with the batch keep-list's min-blame
    * convention. Stateless; on a stream this is the terminal aggregate
    * (complete/update mode), in tests it runs over the collected
    * verdict table.
    */
  def keepFromBandVerdicts(bandVerdicts: DataFrame): DataFrame =
    bandVerdicts
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
      .select(
        col("doc_id"),
        col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep")
      )
}
