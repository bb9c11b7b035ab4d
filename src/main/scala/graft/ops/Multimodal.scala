package graft.ops

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.util.Hex

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted by a
  * batched per-partition stage.
  *
  * The actual media codecs are NOT available in this offline container,
  * so the decode step is a clearly-marked deterministic STUB
  * ([[DecodeStub]]); everything around it — the binary-column schema,
  * the micro-batched mapPartitions signature (the same shape a Pandas-UDF
  * `mapInPandas` stage has in PySpark), partitioning, and the
  * explode-style frame sampling — is real, tested Spark plumbing that a
  * real decoder drops into.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media: Array[Byte], media_type: String)

  final case class MediaMeta(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      checksum: String,
      width: Long,
      height: Long,
      n_frames: Long
  )

  /** STUB decoder — stands in for an image/audio/video codec. Output is
    * a pure function of the payload + id, so tests and oracles are
    * exact. A production build replaces `decodeBatch` with real codec
    * calls; the batched signature is what matters (one call per
    * micro-batch, amortizing decoder/session init — exactly like
    * `mapInPandas` batches).
    */
  object DecodeStub {
    def decodeBatch(rows: Seq[MediaRow]): Seq[MediaMeta] =
      rows.map { r =>
        val checksum = Hex.string(MessageDigest.getInstance("MD5").digest(r.media))
        MediaMeta(
          doc_id = r.doc_id,
          media_type = r.media_type,
          byte_len = r.media.length.toLong,
          checksum = checksum,
          width = 320L + (r.doc_id % 5) * 160L,
          height = 240L + (r.doc_id % 3) * 120L,
          n_frames = r.media.length.toLong / 10L
        )
      }
  }

  /** Build the opaque media table from `documents` (payload = UTF-8 text
    * bytes — the deterministic stand-in for real image bytes).
    */
  def mediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        concat(lit("image/fake-"), (col("doc_id") % 3).cast("string")).as("media_type")
      )
      .as[MediaRow]
  }

  /** Per-type payload-size spectrum: for every media type and log2
    * size bucket, the payload count and exact min/max byte length —
    * the storage-planning table a multimodal pipeline reads before
    * sizing shards and decode batches (a type whose tail bucket holds
    * 4 GB payloads needs its own batch size, not the corpus default).
    * Output: (media_type, bucket, lo, n, min_bytes, max_bytes).
    *
    * Shape at scale: one zero-join scan (byte length per row inside
    * codegen) and one partial-aggregated exchange bounded by
    * types × 64 buckets; payload BYTES never move — only their
    * lengths.
    */
  def sizeSpectrum(media: Dataset[MediaRow]): DataFrame =
    media.toDF()
      .select(
        col("media_type"),
        length(col("media")).cast("long").as("bytes")
      )
      .groupBy(
        col("media_type"),
        expr("CASE WHEN bytes = 0 THEN -1 ELSE CAST(length(bin(bytes)) - 1 AS BIGINT) END").as("bucket")
      )
      .agg(
        count(lit(1)).as("n"),
        min(col("bytes")).as("min_bytes"),
        max(col("bytes")).as("max_bytes")
      )
      .select(
        col("media_type"),
        col("bucket"),
        expr("CASE WHEN bucket < 0 THEN 0L ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) END").as("lo"),
        col("n"),
        col("min_bytes"),
        col("max_bytes")
      )

  /** The decode stage: micro-batched mapPartitions over binary payloads. */
  def decode(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(b => DecodeStub.decodeBatch(b)))
  }

  /** Frame sampling plumbing: one row per sampled frame index
    * (every `stride`-th frame), with deterministic fake timestamps.
    */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Long = 7L): DataFrame =
    meta
      .toDF()
      .where(col("n_frames") > 0)
      .select(
        col("doc_id"),
        explode(expr(s"sequence(0L, n_frames - 1, ${stride}L)")).as("frame_idx")
      )
      .withColumn("ts_milli", col("frame_idx") * lit(40L)) // 25 fps stand-in

  /** Resize plumbing: target box fit preserving aspect ratio in exact
    * integer math (the real resampler is a codec call inside the same
    * batched stage as [[decode]]; what is tested here is the metadata
    * contract every resizer must satisfy — fit-within-box, never
    * upscale, aspect preserved under integer floor).
    */
  def resize(meta: Dataset[MediaMeta], maxW: Long = 640L, maxH: Long = 480L): DataFrame =
    meta
      .toDF()
      .withColumn(
        "scale_milli",
        expr(s"least(1000L, (${maxW}L * 1000L) div width, (${maxH}L * 1000L) div height)")
      )
      .select(
        col("doc_id"),
        col("width"),
        col("height"),
        expr("(width * scale_milli) div 1000L").as("out_w"),
        expr("(height * scale_milli) div 1000L").as("out_h")
      )

  /** Feature-extraction plumbing: a fixed-length integer feature vector
    * per payload — here a 16-bin byte histogram (real and exact: it IS a
    * feature of the payload, no codec needed), emitted long-format
    * (doc_id, bin, n) so downstream similarity ops can consume it like
    * any embedding column. Batched per partition like [[decode]].
    */
  def extractFeatures(media: Dataset[MediaRow], bins: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .mapPartitions { it =>
        it.map { r =>
          val hist = new Array[Long](bins)
          r.media.foreach { b => hist(((b & 0xff) * bins) / 256) += 1L }
          (r.doc_id, hist.toSeq)
        }
      }
      .toDF("doc_id", "hist")
      .select(col("doc_id"), posexplode(col("hist")).as(Seq("bin", "n")))
      .select(col("doc_id"), col("bin").cast("long").as("bin"), col("n"))
  }

  /** Perceptual-hash-style payload fingerprint (the aHash rule on the
    * byte-histogram feature vector): bit j of the `bins`-bit hash is set
    * iff bin j's mass exceeds the per-payload mean bin mass — the
    * threshold-against-mean construction average-hash uses on pixel
    * blocks, applied to the codec-free byte histogram. Near-identical
    * payloads land within a small hamming distance, so the SimHash
    * pigeonhole pair machinery applies to media exactly as to text.
    * Integer-exact: bit j = (bins * hist[j] > total). Output:
    * (doc_id, phash).
    *
    * Shape at scale: one exchange keyed by doc_id, shared by the
    * per-payload total window and the bit-sum aggregate that follows
    * on the same partitioning.
    */
  /** Media near-duplicate pairs: every payload pair whose perceptual
    * hashes differ in at most `maxHamming` of the 16 bits — the
    * image/audio analogue of SimHash text near-dup, and the dedup pass
    * a multimodal training pipeline runs after [[perceptualHash]].
    * Output: (a, b, hamming) with a < b.
    *
    * Shape at scale: the SAME pigeonhole band argument as text SimHash —
    * split 16 bits into nBands ≥ maxHamming + 1 bands; any pair within
    * the budget agrees exactly on ≥ 1 band (lossless), so candidates
    * come from an equi-join on (band, band value), never an all-pairs
    * bit_count theta-join. CAVEAT: pair output is inherently quadratic
    * in each hash-collision class — on payloads whose byte histograms
    * barely differ (e.g. same-generator text bytes) the 16-bit aHash
    * collapses to a handful of values and this emits ~all pairs. Run it
    * on corpora where the hash discriminates (real image/audio bytes);
    * for a bounded-output verdict on ANY corpus use [[phashDedup]],
    * which is what the driver registry exercises.
    */
  def nearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 2, bins: Int = 16): DataFrame = {
    require(maxHamming < bins, s"maxHamming must be < $bins")
    val nBands = (1 to bins).filter(bins % _ == 0).find(_ >= maxHamming + 1).get
    val bandBits = bins / nBands
    val mask = (1 << bandBits) - 1
    val banded = perceptualHash(media, bins).select(
      col("doc_id"),
      col("phash"),
      posexplode(
        array((0 until nBands).map(b => expr(s"(phash >> ${b * bandBits}) & $mask")): _*)
      ).as(Seq("band", "bval"))
    )
    val l = banded.select(col("band"), col("bval"), col("doc_id").as("a"), col("phash").as("pa"))
    val r = banded.select(col("band"), col("bval"), col("doc_id").as("b"), col("phash").as("pb"))
    l.join(r, Seq("band", "bval"))
      .where(col("a") < col("b"))
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .distinct()
  }

  /** Exact perceptual-hash dedup verdict: payloads indistinguishable
    * under the 16-bin aHash collapse to the group's min doc_id — the
    * coarse O(n) pre-filter a multimodal pipeline runs BEFORE any
    * pairwise verification (and the safe registry form of
    * [[nearDupPairs]]: output is one row per payload no matter how
    * degenerate the hash distribution gets). Output:
    * (doc_id, dup_of, keep).
    *
    * Shape at scale: the phash table is staged once (group aggregate +
    * join probe both read the checkpoint); the representative table has
    * one row per distinct hash and joins back on the hash key — a hot
    * hash value is ONE group row, never a pair explosion.
    */
  def phashDedup(media: Dataset[MediaRow], bins: Int = 16): DataFrame = {
    val ph = graft.util.Materialize.stage(perceptualHash(media, bins))
    val rep = ph.groupBy("phash").agg(min(col("doc_id")).as("dup_of"))
    ph.join(rep, Seq("phash"))
      .select(
        col("doc_id"),
        col("dup_of"),
        when(col("doc_id") === col("dup_of"), 1L).otherwise(0L).as("keep")
      )
  }

  def perceptualHash(media: Dataset[MediaRow], bins: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    extractFeatures(media, bins)
      .withColumn("total", sum("n").over(w))
      .groupBy("doc_id")
      .agg(
        sum(
          when(
            lit(bins) * col("n") > col("total"),
            expr("CAST(1 AS BIGINT) << CAST(bin AS INT)")
          ).otherwise(0L)
        ).as("phash")
      )
  }
}
