package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed multimodal column handling: media payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode/feature-extract
  * runs partition-batched via `mapPartitions` (the Scala analog of
  * arrow-batched Python UDFs — one iterator per partition, no per-row
  * driver involvement, scales with executor count).
  *
  * The actual media decode is a STUB (`fakeDecode`): the environment has
  * no image/audio codecs, so the decode step is a deterministic fake over
  * the raw bytes. Everything around it — binary packing, schema,
  * partitioning, batch iteration, feature schema — is real and tested.
  */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int, nFrames: Int)
  final case class MediaRecord(doc_id: Long, content: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      doc_id: Long,
      nBytes: Long,
      byteHistogram: Array[Long], // 16 buckets over byte values
      embedding: Array[Float]     // 8-dim fake content embedding
  )

  /** Pack text documents as a media table: content bytes + typed metadata
    * derived deterministically (stand-in for real image/audio ingest). */
  def packMedia(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    documents
      .select(
        col("doc_id"),
        encode(col("text"), "utf-8").as("content"),
        struct(
          lit("fake/raw").as("format"),
          (length(encode(col("text"), "utf-8")) % 640).cast("int").as("width"),
          ((length(encode(col("text"), "utf-8")) * 7) % 480).cast("int").as("height"),
          (length(encode(col("text"), "utf-8")) % 16 + 1).cast("int").as("nFrames")
        ).as("meta")
      )
      .as[MediaRecord]
  }

  /** STUB decode: a real implementation would hand `bytes` to a codec;
    * here we produce a deterministic fake so the distributed plumbing is
    * testable without media libraries. The laws live in
    * [[graft.functions.MediaFeatureUtil]] since round 15, where the
    * codegen expressions `byte_hist16` / `fake_embed8` evaluate the
    * SAME code [[extractFeatures]] plans — this delegate remains as the
    * spec's row-at-a-time replay handle. */
  private[operators] def fakeDecode(bytes: Array[Byte]): (Array[Long], Array[Float]) =
    (graft.functions.MediaFeatureUtil.hist16(bytes),
      graft.functions.MediaFeatureUtil.embed8(bytes))

  /** Feature extraction as a plain projection: `byte_hist16` /
    * `fake_embed8` are codegen scalar expressions
    * ([[graft.functions.MediaFeatureUtil]]'s laws — the exact
    * arithmetic the pre-round-15 `mapPartitions` pass ran), so the
    * operator stays inside whole-stage codegen, column-prunes, and
    * composes with filters/joins with no object-serialization wall; at
    * 100 TB it parallelizes over input splits with zero shuffle.
    * Oracle-checked end to end (x192). */
  def extractFeatures(media: Dataset[MediaRecord])(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.toDF().select(
      col("doc_id"),
      length(col("content")).cast("long").as("nBytes"),
      expr("byte_hist16(content)").as("byteHistogram"),
      expr("fake_embed8(content)").as("embedding")
    ).as[MediaFeatures]
  }

  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: treat the payload as `meta.nFrames` fixed-size frames
    * and emit every `everyN`-th one — the video-frame-sampling shape
    * (chunked slices of an opaque byte payload, exploded to one row per
    * kept frame). A real codec would replace the byte-slicing STUB.
    *
    * Pure Catalyst since round 15 (was `mapPartitions`): `explode`
    * the kept frame INDICES (`sequence(0, n−1, everyN)` — ints, not
    * byte slices), THEN take each frame as one O(frame) binary
    * `substr` at `frame_idx·size` (1-based, auto-truncating at payload
    * end — identical to the old slice law including the empty tail
    * frames a short payload produces). Index-explode-then-slice
    * matters: whole-stage codegen fuses the Generate with the
    * following projection, so the payload is sliced once per OUTPUT
    * row and never materialized as an all-frames array — the
    * slice-into-a-struct-array form measured 2.4× slower at sf1
    * (BENCH_NEW_r15 `multimodal_promotions`), while this form beats
    * the old `mapPartitions` 1.5× and still composes with pushed
    * filters and column pruning instead of hiding behind an object
    * wall. Oracle-checked end to end (x191). */
  def frameSample(media: Dataset[MediaRecord], everyN: Int)(implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val n = greatest(col("meta.nFrames"), lit(1))
    val size = greatest(floor(length(col("content")) / n).cast("int"), lit(1))
    media.toDF()
      .select(col("doc_id"), col("content"), n.as("nf"), size.as("sz"))
      .select(col("doc_id"), col("content"), col("sz"),
        explode(sequence(lit(0), col("nf") - 1, lit(everyN))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        col("content").substr(col("frame_idx") * col("sz") + 1, col("sz"))
          .as("frame"))
      .as[Frame]
  }

  /** 64-bit perceptual hash per media row
    * ([[graft.functions.BlockHashUtil]]'s block-mean law over the raw
    * payload bytes — the decode-free stand-in; a real deployment hashes
    * decoded luma with the identical downstream plan). One codegen'd
    * O(bytes) expression inside the scan projection: no shuffle, no
    * intermediate array, 8 output bytes per row. */
  def perceptualHashes(media: DataFrame, idCol: String, binCol: String): DataFrame =
    media.select(col(idCol), expr(s"block_hash64($binCol)").as("phash"))

  /** Real-decode hook: when a decoder exists upstream (a `mapInPandas`
    * / codec stage producing a grayscale plane), pass its output as a
    * pre-decoded `lumaCol` (binary) and the block-mean hash runs over
    * the LUMA bytes — the actual perceptual-hash definition — while
    * rows the decoder skipped (NULL luma) fall back to the raw payload,
    * so a partially-decoded corpus still hashes every row. Everything
    * downstream ([[perceptualNearDups]] banding, the streaming gate) is
    * byte-identical: same expression, same 8-byte signature, same
    * plan. */
  def perceptualHashes(media: DataFrame, idCol: String, binCol: String,
      lumaCol: String): DataFrame = {
    media.select(col(idCol),
      expr(s"block_hash64(coalesce($lumaCol, $binCol))").as("phash"))
  }

  /** Perceptual near-dup pairs within `maxHamming` bits of the 64-bit
    * [[perceptualHashes]] signature — image/video near-dup without a
    * codec, the binary-column twin of `Dedup.simhashHammingPairs`.
    *
    * Blocking: the signature splits into 8 byte-bands; by pigeonhole a
    * pair within Hamming ≤ 7 agrees on at least one whole band, so
    * candidate generation is an equi-join on (band, byte) with recall
    * 1.0 for `maxHamming <= 7` — never an all-pairs comparison, and the
    * guard refuses thresholds the blocking can't honor. Candidates are
    * verified exactly with `bit_count(xor)`. Like the SimHash form, the
    * band join runs on DISTINCT signatures (identical payloads collapse
    * to one node; each unordered doc pair emerges exactly once from its
    * ordered signature pair), so re-encoded template assets compress the
    * join instead of exploding it. Band extraction is an arithmetic
    * shift + 0xFF mask — sign-safe under two's complement in both
    * engines, so bit 0 (the sign bit) needs no special case. */
  def perceptualNearDups(media: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 7): DataFrame =
    perceptualNearDupsFromSigs(perceptualHashes(media, idCol, binCol),
      idCol, maxHamming)

  /** [[perceptualNearDups]] over the real-decode hook: signatures come
    * from [[perceptualHashes]]' luma overload, the pair plan is the
    * same code. */
  def perceptualNearDups(media: DataFrame, idCol: String, binCol: String,
      lumaCol: String, maxHamming: Int): DataFrame =
    perceptualNearDupsFromSigs(perceptualHashes(media, idCol, binCol, lumaCol),
      idCol, maxHamming)

  private def perceptualNearDupsFromSigs(sigs: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8-band blocking guarantees recall only for maxHamming in [0,7], got $maxHamming")
    val distinctSigs = sigs.select(col("phash").as("siga")).distinct()
    val bandBytes: Int => Column =
      b => shiftright(col("siga"), 8 * b).bitwiseAND(255)
    val keyed = distinctSigs.select(col("siga"),
      posexplode(array((0 until 8).map(bandBytes): _*)).as(Seq("band", "bb")))
    val sigPairs = keyed
      .join(keyed.select(col("siga").as("sigb"), col("band"), col("bb")),
        Seq("band", "bb"))
      .filter(col("siga") <= col("sigb")) // = keeps same-signature groups
      .select(col("siga"), col("sigb"),
        expr("CAST(bit_count(siga ^ sigb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // signature-pair-sized, not doc-pair-sized
    val da = sigs.select(col(idCol).as("doc_a"), col("phash").as("siga"))
    val db = sigs.select(col(idCol).as("doc_b"), col("phash").as("sigb"))
    sigPairs.join(da, "siga").join(db, "sigb")
      .filter(col("siga") =!= col("sigb") || col("doc_a") < col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
  }

  /** Resize STUB: deterministic byte subsampling to a target "resolution"
    * (every `step`-th byte so the output has ~targetBytes = targetW ×
    * targetH / 256 bytes), with metadata updated to the target
    * dimensions — the image-resize shape without a codec.
    *
    * Pure Catalyst since round 14 (was `mapPartitions`): the kept
    * indices are `sequence(0, m-1)`; each kept byte is an O(1)
    * one-byte binary `substr` at `i·step`, hex-encoded (O(1) on one
    * byte — encoding inside the lambda keeps every per-element step
    * constant-time, where hex-ing the whole payload outside it would
    * be re-evaluated per element once CollapseProject inlines the
    * alias into the lambda); `array_join` reassembles the hex pairs
    * linearly and `unhex` restores bytes. Everything is codegen'd
    * builtins inside the scan projection — column pruning and
    * whole-stage codegen apply, and the operator composes with
    * filters/joins without an analysis barrier, which the old
    * `mapPartitions` (an opaque `SerializeFromObject` wall) blocked.
    *
    * `step == 1` (payload already at/below the target size — e.g. a
    * large target like 4096×4096 against ordinary payloads) keeps
    * EVERY byte, so it short-circuits to the payload itself:
    * byte-identical output with none of the hex path's transient
    * one-String-per-byte amplification. The hex path therefore only
    * ever runs with step ≥ 2, bounding its per-row transient at
    * ~2·targetBytes element strings regardless of payload size. */
  def resize(media: Dataset[MediaRecord], targetW: Int, targetH: Int)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    val targetBytes = math.max(targetW * targetH / 256, 1)
    val len = length(col("content")) // byte length of the binary payload
    val step = greatest(floor(len / lit(targetBytes)).cast("int"), lit(1))
    // kept indices 0, step, 2·step, … < len  →  m = ⌊(len−1)/step⌋ + 1
    val m = (floor((len - 1) / step) + 1).cast("int")
    val resized = when(len === 0 || step === 1, col("content")).otherwise(
      unhex(array_join(
        transform(sequence(lit(0), m - 1), i =>
          hex(col("content").substr(i * step + 1, lit(1)))),
        "")))
    media.toDF().select(
      col("doc_id"),
      resized.as("content"),
      struct(
        col("meta.format").as("format"),
        lit(targetW).as("width"),
        lit(targetH).as("height"),
        col("meta.nFrames").as("nFrames")).as("meta")
    ).as[MediaRecord]
  }
}
