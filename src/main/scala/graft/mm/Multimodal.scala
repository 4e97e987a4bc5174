package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata, and per-batch decode/feature
  * stages run as partition-local transforms.
  *
  * The Spark-side mechanics here are real and tested — schema, batch
  * shape, partition-local iteration, feature vector output — while the
  * actual codec call is a clearly-marked deterministic STUB (`fakeDecode`):
  * this container has no image/audio libraries, and at deploy time the
  * stub body is the only thing that changes (swap in JavaCV/FFmpeg/etc.),
  * not the pipeline around it.
  *
  * Scale shape: mapPartitions keeps decode zero-shuffle (each worker
  * decodes its own parquet split); heavy codecs amortize any per-batch
  * init over the partition, exactly like a Pandas-UDF `mapInPandas` batch
  * would on the Python side.
  */
object Multimodal {

  /** Typed media row: payload + metadata columns a lakehouse table would
    * carry for binary assets.
    */
  case class MediaRow(asset_id: Long, kind: String, width: Int, height: Int,
                      payload: Array[Byte])

  case class MediaFeatures(asset_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, features: Array[Float])

  /** Build a deterministic synthetic media table from the documents corpus
    * (payload = utf-8 of the text; stands in for image bytes).
    */
  def syntheticAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("asset_id"),
        concat(lit("img/"), (col("doc_id") % 3).cast("string")).as("kind"),
        (col("n_chars") % 640 + 32).cast("int").as("width"),
        (col("n_chars") % 480 + 32).cast("int").as("height"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** STUB decode: a real deployment replaces this body with an actual
    * codec (e.g. JPEG decode + resize + embedding model). Deterministic
    * fake: rolling checksum + an 8-dim byte-histogram feature, so specs
    * can assert exact values and the distributed plumbing is exercised
    * end-to-end.
    */
  private def fakeDecode(payload: Array[Byte]): (Long, Array[Float]) = {
    var crc = 0L
    val hist = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      crc = crc * 31 + (payload(i) & 0xff)
      hist((payload(i) & 0xff) % 8) += 1f
      i += 1
    }
    (crc, hist)
  }

  /** Partition-local decode + featurize (the mapInPandas analogue). */
  def decodeFeatures(assets: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { rows =>
      // per-partition init would go here (codec contexts, model weights)
      rows.map { r =>
        val (crc, hist) = fakeDecode(r.payload)
        MediaFeatures(r.asset_id, r.kind, r.payload.length.toLong, crc, hist)
      }
    }
  }

  /** Per-kind asset metadata rollup — the "dataset card" for a binary
    * assets table: counts, byte volume, mean dimensions. Operates on the
    * opaque payload column (byte length only — no decode), so it is one
    * map-side-partial groupBy over the lakehouse table; byte sums are
    * SF-scaled → DECIMAL accumulation per the graft.Quant overflow rule.
    */
  def assetStats(assets: Dataset[MediaRow]): DataFrame =
    assets.toDF().groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(length(col("payload")).cast("decimal(38,0)")).cast("long").as("sum_bytes"),
        graft.Quant.mean6(sum(col("width").cast("long") * 1000000L), count(lit(1)))
          .as("avg_width"),
        graft.Quant.mean6(sum(col("height").cast("long") * 1000000L), count(lit(1)))
          .as("avg_height"),
        max(length(col("payload"))).cast("long").as("max_bytes"))

  /** Exact asset dedup — the payload-hash verdict for binary columns:
    * md5 over the opaque bytes, first (minimum) asset_id per fingerprint
    * survives. Catches verbatim re-uploads — the common lakehouse-ingest
    * case; a recompressed image hashes differently (that is the
    * perceptual-hash extension point, which would slot in as another
    * fingerprint column from the decode stage). The survivor and verdict
    * are text Dedup.exact's (TextFunctions.keepId/isDup) on asset_id: one
    * shuffle on the fingerprint, dup-cluster-sized groups, no decode.
    */
  def dedupAssets(assets: Dataset[MediaRow]): DataFrame = {
    assets.toDF()
      .select(col("asset_id"), col("kind"), md5(col("payload")).as("fp"))
      .withColumn("keep_id", TextFunctions.keepId(col("asset_id")))
      .select(col("asset_id"), col("kind"), col("fp"),
        TextFunctions.isDup(col("keep_id"), col("asset_id")).as("is_dup"), col("keep_id"))
  }

  /** Perceptual near-dup pairs for binary assets — the extension point
    * dedupAssets names: a recompressed/retouched asset hashes differently
    * byte-wise but lands within a few bits perceptually. Pipeline: decode
    * (stub: utf-8 → code points; a real deployment swaps in pixels/DCT),
    * a 64-bit signature = md5-seeded random projection of the payload's
    * 6-gram histogram, sign-quantized (graft.plans.PhashSig — one
    * codegen'd pass, exact integer arithmetic the oracle replays; see
    * TextHashes.phash for why the feature is 6-gram: the narrower
    * round-≤11 bigram histogram saturated same-vocabulary corpora,
    * 12.5B candidate pairs at 100× vs 60.3M now), then the SAME
    * pigeonhole Hamming join as text SimHash (Dedup.hammingPairs):
    * equality-join on signature chunks, never all-pairs, exact
    * bit_count(xor) verification. Featureless payloads (< 6 code points)
    * are excluded — their null hash would otherwise cluster unrelated
    * near-empty assets.
    */
  def phashPairs(assets: Dataset[MediaRow], maxHamming: Int = 3): DataFrame = {
    val signed = assets.toDF()
      .select(col("asset_id").as("doc_id"),
        graft.plans.TextHashes.phashSig(col("payload").cast("string")).as("sig"))
      .filter(col("sig").isNotNull)
    graft.text.Dedup.hammingPairs(signed, maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Perceptual-pair calibration audit — dedup_simhashAudit's multimodal
    * sibling: every phash pair re-scored with the exact byte-identity
    * verdict (md5 fingerprint equality). byte_identical = true means the
    * perceptual match is really an exact dup the cheap fingerprint path
    * would have caught; false is the genuine near-dup signal (recompressed
    * / retouched asset) only the perceptual hash finds — the split that
    * decides whether a fleet needs the decode-side dedup at all. Pair
    * graph cost unchanged (pigeonhole join); the re-score is two keyed
    * joins against the narrow fingerprint projection.
    */
  def phashAudit(assets: Dataset[MediaRow], maxHamming: Int = 3): DataFrame = {
    // materialized once: fp attaches to BOTH pair endpoints, and the md5
    // over the full payload would otherwise run twice (once per join side)
    val fp = assets.toDF().select(col("asset_id"), md5(col("payload")).as("fp"))
      .localCheckpoint()
    phashPairs(assets, maxHamming)
      .join(fp.select(col("asset_id").as("id_a"), col("fp").as("fa")), Seq("id_a"))
      .join(fp.select(col("asset_id").as("id_b"), col("fp").as("fb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        (col("fa") === col("fb")).as("byte_identical"))
  }

  /** Asset survivor selection — the mask an asset dedup ships: per
    * perceptual near-dup cluster the LARGEST payload survives (ties →
    * lowest asset_id), every asset emitted with its cluster label and
    * kept flag. The SAME shared keepBest/clusters machinery as text and
    * embedding dedup (Dedup.keepBest ranking by payload bytes), over the
    * pigeonhole phash pair graph — the third modality on one operator.
    */
  def keepBestAssets(assets: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    graft.text.Dedup.keepBest(
        assets.toDF().select(col("asset_id").as("doc_id"),
          length(col("payload")).cast("long").as("n_chars")),
        phashPairs(assets, maxHamming).select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("asset_id"), col("cluster_id"), col("kept"))

  /** Frame-sampling shape for video-like assets: explode n evenly-spaced
    * byte offsets per asset (stand-in for frame indices), keeping the
    * plumbing for a one-to-many decode stage honest.
    */
  def sampleFrames(assets: Dataset[MediaRow], n: Int): DataFrame =
    assets.toDF()
      .withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_offset",
        (col("frame_idx") * greatest(length(col("payload")), lit(1))) / n)
      .select(col("asset_id"), col("kind"), col("frame_idx"),
        col("frame_offset").cast("long").as("frame_offset"))

  /** Fixed-window chunk manifest for binary assets — the storage-dedup /
    * content-addressing primitive (every chunk gets offset, size, and a
    * content fingerprint; equal fingerprints across assets are the
    * dedupable bytes). The fingerprint is md5 of the HEX ENCODING of the
    * byte slice, not of the raw bytes: hex is byte-exact, ASCII, and
    * sliceable as a plain string on BOTH engines (DuckDB 1.x has no BLOB
    * substring), so the manifest is oracle-replayable bit for bit; as a
    * content hash it is exactly as collision-resistant as hashing the
    * raw bytes (hex is injective). Empty payloads emit no chunks — also
    * load-bearing: a zero chunk count would make the index sequence
    * descend, which Spark treats as a reversed range, not empty.
    *
    * Scale shape: one narrow codegen'd pass — hex + per-asset explode of
    * ⌈bytes/chunk⌉ indices; no shuffle at all (the manifest inherits the
    * scan's partitioning).
    */
  def chunkManifest(assets: Dataset[MediaRow], chunkBytes: Int): DataFrame = {
    require(chunkBytes > 0, s"chunkBytes must be positive, got $chunkBytes")
    val c = chunkBytes.toLong
    assets.toDF()
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .filter(col("n_bytes") > 0)
      .withColumn("hexp", hex(col("payload")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr(s"(n_bytes + ${c - 1}) DIV $c - 1"))))
      .withColumn("chunk_offset", col("chunk_idx") * c)
      .withColumn("chunk_bytes", least(lit(c), col("n_bytes") - col("chunk_offset")))
      .select(col("asset_id"), col("kind"), col("chunk_idx"),
        col("chunk_offset"), col("chunk_bytes"),
        md5(expr("substring(hexp, CAST(chunk_offset * 2 + 1 AS INT), CAST(chunk_bytes * 2 AS INT))"))
          .as("chunk_md5"))
  }

  /** Chunk-level dedup savings per kind — the "what would
    * content-addressed storage save" report over chunkManifest: total
    * bytes, bytes after keeping ONE copy of every distinct chunk
    * (within the kind), and the duplicate-copy savings. Two exact-count
    * aggregations over the manifest: distinct chunks first (min-size
    * per (kind, md5) — identical fingerprints have identical sizes, the
    * min is for determinism), then per kind.
    */
  def chunkDedupStats(assets: Dataset[MediaRow], chunkBytes: Int): DataFrame = {
    val manifest = chunkManifest(assets, chunkBytes)
    val distinctChunks = manifest
      .groupBy(col("kind"), col("chunk_md5"))
      .agg(min(col("chunk_bytes")).as("c_bytes"), count(lit(1)).as("copies"))
    distinctChunks
      .groupBy(col("kind"))
      .agg(
        sum(col("c_bytes") * col("copies")).as("total_bytes"),
        sum(col("c_bytes")).as("unique_bytes"),
        sum(col("c_bytes") * (col("copies") - 1)).as("dup_bytes"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("copies")).as("n_chunks"))
  }

  /** hammingLoad over the perceptual signatures mm_phash serves from —
    * the table that would have priced the round-11 56.6M-pair stub-phash
    * saturation before the pair join paid it (see Dedup.hammingLoad).
    */
  def phashLoad(assets: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    graft.text.Dedup.hammingLoad(
      assets.toDF().select(col("asset_id").as("doc_id"),
          graft.plans.TextHashes.phashSig(col("payload").cast("string")).as("sig"))
        .filter(col("sig").isNotNull),
      maxHamming)

  /** Byte-budget shard manifest — the WebDataset-style builder that turns
    * a binary-asset table into training shards: per kind, assets line up
    * in the deterministic md5(asset_id) order (stable across runs,
    * engines, and corpus growth — the same order contract as every
    * sampler here) and the concatenated byte stream is cut into shards
    * of `shardBytes`. Each asset reports the shard its FIRST byte lands
    * in and its offset there (streaming cut: shard boundaries are exact
    * capacity multiples of the concatenated stream, an asset crossing
    * one continues into the next shard — the contiguous-packing contract
    * corpus_pack ships for tokens, here for bytes; a loader wanting
    * atomic assets reads `shard_offset + n_bytes` to know the tail spans
    * into `shard_id + 1`).
    *
    * Scale shape: pure arithmetic on the shared two-phase distributed
    * prefix sum (range-exchange on (kind, rank_key), per-slice byte
    * totals offset at metadata scale) — no per-shard state, no driver
    * loop, no task ever sorts a whole kind.
    */
  def byteShard(assets: Dataset[MediaRow], shardBytes: Long): DataFrame = {
    require(shardBytes > 0, s"shardBytes must be positive, got $shardBytes")
    val sized = assets.toDF().select(
      col("asset_id").as("doc_id"), col("kind").as("stratum"),
      length(col("payload")).cast("long").as("n_tokens"),
      graft.text.TextFunctions.rankKey(col("asset_id")).as("rank_key"))
    graft.text.TextFunctions.packed(sized, shardBytes)
      .select(col("doc_id").as("asset_id"), col("stratum").as("kind"),
        col("n_tokens").as("n_bytes"), col("pack_id").as("shard_id"),
        col("pack_offset").as("shard_offset"))
  }
}
