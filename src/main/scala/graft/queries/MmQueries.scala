package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common._
import graft.text.Dedup

/** The multimodal family: asset metadata, frame sampling, chunk
  * manifests, perceptual hashing and near-duplicate dedup over the
  * synthetic binary assets built from the `documents` table.
  */
private[graft] object MmQueries {
  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: multimodal (binary columns) --------------------
    // the payload is an opaque BINARY column (synthesized deterministically
    // from the corpus — this container has no codecs); both queries
    // exercise the real binary-column path: byte lengths, typed metadata,
    // one-to-many frame explode
    QuerySpec("mm_stats", (s, dir) =>
      graft.mm.Multimodal.assetStats(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")))
        .orderBy(col("kind")),
      // mirrors Multimodal.syntheticAssets + assetStats: payload bytes =
      // utf-8 of text (octet_length(BLOB) ≡ Spark length(binary))
      Some(s"""WITH a AS (SELECT concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
         |                  n_chars % 640 + 32 AS width, n_chars % 480 + 32 AS height,
         |                  octet_length(CAST(text AS BLOB)) AS nb
         |           FROM documents)
         |SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
         |       CAST(sum(nb) AS BIGINT) AS sum_bytes,
         |       ${MEAN6("sum(width * 1000000)", "count(*)")} AS avg_width,
         |       ${MEAN6("sum(height * 1000000)", "count(*)")} AS avg_height,
         |       CAST(max(nb) AS BIGINT) AS max_bytes
         |FROM a GROUP BY kind ORDER BY kind""".stripMargin)),

    QuerySpec("mm_frames", (s, dir) =>
      graft.mm.Multimodal.sampleFrames(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")), 4)
        .orderBy(col("asset_id"), col("frame_idx")),
      Some(s"""WITH a AS (SELECT doc_id AS asset_id,
         |                  concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
         |                  octet_length(CAST(text AS BLOB)) AS nb
         |           FROM documents),
         |f AS (SELECT asset_id, kind, unnest(generate_series(0, 3)) AS frame_idx, nb FROM a)
         |SELECT asset_id, kind, CAST(frame_idx AS INT) AS frame_idx,
         |       CAST(floor((frame_idx * greatest(nb, 1)) / 4.0) AS BIGINT) AS frame_offset
         |FROM f ORDER BY asset_id, frame_idx""".stripMargin)),

    // fixed-window chunk manifest with content fingerprints — the
    // storage-dedup / content-addressing primitive over binary assets
    QuerySpec("mm_chunks", (s, dir) =>
      graft.mm.Multimodal.chunkManifest(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")), 64)
        .orderBy(col("asset_id"), col("chunk_idx")),
      // mirrors Multimodal.chunkManifest: hex is byte-exact and ASCII, so
      // the VARCHAR substring slices bytes; fingerprint = md5(hex slice)
      Some(s"""WITH a AS (SELECT doc_id AS asset_id,
         |                  concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
         |                  octet_length(encode(text)) AS n_bytes,
         |                  hex(encode(text)) AS hexp
         |           FROM documents),
         |b AS (SELECT asset_id, kind, n_bytes, hexp,
         |             unnest(generate_series(0, (n_bytes + 63) // 64 - 1)) AS chunk_idx
         |      FROM a WHERE n_bytes > 0)
         |SELECT asset_id, kind, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(chunk_idx * 64 AS BIGINT) AS chunk_offset,
         |       CAST(least(64, n_bytes - chunk_idx * 64) AS BIGINT) AS chunk_bytes,
         |       md5(substring(hexp, chunk_idx * 128 + 1,
         |                     least(64, n_bytes - chunk_idx * 64) * 2)) AS chunk_md5
         |FROM b ORDER BY asset_id, chunk_idx""".stripMargin)),

    // what content-addressed storage would save: chunk-level dedup
    // bytes per kind over the manifest
    QuerySpec("mm_dedup_ratio", (s, dir) =>
      graft.mm.Multimodal.chunkDedupStats(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")), 64)
        .orderBy(col("kind")),
      // mirrors Multimodal.chunkDedupStats over the mm_chunks manifest
      Some(s"""WITH a AS (SELECT doc_id AS asset_id,
         |                  concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
         |                  octet_length(encode(text)) AS n_bytes,
         |                  hex(encode(text)) AS hexp
         |           FROM documents),
         |b AS (SELECT asset_id, kind, n_bytes, hexp,
         |             unnest(generate_series(0, (n_bytes + 63) // 64 - 1)) AS chunk_idx
         |      FROM a WHERE n_bytes > 0),
         |m AS (SELECT kind,
         |             CAST(least(64, n_bytes - chunk_idx * 64) AS BIGINT) AS chunk_bytes,
         |             md5(substring(hexp, chunk_idx * 128 + 1,
         |                           least(64, n_bytes - chunk_idx * 64) * 2)) AS chunk_md5
         |      FROM b),
         |dc AS (SELECT kind, chunk_md5, min(chunk_bytes) AS c_bytes, count(*) AS copies
         |       FROM m GROUP BY 1, 2)
         |SELECT kind,
         |       CAST(sum(c_bytes * copies) AS BIGINT) AS total_bytes,
         |       CAST(sum(c_bytes) AS BIGINT) AS unique_bytes,
         |       CAST(sum(c_bytes * (copies - 1)) AS BIGINT) AS dup_bytes,
         |       CAST(count(*) AS BIGINT) AS n_unique_chunks,
         |       CAST(sum(copies) AS BIGINT) AS n_chunks
         |FROM dc GROUP BY kind ORDER BY kind""".stripMargin)),

    // WebDataset-style byte-budget shard manifest: per kind, the
    // md5-order concatenated byte stream cut at exact capacity
    // multiples — pure arithmetic over the shared two-phase prefix sum
    // (corpus_pack's contract, bytes for tokens)
    QuerySpec("mm_shard", (s, dir) =>
      graft.mm.Multimodal.byteShard(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")), 4096L)
        .orderBy(col("asset_id")),
      // Mirrors Multimodal.byteShard at 4096 B: the corpus_pack running-sum
      // arithmetic with bytes for tokens and kind for stratum — start =
      // cum − n in (md5(asset_id), asset_id) order, shard = start div cap.
      Some("""WITH a AS (SELECT doc_id AS asset_id,
        |                  concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
        |                  octet_length(encode(text)) AS nb,
        |                  md5(CAST(doc_id AS VARCHAR)) AS rank_key
        |           FROM documents),
        |c AS (SELECT asset_id, kind, CAST(nb AS BIGINT) AS n_bytes,
        |             CAST(sum(nb) OVER (PARTITION BY kind
        |                                ORDER BY rank_key, asset_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |               - CAST(nb AS BIGINT) AS start_byte
        |      FROM a)
        |SELECT asset_id, kind, n_bytes,
        |       start_byte // 4096 AS shard_id, start_byte % 4096 AS shard_offset
        |FROM c ORDER BY asset_id""".stripMargin)),

    // binary-asset exact dedup: payload-hash verdicts, no decode
    // perceptual near-dup over the binary assets (the recompressed-image
    // case byte-hash dedup misses): codegen PhashSig + pigeonhole join
    QuerySpec("mm_phash", (s, dir) =>
      graft.mm.Multimodal.phashPairs(
          graft.mm.Multimodal.syntheticAssets(s,
            Tables.rebalance(Tables.load(s, dir, "documents"))))
        .orderBy(col("id_a"), col("id_b")),
      // Mirrors Multimodal.phashPairs: the shared 6-gram md5-SimHash
      // signature CTEs (PHASH_SIG_CTES — bit-identical to the engine's
      // PhashSig), then near-dup pairs at Hamming <= 3. Pairs are
      // brute-forced here (the quadratic is oracle-only — the engine uses
      // the pigeonhole chunk join, which has recall 1.0 at this bound, so
      // the exact hamming filter decides membership identically).
      Some(s"""WITH $PHASH_SIG_CTES,
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM psig a JOIN psig b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin)),

    // perceptual-pair audit: every phash pair re-scored with the exact
    // byte-identity verdict — splits "exact dup the fingerprint path
    // catches" from "genuine near-dup only the perceptual hash finds"
    QuerySpec("mm_phash_audit", (s, dir) =>
      graft.mm.Multimodal.phashAudit(
          graft.mm.Multimodal.syntheticAssets(s,
            Tables.rebalance(Tables.load(s, dir, "documents"))))
        .orderBy(col("id_a"), col("id_b")),
      // Mirrors Multimodal.phashAudit: the mm_phash pair CTEs + the exact
      // md5 fingerprint equality verdict per pair.
      Some(s"""WITH $PHASH_SIG_CTES,
         |h AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM psig a JOIN psig b ON a.doc_id < b.doc_id),
         |f AS (SELECT doc_id, md5(text) AS fp FROM documents)
         |SELECT h.id_a, h.id_b, h.hamming, fa.fp = fb.fp AS byte_identical
         |FROM h JOIN f fa ON fa.doc_id = h.id_a JOIN f fb ON fb.doc_id = h.id_b
         |WHERE h.hamming <= 3 ORDER BY h.id_a, h.id_b""".stripMargin)),

    // the perceptual-side bucket-load audit — the table that prices a
    // phash pair join's candidate mass before launching it (the 100×
    // stub-phash saturation reads directly off cand_pairs here)
    QuerySpec("mm_phash_load", (s, dir) =>
      graft.mm.Multimodal.phashLoad(
          graft.mm.Multimodal.syntheticAssets(s,
            Tables.rebalance(Tables.load(s, dir, "documents"))))
        .orderBy(col("chunk")),
      // Mirrors Multimodal.phashLoad: the shared 6-gram md5-SimHash
      // signature CTEs, pigeonhole chunk bucket keys rendered from the
      // same hammingComboSpec fold (identical bit patterns to the
      // engine's masked arithmetic shifts), per-bucket loads, per-combo
      // rollup — the dedup_simhash_load shape.
      Some(s"""WITH $PHASH_SIG_CTES,
         |ck AS (${comboCkSql("psig", 3)}),
         |l AS (SELECT ci, cv, count(*) AS load FROM ck GROUP BY 1, 2)
         |SELECT CAST(ci AS BIGINT) AS chunk,
         |       CAST(sum(load) AS BIGINT) AS n_items,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(load) AS BIGINT) AS max_load,
         |       CAST(sum(load * (load - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // visual near-dup clusters: the SAME connected-components operator as
    // text/embedding dedup over the perceptual-hash pair graph — every
    // asset labeled with the min reachable asset_id
    // asset survivor selection: largest payload per perceptual near-dup
    // cluster survives — the shared keepBest operator's third modality
    QuerySpec("mm_keep_best", (s, dir) =>
      graft.mm.Multimodal.keepBestAssets(
          graft.mm.Multimodal.syntheticAssets(s,
            Tables.rebalance(Tables.load(s, dir, "documents"))))
        .orderBy(col("asset_id")),
      // Mirrors Multimodal.keepBestAssets: the mm_dedup_clusters phash +
      // reachability CTEs with the keep-best argmax over payload bytes
      // (ties → lowest asset_id).
      Some(s"""WITH RECURSIVE
         |$PHASH_SIG_CTES,
         |h AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM psig a JOIN psig b ON a.doc_id < b.doc_id),
         |e AS (SELECT id_a, id_b FROM h WHERE hamming <= 3),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION ALL SELECT id_b, id_a FROM e),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
         |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |cl AS (SELECT d.doc_id, coalesce(lbl.cluster_id, d.doc_id) AS cluster_id,
         |              octet_length(CAST(d.text AS BLOB)) AS nb
         |       FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id)
         |SELECT doc_id AS asset_id, cluster_id,
         |       (row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY nb DESC, doc_id) = 1) AS kept
         |FROM cl ORDER BY asset_id""".stripMargin)),

    QuerySpec("mm_dedup_clusters", (s, dir) => {
      val assets = graft.mm.Multimodal.syntheticAssets(s,
        Tables.rebalance(Tables.load(s, dir, "documents")))
      val pairs = graft.mm.Multimodal.phashPairs(assets)
        .select(col("id_a"), col("id_b"))
      Dedup.clusters(assets.select(col("asset_id").as("doc_id")), pairs)
        .select(col("doc_id").as("asset_id"), col("cluster_id"))
        .orderBy(col("asset_id"))
    },
      // mirrors the registered clusters: the mm_phash pair CTEs + the
      // dedup_clusters recursive reachability, singletons labeled by a
      // left join over the full asset universe
      Some(s"""WITH RECURSIVE
         |$PHASH_SIG_CTES,
         |h AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |      FROM psig a JOIN psig b ON a.doc_id < b.doc_id),
         |e AS (SELECT id_a, id_b FROM h WHERE hamming <= 3),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION ALL SELECT id_b, id_a FROM e),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
         |lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT d.doc_id AS asset_id, coalesce(lbl.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         |ORDER BY asset_id""".stripMargin)),

    QuerySpec("mm_dedup", (s, dir) =>
      graft.mm.Multimodal.dedupAssets(
          graft.mm.Multimodal.syntheticAssets(s, Tables.load(s, dir, "documents")))
        .orderBy(col("asset_id")),
      // md5 of the payload BYTES == md5 of the utf-8 text both engines hash
      Some(s"""WITH a AS (SELECT doc_id AS asset_id,
         |                  concat('img/', CAST(doc_id % 3 AS VARCHAR)) AS kind,
         |                  md5(text) AS fp
         |           FROM documents),
         |k AS (SELECT *, min(asset_id) OVER (PARTITION BY fp) AS keep_id FROM a)
         |SELECT asset_id, kind, fp, asset_id <> keep_id AS is_dup, keep_id
         |FROM k ORDER BY asset_id""".stripMargin)),
  )

  // ---- DuckDB oracle building blocks ------------------------------

  /** Perceptual-hash signature CTEs — mirrors graft.plans.TextHashes.phash
    * bit for bit: one row per 6-code-point gram position of the decoded
    * payload (= the document text under the stub decode), per-gram hash =
    * md5_number_lower of the gram (the same value md5Lower64 computes over
    * the gram's byte slice), then the shared SIMHASH_SIG aggregate (±1
    * vote per bit per gram OCCURRENCE — multiset semantics). Payloads
    * under 6 code points carry no gram and drop out, matching the
    * engine's null-signature filter. Yields `psig(doc_id, sig)`.
    */
  private val PHASH_SIG_CTES =
    s"""pw AS (SELECT doc_id, text,
       |         unnest(generate_series(1, CAST(length(text) - 5 AS BIGINT))) AS i
       |       FROM documents WHERE length(text) >= 6),
       |ph AS (SELECT doc_id, md5_number_lower(substr(text, CAST(i AS INT), 6)) AS h
       |       FROM pw),
       |psig AS (SELECT doc_id, $SIMHASH_SIG_SQL AS sig FROM ph GROUP BY doc_id)""".stripMargin
}
