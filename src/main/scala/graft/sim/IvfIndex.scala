package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — build once, query many: the production ANN
  * lifecycle (Vectors.annIvf fuses train+assign+query into one plan for
  * the benchmark/oracle path; this splits them so the expensive part is
  * amortized across query batches, which is how a 10^9-vector corpus is
  * actually served).
  *
  * Layout under `dir`:
  *   centroids/  — (cell, cvec: array<double>, cn2), nCells rows
  *   assigned/   — (vec_id, embedding, nrm) partitioned by cell=N:
  *                 a query's candidate read opens only its nProbe cell
  *                 partitions (partition pruning does the inverted-file
  *                 part of "inverted file index")
  *
  * Same quantizer contract and query arithmetic as annIvf (shared code:
  * trainCentroids / assignTo / ivfQuery) — the spec pins query() equal to
  * the fused operator on identical inputs. An index built with
  * byLabel = true also partitions `assigned/` by label (or by a label
  * hash bucket past maxLabelDirs) and serves label-filtered answers.
  */
class IvfIndex private[sim] (val spark: SparkSession, val dir: String) {
  def centroids: DataFrame = spark.read.parquet(s"$dir/centroids")
  def assigned: DataFrame = spark.read.parquet(s"$dir/assigned")

  /** Top-k neighbors for each query vector (vec_id, embedding). The
    * persisted layout decides the answer, never the query frame's schema
    * (the embeddings table carries `label` for unfiltered queries too):
    * an index built unfiltered answers unfiltered, and one built with
    * byLabel = true — whose `assigned/` carries label — answers
    * metadata-FILTERED top-k for (vec_id, embedding, label) queries, the
    * persisted form of Vectors.annIvf(byLabel = true). Candidates join
    * the inverted lists on (cell, label), and the assignment files are
    * PARTITIONED by (cell, label), so the filter is literal parquet
    * partition pruning — a query's scan opens only its nProbe × 1-label
    * directories. `nProbe` is then the unfiltered probe budget, scaled
    * by the index's label cardinality (Vectors.adaptiveProbe — the
    * selectivity→nProbe map); the cardinality is one distinct over the
    * partition column, answered from directory metadata, never the data
    * files.
    */
  def query(queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val a = assigned
    if (!a.columns.contains("label"))
      return Vectors.ivfQuery(broadcast(centroids), a,
        Vectors.withNorm(queries), k, nProbe)
    val nCells = centroids.count().toInt
    // a bucketed index (built past maxLabelDirs) carries the lbk
    // partition column and a meta file with the bucket count AND the
    // label cardinality — label is a data column there, so a distinct
    // over it would full-scan every assignment file per query batch;
    // both counts are build-time properties read from one meta row. The
    // plain layout keeps the partition-column distinct (answered from
    // directory metadata, never the data files).
    if (a.columns.contains("lbk")) {
      val metaDf = spark.read.parquet(s"$dir/meta")
      // layout_version gates the lbk contract: an index written by an
      // older build (string-canonical lbk, or no n_labels at all) must
      // fail with a NAMED rebuild error here — opened leniently it
      // would either throw an opaque missing-column AnalysisException
      // or, worse, prune to wrong directories under the changed hash
      // form and silently return wrong candidates.
      if (!metaDf.columns.contains("layout_version"))
        throw new IllegalStateException(
          s"bucketed filtered index at $dir was built by an older graft " +
            "version (meta has no layout_version) — rebuild with " +
            "IvfIndex.build(byLabel = true)")
      val meta = metaDf
        .select(col("n_label_dirs"), col("n_labels"),
          col("layout_version"), col("label_kind")).head
      if (meta.getInt(2) != IvfIndex.BucketedLayoutVersion)
        throw new IllegalStateException(
          s"bucketed filtered index at $dir has layout_version " +
            s"${meta.getInt(2)}, this build reads " +
            s"${IvfIndex.BucketedLayoutVersion} — rebuild with " +
            "IvfIndex.build(byLabel = true)")
      val qKind = Vectors.labelKind(queries)
      if (qKind != meta.getString(3))
        throw new IllegalArgumentException(
          s"query label type family '$qKind' does not match the index's " +
            s"'${meta.getString(3)}' — lbk buckets would not line up; " +
            "cast the query label column to the index's family")
      val probes = Vectors.adaptiveProbe(nCells, nProbe, meta.getLong(1))
      Vectors.ivfQuery(broadcast(centroids), a,
        Vectors.withNorm(queries), k, probes, byLabel = true, nLabelDirs = meta.getInt(0))
    } else {
      val nLabels = a.select(col("label")).distinct().count()
      val probes = Vectors.adaptiveProbe(nCells, nProbe, nLabels)
      Vectors.ivfQuery(broadcast(centroids), a,
        Vectors.withNorm(queries), k, probes, byLabel = true)
    }
  }

  def pqCodebook: DataFrame = spark.read.parquet(s"$dir/pq_codebook")
  def pqCodes: DataFrame = spark.read.parquet(s"$dir/pq_codes")

  /** Add the PQ layer (the faiss IVFPQ composition): a deterministic
    * seed codebook over the kCodes lowest-id assigned vectors plus
    * cell-PARTITIONED code files — a probed query reads m small ints
    * per candidate from only its nProbe cell partitions, instead of the
    * full vectors. The full vectors stay in `assigned/` for the exact
    * re-rank tail.
    */
  def buildPq(m: Int = 8, kCodes: Int = 16): IvfIndex = {
    val cb = Vectors.pqCodebook(assigned, m, kCodes)
    cb.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/pq_codebook")
    Vectors.pqAssign(assigned, spark.read.parquet(s"$dir/pq_codebook"), m)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$dir/pq_codes")
    this
  }

  /** IVF-PQ query: ADC over the probed cells' code partitions, exact
    * cosine re-rank of the top `rerank` survivors. `m` is a BUILD-time
    * property, so it is derived from the persisted codebook (max sub + 1,
    * one aggregate over an m·kCodes-row file) rather than taken as a
    * parameter — a build/query m mismatch would otherwise silently join
    * partial distance tables and mis-rank candidates with no error.
    */
  def queryPq(queries: DataFrame, k: Int, nProbe: Int = 4,
              rerank: Int = 32): DataFrame = {
    val cb = pqCodebook
    val m = cb.agg(max(col("sub"))).head.getInt(0) + 1
    Vectors.ivfPqQuery(broadcast(centroids), broadcast(cb), pqCodes,
      assigned, Vectors.withNorm(queries), k, nProbe, rerank, m)
  }
}

object IvfIndex {
  /** Version stamp of the bucketed (high-label-cardinality) layout's
    * persisted lbk contract. 2 = labelKind-canonical hash (integral →
    * long, string as-is; Vectors.lbkCol) with label_kind in meta;
    * version 1 (string-canonical, unstamped) is rejected at open.
    */
  val BucketedLayoutVersion = 2

  /** Open an existing index directory. */
  def apply(spark: SparkSession, dir: String): IvfIndex = new IvfIndex(spark, dir)

  /** Train the quantizer on `corpus` (vec_id, embedding) and persist
    * centroids + cell-partitioned assignments.
    *
    * `byLabel` builds for FILTERED serving: `corpus` carries (vec_id,
    * embedding, label) and the assignment table is partitioned by (cell,
    * label) — the layout that turns query's (cell, label) candidate keys
    * into parquet partition pruning at deployment scale: the label
    * predicate never reads an inadmissible row, the exact promise
    * Vectors.annIvf(byLabel = true) makes for the fused path. Same
    * quantizer contract (shared trainCentroids/assignTo), so the spec
    * pins query equal to the fused operator, including after reopen.
    *
    * Past `maxLabelDirs` distinct labels the layout switches to label
    * HASH BUCKETING — partitioned by (cell, lbk = pmod(xxhash64(label),
    * maxLabelDirs)) with label kept as a data column — because the
    * plain grid is nCells·|labels| directories (10⁴ labels × 2¹⁰ cells
    * = 10⁷ small files, the classic parquet small-files failure) while
    * the bucketed grid is bounded at nCells·maxLabelDirs at any
    * cardinality. A query still prunes to its (cell, lbk) directories
    * and filters the exact label inside the ~|labels|/maxLabelDirs
    * share it read; answers are identical (spec-pinned against the
    * fused operator for both layouts).
    */
  def build(corpus: DataFrame, dir: String, nCells: Int = 16,
            lloydIters: Int = 3, trainLimit: Long = 200000L,
            byLabel: Boolean = false, maxLabelDirs: Int = 256): IvfIndex = {
    val spark = corpus.sparkSession
    val c = Vectors.withNorm(corpus).cache()
    val cents = Vectors.trainCentroids(c, nCells, lloydIters, trainLimit)
    Vectors.centDf(spark, cents)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    val assigned = Vectors.assignTo(c, Vectors.centDf(spark, cents),
      carry = if (byLabel) Seq("label") else Nil)
    val nLabels = if (byLabel) c.agg(countDistinct(col("label"))).head.getLong(0) else 0L
    val bucketed = nLabels > maxLabelDirs
    // THE PERSISTED LAYOUT CONTRACT (layout_version 2) of a bucketed
    // index: lbk hashes the label's CANONICAL form — integral labels
    // through long, string labels as-is, every other type rejected at
    // build — via the ONE shared derivation (Vectors.lbkCol) the query
    // side also calls, so bucket derivation cannot be type-sensitive
    // within a label family (xxhash64 hashes int and long differently;
    // the raw column would silently prune a long-labeled query batch to
    // the WRONG directories of an int32-built index). The label family
    // is persisted and checked at query time, so even a cross-family
    // batch (string vs integral) fails with a named error instead of
    // silently returning wrong candidates.
    val laid = if (bucketed)
      assigned.withColumn("lbk", Vectors.lbkCol(assigned, maxLabelDirs)) else assigned
    val parts = "cell" +: (if (bucketed) Seq("lbk") else if (byLabel) Seq("label") else Nil)
    // cluster on the partition columns first — same small-file stance as
    // Store.withLayout (one writer per partition dir)
    laid.repartition(parts.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(parts: _*).parquet(s"$dir/assigned")
    // the bucket count is a BUILD-time property the query side must
    // reproduce exactly — persist it rather than infer it from dir
    // names (sparse buckets would under-count). n_labels rides along:
    // in the bucketed layout label is a DATA column, so deriving the
    // cardinality at query time would full-scan every assignment file
    // per batch — at exactly the high-cardinality scale the bucketing
    // exists for. layout_version stamps the lbk contract so an index
    // written by an older build fails with a named rebuild error at
    // open, never an opaque missing-column exception or (worse) a
    // silent wrong-directory prune under a changed hash form.
    if (bucketed)
      spark.range(1).select(lit(maxLabelDirs).as("n_label_dirs"),
          lit(nLabels).as("n_labels"),
          lit(IvfIndex.BucketedLayoutVersion).as("layout_version"),
          lit(Vectors.labelKind(assigned)).as("label_kind"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    c.unpersist()
    new IvfIndex(spark, dir)
  }
}
