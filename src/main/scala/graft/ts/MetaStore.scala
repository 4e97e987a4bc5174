package graft.ts

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stream-descriptor write path — Create / SetStreamAnnotations with the
  * reference's compare-and-swap semantics (btrdb.proto:82-96:
  * SetStreamAnnotationsParams.expectedAnnotationVersion; mprovider
  * metaprovider.go enforces the CAS against etcd).
  *
  * Append-only parquet of descriptor revisions; the live descriptor for a
  * uuid is its max-annotationVersion row. At 100 TB the descriptor table is
  * ~10^6 rows against 10^13 points — always the broadcast side of any join
  * with the fact table, and compactable by rewriting latest-revision rows.
  */
class MetaStore(val spark: SparkSession, val base: String) {
  import spark.implicits._

  private val dir = s"$base/streams_meta"

  private def hasData = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Every descriptor revision, read with the declared MetaStore.Schema
    * (the columns every write below appends) instead of footer inference.
    */
  private def all: DataFrame =
    if (hasData) spark.read.schema(MetaStore.Schema).parquet(dir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), MetaStore.Schema)

  /** Live descriptors: latest revision per uuid, tombstoned rows dropped.
    * Deduped deterministically (should duplicate max-revision rows ever
    * exist, e.g. from racing writers, the lexicographically-max descriptor
    * wins) — the write path assumes a single writer per uuid, like any
    * append-log without an external lock; see setAnnotations.
    */
  def descriptors: DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"uuid")
      .orderBy($"annotationVersion".desc, $"collection".desc)
    all.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"collection" =!= "")
      .drop("rn")
  }

  /** One collect answering both liveness and the next revision:
    * (liveCollection if the max-revision row is not a tombstone, maxRev).
    */
  private def state(uuid: String): (Option[String], Long) = {
    val rows = all.filter($"uuid" === uuid)
      .select($"collection", $"annotationVersion")
      .as[(String, Long)].collect()
    if (rows.isEmpty) (None, 0L)
    else {
      val (coll, rev) = rows.maxBy(r => (r._2, r._1))
      (Some(coll).filter(_.nonEmpty), rev)
    }
  }

  private def descriptor(uuid: String): Option[(String, Long)] = {
    val (live, rev) = state(uuid)
    live.map((_, rev))
  }

  /** Create(uuid, collection, tags, annotations) — error if it exists.
    * Create-after-delete is allowed (the reference permits re-creating an
    * obliterated uuid): the new revision continues above the tombstone.
    */
  def create(uuid: String, collection: String, tags: Map[String, String],
             annotations: Map[String, String] = Map.empty): Unit = {
    val (live, maxRev) = state(uuid)
    require(live.isEmpty, s"stream $uuid already exists")
    require(collection.nonEmpty, "collection must be non-empty")
    Seq((uuid, collection, tags, annotations, maxRev + 1))
      .toDF("uuid", "collection", "tags", "annotations", "annotationVersion")
      .write.mode(SaveMode.Append).parquet(dir)
  }

  /** SetStreamAnnotations with CAS on expectedAnnotationVersion; `changes`
    * values of None delete the key (KeyOptValue with empty OptValue).
    * Returns the new annotationVersion.
    */
  def setAnnotations(uuid: String, expectedVersion: Long,
                     changes: Map[String, Option[String]]): Long = {
    val cur = descriptors.filter($"uuid" === uuid)
      .as[(String, String, Map[String, String], Map[String, String], Long)]
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"no such stream $uuid"))
    val (_, collection, tags, ann, ver) = cur
    require(ver == expectedVersion,
      s"annotation version mismatch: expected $expectedVersion, at $ver")
    val next = changes.foldLeft(ann) {
      case (m, (k, Some(v))) => m.updated(k, v)
      case (m, (k, None))    => m - k
    }
    Seq((uuid, collection, tags, next, ver + 1))
      .toDF("uuid", "collection", "tags", "annotations", "annotationVersion")
      .write.mode(SaveMode.Append).parquet(dir)
    ver + 1
  }

  /** Obliterate the descriptor (empty-collection tombstone revision).
    * Errors when the stream does not exist (like the reference's
    * Obliterate) — basing the tombstone on anything but the true max
    * revision would fabricate a duplicate annotationVersion.
    */
  def delete(uuid: String): Unit = {
    val (live, maxRev) = state(uuid)
    require(live.isDefined, s"no such stream $uuid")
    Seq((uuid, "", Map.empty[String, String], Map.empty[String, String], maxRev + 1))
      .toDF("uuid", "collection", "tags", "annotations", "annotationVersion")
      .write.mode(SaveMode.Append).parquet(dir)
  }

  /** LookupStreams(collection prefix + exact tag matches). */
  def lookup(collectionPrefix: String, tagMatch: Map[String, String] = Map.empty): DataFrame =
    tagMatch.foldLeft(descriptors.filter($"collection".startsWith(collectionPrefix))) {
      case (df, (k, v)) => df.filter(element_at($"tags", k) === v)
    }
}

object MetaStore {
  /** The stored descriptor-revision columns. */
  val Schema: StructType = StructType.fromDDL("uuid STRING, collection STRING, " +
    "tags MAP<STRING, STRING>, annotations MAP<STRING, STRING>, annotationVersion BIGINT")

  def apply(spark: SparkSession, base: String): MetaStore = new MetaStore(spark, base)
}
