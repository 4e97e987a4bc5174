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
  *
  * The compare-and-swap: `create`, `setAnnotations` and `delete` each claim
  * their annotationVersion in a claim log, `base/_meta_log/<uuid>/<rev>`
  * (graft.ts.ClaimLog), by put-if-absent before they append the revision
  * row, and the record says whether the stream lives after it. Of racing
  * writers at one revision exactly one wins; the others see a CAS error
  * (setAnnotations) or re-check the stream's new state (create, delete);
  * within one JVM the three run one at a time. So delete, and create of a
  * stream whose latest claim says it is dead or absent, read no
  * descriptor. A writer whose append fails releases its claim; one that
  * dies between claim and append leaves a revision with no row, and the
  * next revision builds on the newest row below it: create, when the
  * latest claim says the stream lives, asks the rows whether it does.
  * A base written before the log is seeded once from its latest revision
  * per uuid.
  */
class MetaStore(val spark: SparkSession, val base: String) {
  import spark.implicits._

  private val dir = s"$base/streams_meta"

  private def hasData = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val claims = new ClaimLog(s"$base/_meta_log", spark.sparkContext.hadoopConfiguration)

  /** The revision log, seeded once from the latest revision per uuid of a
    * base written before it.
    */
  private def log: ClaimLog = claims.open(hasData,
    all.select($"uuid", $"collection", $"annotationVersion").as[(String, String, Long)]
      .collect().groupBy(_._1).values.map(_.maxBy(r => (r._3, r._2)))
      .map { case (u, coll, rev) => (u, rev, if (coll.isEmpty) MetaStore.Dead else MetaStore.Live) })

  /** The stream's latest claimed revision (0 if none) and whether it lives. */
  private def head(uuid: String): (Long, Boolean) =
    log.records(uuid).lastOption.fold((0L, false)) { case (v, b) => (v, b != MetaStore.Dead) }

  /** Claims the stream's next revision for `body` once `check` accepts the
    * current liveness; a claim lost to a racing writer re-reads and
    * re-checks.
    */
  private def claimNext(uuid: String, body: String)(check: Boolean => Unit): Long =
    Iterator.continually(head(uuid)).map { case (rev, live) => check(live); rev + 1 }
      .find(log.claim(uuid, _, body)).get

  /** Appends one revision row under its claim: a failed append releases it. */
  private def append(uuid: String, rev: Long, collection: String, tags: Map[String, String],
                     annotations: Map[String, String]): Unit =
    try Seq((uuid, collection, tags, annotations, rev))
      .toDF("uuid", "collection", "tags", "annotations", "annotationVersion")
      .write.mode(SaveMode.Append).parquet(dir)
    catch { case e: Throwable => log.release(uuid, rev); throw e }

  /** Runs one descriptor write — claim, row append — while no other runs
    * in this JVM, so a writer sees the rows of every revision claimed
    * before it, save one whose writer died.
    */
  private def serially[T](write: => T): T = ClaimLog.appending(dir)(write)

  /** Whether the stream's newest descriptor row is a live one: asked when
    * its latest claim says it lives, which a create that died before its
    * append also leaves.
    */
  private def liveRow(uuid: String): Boolean =
    all.filter($"uuid" === uuid).orderBy($"annotationVersion".desc, $"collection".desc)
      .select($"collection").as[String].take(1).exists(_.nonEmpty)

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

  /** Create(uuid, collection, tags, annotations) — error if it exists.
    * Create-after-delete is allowed (the reference permits re-creating an
    * obliterated uuid): the new revision continues above the tombstone.
    */
  def create(uuid: String, collection: String, tags: Map[String, String],
             annotations: Map[String, String] = Map.empty): Unit = {
    require(collection.nonEmpty, "collection must be non-empty")
    serially {
      val rev = claimNext(uuid, MetaStore.Live)(live =>
        require(!(live && liveRow(uuid)), s"stream $uuid already exists"))
      append(uuid, rev, collection, tags, annotations)
    }
  }

  /** SetStreamAnnotations with CAS on expectedAnnotationVersion; `changes`
    * values of None delete the key (KeyOptValue with empty OptValue).
    * Returns the new annotationVersion. The new revision builds on the
    * newest revision row at or below the expected one.
    */
  def setAnnotations(uuid: String, expectedVersion: Long,
                     changes: Map[String, Option[String]]): Long = serially {
    val (ver, live) = head(uuid)
    require(live, s"no such stream $uuid")
    def mismatch(at: Long) = s"annotation version mismatch: expected $expectedVersion, at $at"
    require(ver == expectedVersion, mismatch(ver))
    val rev = ver + 1
    require(log.claim(uuid, rev, MetaStore.Live), mismatch(rev))
    val (_, collection, tags, ann, _) =
      try all.filter($"uuid" === uuid && $"annotationVersion" <= ver)
        .as[(String, String, Map[String, String], Map[String, String], Long)]
        .collect().maxByOption(_._5).filter(_._2.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(s"no such stream $uuid"))
      catch { case e: Throwable => log.release(uuid, rev); throw e }
    val next = changes.foldLeft(ann) {
      case (m, (k, Some(v))) => m.updated(k, v)
      case (m, (k, None))    => m - k
    }
    append(uuid, rev, collection, tags, next)
    rev
  }

  /** Obliterate the descriptor (empty-collection tombstone revision).
    * Errors when the stream does not exist (like the reference's
    * Obliterate).
    */
  def delete(uuid: String): Unit = serially {
    val rev = claimNext(uuid, MetaStore.Dead)(live => require(live, s"no such stream $uuid"))
    append(uuid, rev, "", Map.empty, Map.empty)
  }

  /** LookupStreams(collection prefix + exact tag matches). */
  def lookup(collectionPrefix: String, tagMatch: Map[String, String] = Map.empty): DataFrame =
    tagMatch.foldLeft(descriptors.filter($"collection".startsWith(collectionPrefix))) {
      case (df, (k, v)) => df.filter(element_at($"tags", k) === v)
    }
}

object MetaStore {
  /** Revision-log record bodies: the stream lives, or was deleted, after it. */
  private val Live = "live"
  private val Dead = "dead"

  /** The stored descriptor-revision columns. */
  val Schema: StructType = StructType.fromDDL("uuid STRING, collection STRING, " +
    "tags MAP<STRING, STRING>, annotations MAP<STRING, STRING>, annotationVersion BIGINT")

  def apply(spark: SparkSession, base: String): MetaStore = new MetaStore(spark, base)
}
