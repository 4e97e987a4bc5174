package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ts.{Store, TimeSeriesOps}

/** Streaming ingest — the Spark-native form of BTrDB's write buffer.
  *
  * In the reference, inserts land in the primary queue merge buffer
  * (internal/pqm/pqm.go) backed by a journal (internal/jprovider) and are
  * merged into the versioned tree on flush. Here the same roles map onto
  * Structured Streaming primitives:
  *   journal/WAL        → the stream source + checkpoint directory
  *   pqm merge buffer   → the micro-batch
  *   tree commit        → Store.insertBatchAt inside foreachBatch (one
  *                        version bump per distinct uuid in the
  *                        micro-batch, one atomic parquet append)
  *
  * The statistical tree maintenance (qtree updating min/mean/max/count on
  * the insert path) maps to a watermarked windowed aggregation emitting
  * StatPoints in append mode once windows close.
  */
object Ingest {

  /** File-source ingest into a Store: watches `sourceDir` for parquet of
    * (uuid string, time long, value double); each micro-batch becomes one
    * version bump per distinct uuid in the batch.
    *
    * Idempotence (exactly-once into the store): foreachBatch is
    * at-least-once — after a crash the checkpoint replays the last batch.
    * The protocol per batch:
    *   1. persist an INTENT file with the per-uuid versions this batch
    *      will assign (Store.nextWrites),
    *   2. write the batch as ONE all-or-nothing parquet job at exactly
    *      those versions (Store.insertBatchAt),
    *   3. append the rollup deltas (Overwrite to a writeId path — replay
    *      overwrites its own contribution),
    *   4. create the commit marker, drop the intent.
    * On replay: marker present → done, skip. Intent present without
    * marker → the job either committed fully or not at all, so comparing
    * the versions the DATA holds (one Store.landedVersions scan over the
    * intent's uuids — a version claimed in the store's log is not yet a
    * landing) against the intended ones tells which; a landed batch skips
    * the re-insert (closing the crash window between job commit and
    * marker creation that a marker-only protocol leaves open), marks its
    * claims committed (Store.markLanded: the crash may have come before
    * the store's own marks) and still re-runs the idempotent rollup
    * append + marker. A batch that did not
    * land is planned afresh: a claim its crashed attempt left in the log
    * stays a version gap.
    * The rollup writeId embeds the checkpoint id, so multiple ingest
    * streams maintaining one ROLLUP can never clobber each other's
    * deltas (batchIds restart at 0 per checkpoint).
    *
    * Concurrency contract: Store.insertBatchAt claims every (uuid,
    * version) of the batch before its job, so a second stream writing the
    * same Store can no longer duplicate versions: the stream that loses a
    * claim fails, drops its intent (nothing of the batch landed) and, once
    * restarted, plans the batch again at fresh versions. Two streams
    * racing on one stream's versions therefore fail each other's batches;
    * fan-in still belongs upstream (N sources → one stream via unioned/
    * globbed file sources), or in N stores sharing one Rollup.
    *
    * Value domain: a row whose value lies outside graft.Quant's domain
    * (NaN, ±Inf, |value| > Quant.MaxAbs) fails its batch's insert, and so
    * the stream, loudly; nothing of that batch lands. Bad rows are not
    * quarantined or counted here.
    */
  def intoStore(spark: SparkSession, sourceDir: String, store: Store,
                checkpoint: String, rollup: Option[graft.ts.Rollup] = None,
                readerOptions: Map[String, String] = Map.empty): StreamingQuery = {
    val schema = "uuid STRING, time LONG, value DOUBLE"
    val ckptId = java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8")).toString
    // markers/intents live WITH the store data (Hadoop FS, not
    // java.io.File): on HDFS/S3A a local File would resolve to a
    // driver-local path, and a replay on a fresh driver would find no
    // marker and double-insert a committed batch
    val commitDir = new org.apache.hadoop.fs.Path(s"${store.base}/_ingest_commits/$ckptId")
    val fs = commitDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.readStream.schema(schema).options(readerOptions).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(commitDir, s"batch-$batchId")
        val intent = new org.apache.hadoop.fs.Path(commitDir, s"batch-$batchId.intent")
        if (!fs.exists(marker)) {
          // A torn line (crash mid-write) parses to nothing and is skipped:
          // the insert job only starts after the full intent is in place,
          // so a torn intent always means the batch did NOT land.
          val landed = fs.exists(intent) && {
            val in = fs.open(intent)
            val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                       finally in.close()
            val intents = text.split("\n").toSeq
              .filter(_.contains('\t')).flatMap { line =>
                val i = line.lastIndexOf('\t')
                line.substring(i + 1).trim.toLongOption.map((line.substring(0, i), _))
              }
            intents.nonEmpty && {
              val current = store.landedVersions(intents.map(_._1))
              intents.forall { case (u, v) => current.getOrElse(u, 0L) >= v } && {
                store.markLanded(intents); true
              }
            }
          }
          if (!landed) {
            val next = store.nextWrites(batch)
            val vers = next.map(w => w.uuid -> w.ver)
            fs.mkdirs(commitDir)
            // write-then-rename so a crash can never leave a half-written
            // intent at the final path (replay parses it, see above)
            val tmp = new org.apache.hadoop.fs.Path(commitDir, s"batch-$batchId.intent.tmp")
            val out = fs.create(tmp, true)
            try out.write(vers.map { case (u, v) => s"$u\t$v" }.mkString("\n").getBytes("UTF-8"))
            finally out.close()
            if (fs.exists(intent)) fs.delete(intent, false)
            if (!fs.rename(tmp, intent)) sys.error(s"ingest: could not publish intent $intent")
            // a failed insert landed nothing and released its claims, so
            // its intent goes too: the replay must not read another
            // writer's version as this batch's landing
            try store.insertBatchAt(batch, next)
            catch { case e: Throwable => fs.delete(intent, false); throw e }
          }
          rollup.foreach(_.appendBatch(
            batch.select(col("uuid"), col("time").as("t_us"), col("value")),
            Seq("uuid"), s"${ckptId}_b$batchId"))
          fs.mkdirs(commitDir)
          fs.create(marker, true).close()
          if (fs.exists(intent)) fs.delete(intent, false)
          ()
        }
      }
      .start()
  }

  /** Watermarked windowed StatPoint stream: the continuously-maintained
    * level-0 rollup, the batch statpoint (TimeSeriesOps.statAgg) with
    * `w_start` in epoch µs. `timeCol` must be a timestamp column; emits
    * closed windows only (append mode), so downstream parquet sinks stay
    * append-only and idempotent per checkpoint.
    */
  def statStream(points: DataFrame, streamCols: Seq[String], width: String,
                 watermark: String, timeCol: String = "ts"): DataFrame =
    TimeSeriesOps.statAgg(points.withWatermark(timeCol, watermark), streamCols,
        window(col(timeCol), width).as("w"))
      .select((streamCols.map(col) :+ unix_micros(col("w.start")).as("w_start"))
        ++ Seq("v_min", "v_mean", "v_max", "v_count").map(col): _*)
}
