package graft

import org.apache.spark.sql.functions._
import graft.streaming.Ingest
import graft.ts.{Store, TimeSeriesOps}

/** Streaming write path: file source → micro-batch → Store version bump;
  * watermarked StatPoint stream against the equivalent batch aggregation.
  */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  test("file-source ingest lands batches in the store with versioning") {
    val src = tmpDir("ingest_src")
    val st = Store(spark, tmpDir("ingest_store"))
    Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("b", 10L, 3.0))
      .toDF("uuid", "time", "value").write.mode("append").parquet(src)
    val q = Ingest.intoStore(spark, src, st, tmpDir("ingest_ckpt"))
    q.awaitTermination()
    assert(st.rawValues("a", 0, 100).count() == 2)
    assert(st.rawValues("b", 0, 100).count() == 1)
    assert(st.version("a") == 1)
  }

  test("each micro-batch assigns correct versions across batches in one query") {
    val src = tmpDir("vc_src")
    val st = Store(spark, tmpDir("vc_store"))
    // three files → three micro-batches (maxFilesPerTrigger=1): 'a' in all
    // three (versions 1..3), 'b' only in the first, 'c' first seen in the
    // second (every batch reads its uuids' versions through Store.versionsFor)
    Seq(("a", 10L, 1.0), ("b", 10L, 2.0)).toDF("uuid", "time", "value")
      .coalesce(1).write.mode("append").parquet(src)
    Seq(("a", 20L, 3.0), ("c", 10L, 4.0)).toDF("uuid", "time", "value")
      .coalesce(1).write.mode("append").parquet(src)
    Seq(("a", 30L, 5.0)).toDF("uuid", "time", "value")
      .coalesce(1).write.mode("append").parquet(src)
    Ingest.intoStore(spark, src, st, tmpDir("vc_ckpt"),
      readerOptions = Map("maxFilesPerTrigger" -> "1")).awaitTermination()
    assert(st.version("a") == 3, s"a at ${st.version("a")}")
    assert(st.version("b") == 1 && st.version("c") == 1)
    assert(st.rawValues("a", 0, 100).count() == 3)
    // each insert of 'a' carries its own batch's version (MVCC intact)
    assert(st.rawValues("a", 0, 100, asOf = Some(2)).count() == 2)
  }

  test("replayed micro-batch is skipped, not re-appended (idempotent sink)") {
    val src = tmpDir("ingest_src")
    val ckpt = tmpDir("ingest_ckpt")
    val st = Store(spark, tmpDir("ingest_store"))
    Seq(("a", 10L, 1.0), ("a", 20L, 2.0))
      .toDF("uuid", "time", "value").write.mode("append").parquet(src)
    Ingest.intoStore(spark, src, st, ckpt).awaitTermination()
    assert(st.rawValues("a", 0, 100).count() == 2 && st.version("a") == 1)
    // simulate a post-commit crash replay: wipe the checkpoint so the
    // source re-delivers the same files as batch 0 again
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(ckpt))
    Ingest.intoStore(spark, src, st, ckpt).awaitTermination()
    // commit marker for batch 0 exists → replay is a no-op
    assert(st.rawValues("a", 0, 100).count() == 2, "replay must not duplicate")
    assert(st.version("a") == 1, "replay must not bump the version")
  }

  test("watermarked stat stream matches batch aggregation for closed windows") {
    // drive the events parquet through a streaming source (ts shape is
    // generation-dependent → normalize via Tables.tsUs, then back to a
    // timestamp for the window op)
    val batchRaw = Tables.load(spark, sfDir, "events")
    val keys = Seq("user_id", "event_type")
    val events = batchRaw.select(col("user_id"), col("event_type"),
      Tables.tsUs(batchRaw).as("t_us"), col("value"))
    val batchDf = events.select(col("user_id"), col("event_type"),
      timestamp_micros(col("t_us")).as("ts"), col("value"))
    val streamDf = spark.readStream
      .schema(batchDf.schema)
      .parquet(stageAsDir(batchDf))
    val agg = Ingest.statStream(streamDf, keys, "1 day", "0 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("stat_out")
      .option("checkpointLocation", tmpDir("stat_ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col) :+ col("w_start"): _*).collect().toSeq
    // append mode emits only watermark-closed windows: with watermark 0s a
    // window closes once its end is at or before the max event time, which
    // is exactly the complete-window cutoff of windows() ending there
    val T0 = 1704067200000000L // 2024-01-01, a day boundary at or before every event
    val maxT = events.agg(max(col("t_us"))).first().getLong(0)
    val want = rows(TimeSeriesOps.windows(events, keys, T0, maxT, 86400000000L))
    val got = rows(spark.table("stat_out"))
    assert(want.nonEmpty && got == want, s"emitted ${got.size} windows, batch ${want.size}")
  }

  test("a batch that committed before the crash is not re-inserted on replay") {
    // simulate the pre-marker crash window: data landed (insertBatchAt),
    // intent file present, NO commit marker — the replay must detect the
    // landed versions and skip the insert instead of duplicating
    val src = tmpDir("pm_src")
    val ckpt = tmpDir("pm_ckpt")
    val st = Store(spark, tmpDir("pm_store"))
    val data = Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("b", 5L, 3.0))
      .toDF("uuid", "time", "value")
    data.write.mode("append").parquet(src)
    val writes = st.nextWrites(data)
    val vers = writes.map(w => w.uuid -> w.ver)
    st.insertBatchAt(data, writes) // the crashed attempt's committed write
    // ...which died before marking its claims committed
    writes.foreach { w =>
      val claim = java.nio.file.Paths.get(s"${st.base}/_log/${w.uuid}/${w.ver}")
      java.nio.file.Files.write(claim, (new String(java.nio.file.Files.readAllBytes(claim), "UTF-8") +
        " pending").getBytes("UTF-8"))
    }
    assert(st.version("a") == 0 && st.version("b") == 0)
    val ckptId = java.util.UUID.nameUUIDFromBytes(ckpt.getBytes("UTF-8")).toString
    val commitDir = new java.io.File(s"${st.base}/_ingest_commits/$ckptId")
    commitDir.mkdirs()
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.write(
      new java.io.File(commitDir, "batch-0.intent").toPath,
      vers.map { case (u, v) => s"$u\t$v" }.asJava)
    Ingest.intoStore(spark, src, st, ckpt).awaitTermination()
    assert(st.rawValues("a", 0, 100).count() == 2, "landed batch must not duplicate")
    assert(st.version("a") == 1 && st.version("b") == 1)
    assert(new java.io.File(commitDir, "batch-0").exists(), "marker completed")
  }

  test("ingest maintains the rollup hierarchy alongside the store") {
    import graft.ts.Rollup
    val src = tmpDir("ru_src")
    val st = Store(spark, tmpDir("ru_store"))
    val ru = Rollup(spark, tmpDir("ru_rollup"), Seq(4, 8))
    Seq(("a", 10L, 1.0), ("a", 300L, 2.0), ("b", 70L, 3.0), ("a", 290L, 5.0))
      .toDF("uuid", "time", "value").write.mode("append").parquet(src)
    Ingest.intoStore(spark, src, st, tmpDir("ru_ckpt"), Some(ru)).awaitTermination()
    val pts = st.pointsAt(None).select(col("uuid"), col("time").as("t_us"), col("value"))
    val direct = graft.ts.TimeSeriesOps.alignedWindows(pts, Seq("uuid"), 0L, 1024L, 8)
      .orderBy("uuid", "w_start").collect()
    val rolled = ru.alignedWindows(pts, Seq("uuid"), 0L, 1024L, 8)
      .orderBy("uuid", "w_start").collect()
    assert(direct.length == rolled.length && direct.nonEmpty)
    direct.zip(rolled).foreach { case (d, r) => assert(d == r) }

    // a range delete lands AFTER the streaming-maintained rollup: serving
    // with tombstone invalidation answers the post-delete store truth
    val dv = st.deleteRange("a", 288L, 512L)
    val ptsNow = st.pointsAt(None).select(col("uuid"), col("time").as("t_us"), col("value"))
    val directNow = graft.ts.TimeSeriesOps.alignedWindows(ptsNow, Seq("uuid"), 0L, 1024L, 8)
      .orderBy("uuid", "w_start").collect()
    val rolledNow = ru.alignedWindows(ptsNow, Seq("uuid"), 0L, 1024L, 8,
        invalid = Some(Rollup.tombstoneRanges(st.tombstones.filter(col("ver") === dv))))
      .orderBy("uuid", "w_start").collect()
    assert(directNow.length < direct.length, "delete must remove a window's points")
    assert(rolledNow.length == directNow.length)
    directNow.zip(rolledNow).foreach { case (d, r) => assert(d == r) }
  }

  test("deadband state carries across micro-batches and matches batch result") {
    import graft.streaming.{Deadband, RawPoint}
    val src = tmpDir("db_src")
    val ckpt = tmpDir("db_ckpt")
    // batch 1: s ramps 0.0, 0.05, 0.2, 0.25 — eps=0.1 keeps 0.0, 0.2
    Seq(RawPoint("s", 1, 0.0), RawPoint("s", 2, 0.05), RawPoint("s", 3, 0.2),
      RawPoint("s", 4, 0.25)).toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = Deadband.compress(stream, 0.1).writeStream
      .outputMode("append").format("memory").queryName("db_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // batch 2: 0.28 (within eps of last emitted 0.2 → dropped), 0.35 (kept)
    Seq(RawPoint("s", 5, 0.28), RawPoint("s", 6, 0.35))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT time FROM db_out ORDER BY time")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L, 6L), s"emitted $got")
    // the same function on the full batch Dataset agrees
    val batch = Deadband.compress(
      Seq(RawPoint("s", 1, 0.0), RawPoint("s", 2, 0.05), RawPoint("s", 3, 0.2),
        RawPoint("s", 4, 0.25), RawPoint("s", 5, 0.28), RawPoint("s", 6, 0.35)).toDS(),
      0.1).collect().map(_.time).sorted.toSeq
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("streaming exact dedup flags later arrivals and matches the batch verdicts") {
    import graft.streaming.{DocKey, StreamDedup}
    val src = tmpDir("sd_src")
    val ckpt = tmpDir("sd_ckpt")
    // batch 1: two distinct texts
    Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
    val q = StreamDedup.dedup(StreamDedup.keyed(stream)).writeStream
      .outputMode("append").format("memory").queryName("sd_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // batch 2: a duplicate of doc 1 (different whitespace — normalization
    // must canonicalize) and a fresh doc
    Seq((3L, "alpha   beta"), (4L, "epsilon"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id, keep_id, is_dup FROM sd_out ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((1L, 1L, false), (2L, 2L, false), (3L, 1L, true), (4L, 4L, false)),
      s"got $got")
    // the same function on the full batch Dataset agrees
    val batch = StreamDedup.dedup(StreamDedup.keyed(
        Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha   beta"), (4L, "epsilon"))
          .toDF("doc_id", "text")))
      .collect().map(v => (v.doc_id, v.keep_id, v.is_dup)).sortBy(_._1).toSeq
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("streaming near-dedup matches batch and a sequential LSH reference") {
    import graft.streaming.{BandDoc, BandHit, StreamNearDedup}
    val src = tmpDir("nd_src")
    val ckpt = tmpDir("nd_ckpt")
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    // two micro-batches: the bucket index must persist across them
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
    val outDir = tmpDir("nd_hits")
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      StreamNearDedup.bandHits(StreamNearDedup.keyed(stream)).writeStream
        .outputMode("append").format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
    // RESTART between the chunks (not just two micro-batches of one
    // query): the bucket index must survive through the checkpointed
    // state store, not the driver — parquet sink, the fault-tolerant
    // (and production) path; the memory sink can't recover a checkpoint.
    val q1 = run()
    q1.processAllAvailable()
    q1.stop()
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    val q = run()
    q.processAllAvailable()
    q.stop()
    // CAVEAT: streaming arrival order (evens before odds) is part of the
    // rule — the reference below replays that exact order, and the batch
    // one-shot comparison uses hit doc_ids (order-insensitive per batch
    // since within one call arrivals sort by doc_id)
    val got = spark.read.parquet(outDir)
      .select("doc_id", "band", "match_id", "agree")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // sequential reference: same fold, driver-side, same arrival order
    val fanned = StreamNearDedup.keyed(docs).collect()
      .groupBy(_.doc_id).toSeq
      .sortBy { case (id, _) => (id % 2, id) } // evens (batch 1) then odds
    val index = scala.collection.mutable.Map.empty[(Int, Long), Vector[BandDoc]]
    val ref = scala.collection.mutable.Set.empty[(Long, Int, Long, Double)]
    fanned.foreach { case (id, bds) =>
      bds.sortBy(_.band).foreach { d =>
        val bucket = index.getOrElse((d.band, d.bv), Vector.empty)
        val scored = bucket.map { s =>
          val a = s.sig.zip(d.sig).count { case (x, y) => x == y }.toDouble / d.sig.length
          (a, s.doc_id)
        }
        if (scored.nonEmpty) {
          val (bestA, bestId) = scored.maxBy { case (a, sid) => (a, -sid) }
          if (bestA >= 0.5) { ref += ((id, d.band, bestId, bestA)); }
          else index((d.band, d.bv)) = bucket :+ d
        } else index((d.band, d.bv)) = bucket :+ d
      }
    }
    assert(got == ref.toSet, s"streaming ${got.size} hits, reference ${ref.size}")
    assert(got.nonEmpty, "corpus should contain at least one near-dup band hit")
    // handcrafted: a doc_id-ordered single batch where 2 is a near-copy of
    // 1 and 3 is unrelated — batch run (empty state) flags exactly doc 2
    val tiny = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "entirely different words compose this third document body text"))
      .toDF("doc_id", "text")
    val tinyHits = StreamNearDedup.bandHits(StreamNearDedup.keyed(tiny))
      .collect().map(_.doc_id).toSet
    assert(tinyHits == Set(2L), s"$tinyHits")
    // retention cap: with maxPerBucket = 1 every bucket indexes only its
    // first resident — doc 2 still hits doc 1 (matching is uncapped), and
    // doc 3, arriving after the cap, goes unindexed WITHOUT error; a
    // later near-copy of doc 1 still hits (resident survived the cap)
    val tiny2 = tiny.union(Seq(
      (4L, "the quick brown fox jumps over the lazy dog again and again?"))
      .toDF("doc_id", "text"))
    val capped = StreamNearDedup.bandHits(StreamNearDedup.keyed(tiny2),
        maxPerBucket = 1)
      .collect().map(h => (h.doc_id, h.match_id)).toSet
    assert(capped.nonEmpty && capped.forall { case (d, m) =>
      Set(2L, 4L)(d) && Set(1L, 2L)(m) }, s"$capped")
    // the silent recall trade is observable: craft a full bucket (cap 1,
    // doc 1 indexed) and send doc 9 — unique (agreement 0.25 < 0.5) but
    // over-cap, so it must be counted as non-indexed, not silently lost
    val cappedAcc = spark.sparkContext.longAccumulator("near_dedup_capped")
    val crafted = Seq(
      BandDoc(0, 100, 1L, Seq(1L, 2L, 3L, 4L)),
      BandDoc(0, 100, 9L, Seq(1L, 9L, 8L, 7L))).toDS()
    val craftedHits = StreamNearDedup.bandHits(crafted, minAgree = 0.5,
      maxPerBucket = 1, cappedCounter = Some(cappedAcc)).collect()
    assert(craftedHits.isEmpty, craftedHits.mkString(","))
    assert(cappedAcc.value == 1L, s"capped=${cappedAcc.value}")
  }

  test("streaming near-dedup bands exactly like the batch minhash buckets") {
    import graft.streaming.StreamNearDedup
    import graft.text.Dedup
    // the stream's bucket index keys on the batch band value (64-bit
    // xxhash64 over each band's rows), so a document lands in the same
    // (band, bv) bucket in both — row for row, not just in count
    val sf001 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val docs = Tables.load(spark, sf001, "documents").select("doc_id", "text")
    val streamed = StreamNearDedup.keyed(docs)
      .collect().map(d => (d.doc_id, d.band, d.bv)).toSet
    val batch = Dedup.minhashBuckets(Dedup.minhashBase(docs, 3, 64), 64, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-only ${(streamed -- batch).take(3)}, batch-only ${(batch -- streamed).take(3)}")
  }

  test("streaming ANN probe over chunked arrivals equals the fused batch IVF") {
    import graft.streaming.StreamAnnProbe
    val emb = Tables.load(spark, sfDir, "embeddings")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val fused = key(graft.sim.Vectors.annIvf(emb, 5, 10))
    val idx = graft.sim.IvfIndex.build(
      emb.filter(col("vec_id") >= 5), tmpDir("sann_idx"))
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val src = tmpDir("sann_src")
    val outDir = tmpDir("sann_out")
    // two chunks: per-query results must not depend on batch slicing
    queries.filter(col("vec_id") < 2).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(queries.schema).parquet(src)
    val q = StreamAnnProbe.probe(stream, idx, 10) { (res, _) =>
        res.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", tmpDir("sann_ckpt")).start()
    q.processAllAvailable()
    queries.filter(col("vec_id") >= 2).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = key(spark.read.parquet(outDir))
    assert(got.nonEmpty && got == fused, s"got ${got.size} vs fused ${fused.size}")
  }

  test("streaming FILTERED ANN probe over chunked arrivals equals the fused batch path") {
    import graft.streaming.StreamAnnProbe
    val emb = Tables.load(spark, sfDir, "embeddings")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // the fused batch operator (adaptive probes, pre-filtered lists) is
    // the truth the chunked stream must reproduce exactly
    val fused = key(graft.sim.Vectors.annIvf(emb, 5, 10, lloydIters = 0, byLabel = true))
    val idx = graft.sim.IvfIndex.build(
      emb.filter(col("vec_id") >= 5), tmpDir("sannf_idx"), lloydIters = 0, byLabel = true)
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding", "label")
    val src = tmpDir("sannf_src")
    val outDir = tmpDir("sannf_out")
    queries.filter(col("vec_id") < 2).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(queries.schema).parquet(src)
    val q = StreamAnnProbe.probe(stream, idx, 10) { (res, _) =>
        res.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", tmpDir("sannf_ckpt")).start()
    q.processAllAvailable()
    queries.filter(col("vec_id") >= 2).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = key(spark.read.parquet(outDir))
    assert(got.nonEmpty && got == fused, s"got ${got.size} vs fused ${fused.size}")
  }

  test("streaming ANN probe picks up a rebuilt index without restarting") {
    import graft.streaming.StreamAnnProbe
    val emb = Tables.load(spark, sfDir, "embeddings")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val idxDir = tmpDir("sann2_idx")
    val idx = graft.sim.IvfIndex.build(emb.filter(col("vec_id") >= 5), idxDir)
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val c1 = queries.filter(col("vec_id") < 2)
    val c2 = queries.filter(col("vec_id") >= 2)
    // batch truths per index generation, captured while each is live
    val v1c1 = key(idx.query(c1, 10))
    val v1c2 = key(idx.query(c2, 10))
    val src = tmpDir("sann2_src")
    val outDir = tmpDir("sann2_out")
    c1.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(queries.schema).parquet(src)
    val q = StreamAnnProbe.probe(stream, idx, 10) { (res, batchId) =>
        res.withColumn("probe_batch", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", tmpDir("sann2_ckpt")).start()
    q.processAllAvailable()
    // rebuild IN PLACE on half the corpus, then feed the second chunk:
    // the probe reads the index per micro-batch, so the SAME running
    // query must answer chunk 2 from the v2 index, not a cached v1
    graft.sim.IvfIndex.build(
      emb.filter(col("vec_id") >= 5 && col("vec_id") < 250), idxDir)
    val v2c2 = key(idx.query(c2, 10))
    assert(v2c2 != v1c2, "index generations must answer differently")
    c2.coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    def got(pred: org.apache.spark.sql.Column) =
      key(out.filter(pred).select("q_id", "n_id", "rank", "cos_sim"))
    assert(got(col("probe_batch") === 0) == v1c1)
    assert(got(col("probe_batch") > 0) == v2c2,
      "rebuilt index not visible to the running stream")
  }

  test("streaming shard verdicts match the batch gate composition") {
    import graft.streaming.StreamShard
    val src = tmpDir("ss_src")
    val ckpt = tmpDir("ss_ckpt")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    val mid = docs.agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id)"))
      .head().getDouble(0)
    // id-ordered chunks: batch exact dedup keeps the min doc_id, which is
    // then also the first ARRIVAL — so streaming == batch verdict-for-verdict
    docs.filter(col("doc_id") <= mid).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING").parquet(src)
    val q = StreamShard.verdicts(StreamShard.keyed(stream)).writeStream
      .outputMode("append").format("memory").queryName("ss_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    docs.filter(col("doc_id") > mid).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id, keep FROM ss_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch truth: composed per-gate operators
    val lang = graft.text.TextFunctions.langId(docs)
      .select(col("doc_id"), (col("lang_pred") === "en").as("is_en"))
    val ref = graft.text.TextFunctions.corpusFilter(docs, 0.5)
      .join(lang, "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(4) && r.getBoolean(5))) // corpusFilter keep ∧ is_en
      .toMap
    assert(got.size == ref.size)
    assert(got == ref, {
      val diff = ref.keySet.filter(k => got(k) != ref(k)).take(5)
      s"mismatched docs: $diff"
    })
    assert(got.valuesIterator.count(identity) > 0, "some docs must pass the gate")
  }

  test("streaming sessions close at the watermark and match the batch operator") {
    import graft.streaming.{RawPoint, Sessionize}
    val src = tmpDir("sw_src")
    val ckpt = tmpDir("sw_ckpt")
    // second-scale event times: the watermark tracks milliseconds, so
    // µs-scale test times would never advance it past a session end.
    val S = 1000000L
    // two sessions on stream s (split by a 100s silence > 10s gap), one on t
    Seq(RawPoint("s", 1 * S, 1.0), RawPoint("s", 5 * S, 3.0), RawPoint("t", 3 * S, 7.0))
      .toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = Sessionize.sessions(stream, 10 * S).writeStream
      .outputMode("append").format("memory").queryName("sw_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // batch 2 opens later sessions AND advances the watermark past batch 1's
    Seq(RawPoint("s", 105 * S, 5.0), RawPoint("s", 109 * S, 7.0), RawPoint("t", 300 * S, 9.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT uuid, s_start, s_end, n_events, v_mean, duration_us FROM sw_out " +
          "ORDER BY uuid, s_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    // only sessions the final watermark (300s) has passed are emitted:
    // t's session at 300 (window end 310) is still open and held back
    assert(got == Seq(("s", 1 * S, 5 * S, 2L, 2.0, 4 * S),
      ("s", 105 * S, 109 * S, 2L, 6.0, 4 * S),
      ("t", 3 * S, 3 * S, 1L, 7.0, 0L)), s"got $got")
    // the batch gaps-and-islands operator on ALL data agrees on the closed
    // sessions and additionally sees the one still open in the stream
    val batch = graft.ts.TimeSeriesOps.sessionize(
        Seq(("s", 1 * S, 1.0), ("s", 5 * S, 3.0), ("t", 3 * S, 7.0),
          ("s", 105 * S, 5.0), ("s", 109 * S, 7.0), ("t", 300 * S, 9.0))
          .toDF("uuid", "t_us", "value"), Seq("uuid"), 10 * S)
      .orderBy("uuid", "s_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(batch == got :+ (("t", 300 * S, 300 * S, 1L, 9.0, 0L)),
      s"batch $batch != streaming $got + open session")
  }

  test("streaming counter increases carry state across batches, resets included") {
    import graft.streaming.{CounterRate, RawPoint}
    val src = tmpDir("cr_src")
    val ckpt = tmpDir("cr_ckpt")
    // batch 1: ramp 10 → 14, then a reset to 2
    Seq(RawPoint("s", 1, 10.0), RawPoint("s", 3, 14.0), RawPoint("s", 5, 2.0))
      .toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = CounterRate.increases(stream).writeStream
      .outputMode("append").format("memory").queryName("cr_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // batch 2: continues from the state (last = 2.0 at t=5), not from scratch
    Seq(RawPoint("s", 7, 5.0)).toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT time, inc FROM cr_out ORDER BY time")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // first sample emits nothing; +4; reset→2; cross-batch +3
    assert(got == Seq((3L, 4.0), (5L, 2.0), (7L, 3.0)), s"got $got")
    // the batch operator's per-window sum of the same increases agrees:
    // one [0,10) window, increase = 4 + 2 + 3 = 9 over 3 samples
    val batch = graft.ts.TimeSeriesOps.counterRate(
        Seq(("s", 1L, 10.0), ("s", 3L, 14.0), ("s", 5L, 2.0), ("s", 7L, 5.0))
          .toDF("uuid", "t_us", "value"), Seq("uuid"), 0L, 10L, 10L)
      .collect()
    assert(batch.length == 1 && batch(0).getDouble(2) == 9.0 && batch(0).getLong(4) == 3L)
    assert(got.map(_._2).sum == batch(0).getDouble(2), "streaming incs sum to batch window")
    // the same stream stopped and restarted between the batches: the
    // carried sample comes back from the checkpointed state store (parquet
    // sink — the memory sink cannot recover a checkpoint)
    val src2 = tmpDir("cr_src2")
    val ckpt2 = tmpDir("cr_ckpt2")
    val out2 = tmpDir("cr_out2")
    Seq(RawPoint("s", 1, 10.0), RawPoint("s", 3, 14.0), RawPoint("s", 5, 2.0))
      .toDF().write.mode("append").parquet(src2)
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      CounterRate.increases(spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
          .parquet(src2).as[RawPoint]).writeStream
        .outputMode("append").format("parquet").option("path", out2)
        .option("checkpointLocation", ckpt2).start()
    val q1 = run()
    q1.processAllAvailable()
    q1.stop()
    Seq(RawPoint("s", 7, 5.0)).toDF().coalesce(1).write.mode("append").parquet(src2)
    val q2 = run()
    q2.processAllAvailable()
    q2.stop()
    val restarted = spark.read.parquet(out2).select("time", "inc")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(restarted == got, s"restarted $restarted")
  }

  test("streaming as-of join matches the batch operator across batches") {
    import graft.streaming.{AsofStream, RawPoint}
    val srcL = tmpDir("asof_l")
    val srcR = tmpDir("asof_r")
    // batch 1: duplicate right timestamps at t=2 (last-write-wins → 3.0),
    // a left probe BEFORE any right (t=1 → no match), equal-time
    // visibility (left t=2 sees right t=2), and a key with no probes
    Seq(RawPoint("s", 1, 10.0), RawPoint("s", 2, 20.0), RawPoint("s", 5, 50.0))
      .toDF().write.mode("append").parquet(srcL)
    Seq(RawPoint("s", 2, 1.0), RawPoint("s", 2, 3.0), RawPoint("s", 4, 9.0),
        RawPoint("t", 1, 5.0))
      .toDF().write.mode("append").parquet(srcR)
    val l = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(srcL).as[RawPoint]
    val r = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(srcR).as[RawPoint]
    val q = AsofStream.joined(l, r, toleranceUs = Some(3L)).writeStream
      .outputMode("append").format("memory").queryName("asof_out")
      .option("checkpointLocation", tmpDir("asof_ckpt")).start()
    q.processAllAvailable()
    // later batches, delivered in event-time order across the two file
    // sources (the operator's cross-batch contract): the t=6 probe must
    // see the STATE-carried right (t=4, 9.0); then a new right at t=7;
    // then t=8 matches it and t=12 finds it 5 old → nulled by tolerance
    Seq(RawPoint("s", 6, 60.0)).toDF().coalesce(1).write.mode("append").parquet(srcL)
    q.processAllAvailable()
    Seq(RawPoint("s", 7, 7.0)).toDF().coalesce(1).write.mode("append").parquet(srcR)
    q.processAllAvailable()
    Seq(RawPoint("s", 8, 80.0), RawPoint("s", 12, 90.0))
      .toDF().coalesce(1).write.mode("append").parquet(srcL)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT uuid, time, l_value, asof_value FROM asof_out ORDER BY uuid, time")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == Seq(
      ("s", 1L, 10.0, None), ("s", 2L, 20.0, Some(3.0)), ("s", 5L, 50.0, Some(9.0)),
      ("s", 6L, 60.0, Some(9.0)), ("s", 8L, 80.0, Some(7.0)), ("s", 12L, 90.0, None)),
      s"got $got")
    // the batch as-of over ALL the data agrees row-for-row (right side
    // pre-deduped max-per-timestamp, the same determinism rule)
    val leftAll = Seq(("s", 1L, 10.0), ("s", 2L, 20.0), ("s", 5L, 50.0),
      ("s", 6L, 60.0), ("s", 8L, 80.0), ("s", 12L, 90.0)).toDF("uuid", "t_us", "value")
    val rightAll = Seq(("s", 2L, 1.0), ("s", 2L, 3.0), ("s", 4L, 9.0),
        ("t", 1L, 5.0), ("s", 7L, 7.0)).toDF("uuid", "t_us", "value")
      .groupBy(col("uuid"), col("t_us")).agg(max(col("value")).as("value"))
    val batch = graft.ts.TimeSeriesOps
      .asofJoin(leftAll, rightAll, Seq("uuid"), toleranceUs = Some(3L))
      .orderBy("uuid", "t_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("stream-static anomaly scoring matches the batch operator flag-for-flag") {
    import graft.streaming.{AnomalyScore, RawPoint}
    val history = Seq(RawPoint("s", 1, 0.0), RawPoint("s", 2, 0.0), RawPoint("s", 3, 0.0),
      RawPoint("s", 4, 0.0), RawPoint("s", 5, 100.0), RawPoint("t", 1, 7.0))
    val src = tmpDir("as_src")
    history.toDF().write.mode("append").parquet(src)
    // profile trained offline on the full history
    val stats = graft.ts.TimeSeriesOps.streamStats(history.toDF(), Seq("uuid"))
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = AnomalyScore.score(stream, stats, 2.0).writeStream
      .outputMode("append").format("memory").queryName("as_out")
      .option("checkpointLocation", tmpDir("as_ckpt")).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT uuid, time, value, z_score FROM as_out ORDER BY uuid, time")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // µ-units: mean 2e7, std 4e7 ⇒ z(100) = 2.0; stream t has std 0 → never flagged
    assert(got == Seq(("s", 5L, 100.0, 2.0)), s"got $got")
    // the batch operator over the same history agrees flag-for-flag
    val batch = graft.ts.TimeSeriesOps.anomalies(
        history.toDF().withColumnRenamed("time", "t_us"), Seq("uuid"), 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("streaming holt-winters matches the batch fold window-for-window") {
    import graft.streaming.{Forecast, WindowMean}
    // alternating series split across two micro-batches; one point per
    // window upstream would make v_mean == value, so feed the means
    val src = tmpDir("hw_src")
    val wm = (0 until 10).map(i =>
      WindowMean("s", i * 10L, if (i % 2 == 0) 1.0 else 3.0))
    wm.take(4).toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, w_start LONG, v_mean DOUBLE")
      .parquet(src).as[WindowMean]
    val ckpt = tmpDir("hw_ckpt")
    val outDir = tmpDir("hw_dump")
    def run() = Forecast.holtWinters(stream, 2, 0.5, 0.3, 0.4)
      .writeStream.outputMode("append")
      .foreachBatch { (res: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        res.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckpt).start()
    val q = run()
    q.processAllAvailable()
    // STOP before the second append, RESTART after — the r13 failure was
    // a mid-write micro-batch splitting a multi-part append (window 70
    // picked up a batch late and dropped by the in-order rule); the
    // append is now single-file-atomic AND lands while no query runs,
    // and the restart exercises (level, trend, ring) state recovery from
    // the checkpoint for free (hence the parquet foreachBatch sink — the
    // memory sink cannot resume a checkpoint)
    q.stop()
    wm.drop(4).toDF().coalesce(1).write.mode("append").parquet(src)
    val q2 = run()
    q2.processAllAvailable()
    q2.stop()
    spark.read.parquet(outDir).createOrReplaceTempView("hw_all")
    val got = spark.sql(
        "SELECT w_start, level, trend, seasonal FROM hw_all ORDER BY w_start")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    // the in-order contract held throughout — the drop counter stayed 0
    assert(spark.sql("SELECT max(n_dropped) FROM hw_all")
      .collect().head.getLong(0) == 0L)
    val pts = wm.map(m => ("s", m.w_start + 5L, m.v_mean)).toDF("uuid", "t_us", "value")
    val batch = graft.ts.TimeSeriesOps
      .holtWinters(pts, Seq("uuid"), 0L, 100L, 10L, 2, 0.5, 0.3, 0.4)
      .orderBy("w_start").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got.length == 10 && got == batch, s"stream $got != batch $batch")
    // forecast_next is h=1 of the batch forecast from the same history
    val f1 = graft.ts.TimeSeriesOps
      .holtWintersForecast(pts, Seq("uuid"), 0L, 100L, 10L, 2, 0.5, 0.3, 0.4, 1)
      .collect().map(r => r.getDouble(3)).head
    val lastNext = spark.sql(
        "SELECT forecast_next FROM hw_all ORDER BY w_start DESC LIMIT 1")
      .collect().head.getDouble(0)
    assert(lastNext == f1, s"stream next $lastNext != batch h=1 $f1")
  }

  test("holt-winters drops out-of-order windows LOUDLY (n_dropped counts)") {
    import graft.streaming.{Forecast, WindowMean}
    // windows 0,10,20 in batch 1; batch 2 replays 10 (late duplicate)
    // and plants 5 (out of order) alongside the legitimate 30 — the
    // recurrence must apply only 30, and the drop counter must say 2
    val src = tmpDir("hwd_src")
    Seq(WindowMean("s", 0L, 1.0), WindowMean("s", 10L, 3.0),
        WindowMean("s", 20L, 1.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, w_start LONG, v_mean DOUBLE")
      .parquet(src).as[WindowMean]
    val q = Forecast.holtWinters(stream, 2, 0.5, 0.3, 0.4).writeStream
      .outputMode("append").format("memory").queryName("hwd_out")
      .option("checkpointLocation", tmpDir("hwd_ckpt")).start()
    q.processAllAvailable()
    Seq(WindowMean("s", 10L, 3.0), WindowMean("s", 5L, 9.0),
        WindowMean("s", 30L, 3.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT w_start, n_dropped FROM hwd_out ORDER BY w_start")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // both stragglers sort before 30 inside the batch, so its row
    // already carries the full count; rows 0–20 predate any violation
    assert(got == Seq((0L, 0L), (10L, 0L), (20L, 0L), (30L, 2L)), s"got $got")
    // the applied recurrence skipped the stragglers entirely: the level
    // at w=30 equals the in-order fold over windows {0,10,20,30}
    val pts = Seq(("s", 5L, 1.0), ("s", 15L, 3.0), ("s", 25L, 1.0), ("s", 35L, 3.0))
      .toDF("uuid", "t_us", "value")
    val batch = graft.ts.TimeSeriesOps
      .holtWinters(pts, Seq("uuid"), 0L, 40L, 10L, 2, 0.5, 0.3, 0.4)
      .orderBy("w_start").collect().map(_.getDouble(3)).toSeq
    val lvl = spark.sql("SELECT level FROM hwd_out ORDER BY w_start")
      .collect().map(_.getDouble(0)).toSeq
    assert(lvl == batch, s"stream levels $lvl != batch $batch")
  }

  test("streaming change points match the batch flags one window late") {
    import graft.streaming.{ChangePointMonitor, WindowSum}
    val src = tmpDir("cp_src")
    // stream s: step 1,1,1,10,10,10,1 (one point per window); stream t
    // plants a NEGATIVE HALF-boundary side mean (−2500001/2 µ-units →
    // HALF_UP −1250001, where a toward-+∞ round would give −1250000)
    val ws = (0 until 7).map(i => WindowSum("s", i * 10L,
        if (i < 3) 1000000L else if (i < 6) 10000000L else 1000000L, 1L)) ++
      (0 until 6).map(i => WindowSum("t", i * 10L,
        if (i < 3) -2500001L else 7500000L, if (i < 3) 2L else 1L))
    ws.filter(_.w_start < 40).toDF().write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("uuid STRING, w_start LONG, sum_us LONG, n LONG")
      .parquet(src).as[WindowSum]
    val q = ChangePointMonitor.changePoints(stream, 1, 1000000L).writeStream
      .outputMode("append").format("memory").queryName("cp_out")
      .option("checkpointLocation", tmpDir("cp_ckpt")).start()
    q.processAllAvailable()
    // the step boundary (w=30) is in the first micro-batch but its apex
    // decision needs the successor's score — nothing emits yet
    assert(spark.sql("SELECT count(*) FROM cp_out").collect().head.getLong(0) == 0,
      "apex decisions must wait for one window of lookahead")
    ws.filter(_.w_start >= 40).toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT uuid, w_start, mean_before, mean_after, shift FROM cp_out ORDER BY uuid, w_start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(got == Seq(
      ("s", 30L, 1.0, 10.0, 9.0),
      ("t", 30L, -1.250001, 7.5, 8.750001)), s"got $got")
    // the batch operator over equivalent points agrees flag-for-flag,
    // except its end-of-range decision (next_score NULL → pass) — a
    // stream never ends, the documented deviation
    val pts = ((0 until 7).map(i => ("s", i * 10L + 1L,
        if (i < 3) 1.0 else if (i < 6) 10.0 else 1.0)) ++
      (0 until 6).flatMap { i =>
        if (i < 3) Seq(("t", i * 10L + 1L, -1.25), ("t", i * 10L + 2L, -1.250001))
        else Seq(("t", i * 10L + 1L, 7.5))
      }).toDF("uuid", "t_us", "value").withColumn("ver", lit(1L))
    val batch = graft.ts.TimeSeriesOps
      .changePoints(pts, Seq("uuid"), 0L, 70L, 10L, 1, 1000000L)
      .orderBy("uuid", "w_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(batch == Seq(got.head, ("s", 60L, 10.0, 1.0, -9.0), got.last),
      s"batch $batch vs stream $got")
  }

  test("gap monitor alerts silent streams by timer and closes gaps on resume") {
    import graft.streaming.{GapMonitor, RawPoint}
    val src = tmpDir("gm_src")
    val S = 1000000L // 1 s in µs
    // batch 1: both streams alive at t=1s
    Seq(RawPoint("a", S, 1.0), RawPoint("b", S, 1.0))
      .toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = GapMonitor.monitor(stream, gapUs = 2 * S).writeStream
      .outputMode("append").format("memory").queryName("gm_out")
      .option("checkpointLocation", tmpDir("gm_ckpt")).start()
    q.processAllAvailable()
    // batch 2: only a resumes, at t=10s — closes a's gap AND pushes the
    // watermark past b's silence timer (1s + 2s), firing b's open alert
    // in the no-data timeout pass
    Seq(RawPoint("a", 10 * S, 2.0)).toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    // batch 3: a again — a's second gap (10s→20s) closes; b stays silent
    // but alerted=true suppresses a duplicate open alert
    Seq(RawPoint("a", 20 * S, 3.0)).toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT uuid, silenceStart, resumedAt, open FROM gm_out ORDER BY uuid, silenceStart")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set(
      ("a", S, 10 * S, false),
      ("a", 10 * S, 20 * S, false),
      ("b", S, -1L, true)), s"got $got")
  }

  private def stageAsDir(df: org.apache.spark.sql.DataFrame): String = {
    val d = tmpDir("stage")
    df.write.mode("overwrite").parquet(d)
    d
  }

  test("streaming burn rate equals the batch operator on closed windows") {
    import graft.streaming.{BurnRateMonitor, RawPoint}
    val src = tmpDir("br_src")
    val ckpt = tmpDir("br_ckpt")
    Seq(RawPoint("s", 1, 9.0), RawPoint("s", 2, 1.0), RawPoint("s", 12, 9.0))
      .toDF().write.mode("append").parquet(src)
    val stream = spark.readStream.schema("uuid STRING, time LONG, value DOUBLE")
      .parquet(src).as[RawPoint]
    val q = BurnRateMonitor.burn(stream, widthUs = 10L, badGt = 5.0, slo = 0.9)
      .writeStream.outputMode("append").format("memory").queryName("br_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // second batch adds a window and a far-future flush point that
    // advances the watermark past every real window
    Seq(RawPoint("s", 25, 1.0), RawPoint("s", 1000, 0.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    Seq(RawPoint("s", 2000, 0.0)).toDF().coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT * FROM br_out WHERE w_start < 100 ORDER BY w_start")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    val batch = graft.ts.TimeSeriesOps.burnRate(
        Seq(("s", 1L, 9.0), ("s", 2L, 1.0), ("s", 12L, 9.0), ("s", 25L, 1.0))
          .toDF("uuid", "t_us", "value"), Seq("uuid"), 0L, 30L, Seq(10L),
        col("value") > 5.0, slo = 0.9)
      .orderBy("w_start").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == batch && got.length == 3, s"streaming $got vs batch $batch")
  }

  test("streaming balanced sample is bit-identical to the batch hash cut, any chunking") {
    import graft.streaming.{DocArrival, StreamSample}
    val docs = Tables.load(spark, sfDir, "documents")
    val batch = graft.text.TextFunctions.sampleBalanced(docs, "source", 7)
      .collect().map(r => (r.getString(r.fieldIndex("stratum")),
        r.getLong(r.fieldIndex("doc_id")))).toSet
    def run(tag: String, chunks: Seq[org.apache.spark.sql.DataFrame]): Set[(String, Long)] = {
      val src = tmpDir(s"ss_src_$tag")
      val ckpt = tmpDir(s"ss_ckpt_$tag")
      chunks.head.write.mode("append").parquet(src)
      val stream = spark.readStream.schema("stratum STRING, docId LONG")
        .parquet(src).as[DocArrival]
      val q = StreamSample.balancedSample(stream, 7).writeStream
        .outputMode("update").format("memory").queryName(s"ss_out_$tag")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      chunks.tail.foreach { c =>
        c.coalesce(1).write.mode("append").parquet(src); q.processAllAvailable()
      }
      q.stop()
      // final sample per stratum = the emission at that stratum's max nSeen
      spark.sql(s"""SELECT stratum, docId FROM ss_out_$tag o
        WHERE nSeen = (SELECT max(nSeen) FROM ss_out_$tag i WHERE i.stratum = o.stratum)""")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val arrivals = docs.select(col("source").as("stratum"), col("doc_id").as("docId"))
    val even = arrivals.filter(col("docId") % 2 === 0)
    val odd = arrivals.filter(col("docId") % 2 =!= 0)
    val a = run("fwd", Seq(even, odd))
    val b = run("rev", Seq(odd, even))
    assert(a == batch, s"forward chunking diverged: ${a.size} vs ${batch.size}")
    assert(b == batch, "reversed chunking diverged")
  }

  test("streaming heavy hitters: exact at capacity, bracketed beyond it") {
    import graft.streaming.{ItemEvent, TopK}
    // -- exact regime: capacity covers the item universe ----------------
    val src = tmpDir("hh_src")
    val ckpt = tmpDir("hh_ckpt")
    Seq(("g", 1L, "a"), ("g", 2L, "b"), ("g", 3L, "a"), ("g", 4L, "c"), ("g", 5L, "a"))
      .toDF("group", "time", "item").write.mode("append").parquet(src)
    val stream = spark.readStream.schema("group STRING, time LONG, item STRING")
      .parquet(src).as[ItemEvent]
    val q = TopK.heavyHitters(stream, capacity = 8, k = 3).writeStream
      .outputMode("update").format("memory").queryName("hh_out")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    Seq(("g", 6L, "b"), ("g", 7L, "a"), ("g", 8L, "b"), ("g", 9L, "c"), ("g", 10L, "a"))
      .toDF("group", "time", "item").coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    // the latest summary per group is the emission with max n_seen
    val fin = spark.sql("SELECT item, est, err FROM hh_out WHERE n_seen = 10 ORDER BY est DESC, item")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // capacity ≥ distinct → exact counts, zero error, across batches
    assert(fin == Seq(("a", 5L, 0L), ("b", 3L, 0L), ("c", 2L, 0L)), s"got $fin")

    // -- lossy regime: capacity 2 over a skewed stream ------------------
    val src2 = tmpDir("hh2_src")
    val ckpt2 = tmpDir("hh2_ckpt")
    // a×9, b×5, c/d/e×1 → n=16, n/capacity=8 < 9: 'a' MUST survive
    val evs = (1 to 9).map(i => ("g", i.toLong, "a")) ++
      (10 to 14).map(i => ("g", i.toLong, "b")) ++
      Seq(("g", 15L, "c"), ("g", 16L, "d"), ("g", 17L, "e"))
    evs.take(8).toDF("group", "time", "item").write.mode("append").parquet(src2)
    val stream2 = spark.readStream.schema("group STRING, time LONG, item STRING")
      .parquet(src2).as[ItemEvent]
    val q2 = TopK.heavyHitters(stream2, capacity = 2, k = 2).writeStream
      .outputMode("update").format("memory").queryName("hh2_out")
      .option("checkpointLocation", ckpt2).start()
    q2.processAllAvailable()
    evs.drop(8).toDF("group", "time", "item").coalesce(1).write.mode("append").parquet(src2)
    q2.processAllAvailable()
    q2.stop()
    val truth = evs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val fin2 = spark.sql("SELECT item, est, err FROM hh2_out WHERE n_seen = 17")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fin2.size == 2)
    // the Space-Saving bracket: true ≤ est and est − err ≤ true
    fin2.foreach { case (i, est, err) =>
      val t = truth(i)
      assert(t <= est && est - err <= t, s"item $i: true=$t est=$est err=$err")
    }
    // the guaranteed heavy hitter is present
    assert(fin2.exists(_._1 == "a"), s"heavy item evicted: $fin2")
  }
}
