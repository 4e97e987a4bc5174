package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common._
import graft.ts.{Metadata, TimeSeriesOps => TS}

/** The time-series family: the BTrDB API surface (raw values, aligned
  * and arbitrary windows, versions, changes, nearest, rollups), the
  * analytics built on it, and the four `meta_*` stream-metadata queries.
  */
private[graft] object TsQueries {
  // Epoch-µs constants for the events table (2024-01-01 .. 2024-01-31 UTC).
  private val T0  = 1704067200000000L // 2024-01-01
  private val T08 = 1704672000000000L // 2024-01-08
  private val T15 = 1705276800000000L // 2024-01-15
  private val T20 = 1705708800000000L // 2024-01-20
  private val T22 = 1705881600000000L // 2024-01-22
  private val T29 = 1706486400000000L // 2024-01-29
  private val T31 = 1706659200000000L // 2024-01-31
  private val DAY = 86400000000L
  private val WEEK = 7 * DAY // [T0, T29) is exactly 4 complete weeks
  private val HOUR = 3600000000L
  private val STREAM = Seq("user_id", "event_type")

  // Single source of truth for the SQL mirror of Tables.points/streams —
  // a private copy here would silently diverge if the loader changes.
  private val PTS_SQL = Tables.pointsSql
  private val STREAMS_SQL = Tables.streamsSql

  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- BTrDB API surface (SURVEY §2) -------------------------------
    // Write-path throughput probe: bulk-insert 500k synthetic points for
    // 64 streams through the MVCC store (one all-or-nothing partitioned
    // parquet job — the reference's headline metric is ingest rate), then
    // read back the per-store count at the assigned version. Deterministic
    // output (rows-only driver check); the BENCH timing of this entry IS
    // the ingest+readback rate. Store dir keyed by (sf, pid) like the
    // rollup query so concurrent runs don't race.
    QuerySpec("ts_ingest", (s, dir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_" +
        s"${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val st = graft.ts.Store(s, base)
      val n = 500000L
      st.insertBatch(s.range(n).select(
        concat(lit("ing-"), (col("id") % 64).cast("string")).as("uuid"),
        (lit(T0) + col("id") * 1000L).as("time"),
        (col("id") % 1000).cast("double").as("value")))
      // readback fingerprint per stream: count, time bounds, exact value
      // sum, committed version — the ingest is synthetic, so the DuckDB
      // oracle recomputes the expected visible view from generate_series
      // (no store dir needed) and the hash gates insert + readback e2e
      st.rawPoints.groupBy(col("uuid"))
        .agg(count(lit(1)).as("n_points"),
          min(col("time")).as("t_min"), max(col("time")).as("t_max"),
          sum(col("value").cast("long")).as("v_sum"),
          max(col("ver")).as("ver"))
        .orderBy(col("uuid"))
    },
      // Mirrors the ts_ingest query's synthetic batch — uuid 'ing-'||(id%64),
      // time T0+id*1000, value id%1000 over 500k ids, all committed at
      // version 1 into a fresh store — so the oracle needs no store dir:
      // it recomputes the expected visible view from generate_series and
      // the hash gates the insert + readback path end to end.
      Some(s"""WITH g AS (SELECT unnest(generate_series(0, 499999)) AS id),
         |s AS (SELECT concat('ing-', CAST(id % 64 AS VARCHAR)) AS uuid,
         |             $T0 + id * 1000 AS time, id % 1000 AS v FROM g)
         |SELECT uuid, CAST(count(*) AS BIGINT) AS n_points,
         |       min(time) AS t_min, max(time) AS t_max,
         |       CAST(sum(v) AS BIGINT) AS v_sum,
         |       CAST(1 AS BIGINT) AS ver
         |FROM s GROUP BY uuid ORDER BY uuid""".stripMargin)),

    QuerySpec("ts_raw_values", (s, dir) =>
      TS.rawValues(
          Tables.points(s, dir).filter(col("user_id") === 7 && col("event_type") === "click"),
          STREAM, T08, T22)
        .orderBy(col("t_us")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, t_us, value FROM pts
         |WHERE user_id = 7 AND event_type = 'click' AND t_us >= $T08 AND t_us < $T22
         |ORDER BY t_us""".stripMargin)),

    QuerySpec("ts_aligned_windows", (s, dir) =>
      TS.alignedWindows(Tables.points(s, dir), STREAM, T0, T31, 36)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, (t_us >> 36) << 36 AS w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts WHERE t_us >= $T0 AND t_us < $T31
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_windows", (s, dir) =>
      TS.windows(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type,
         |       $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_windows_at_version", (s, dir) =>
      TS.windows(Tables.points(s, dir).filter(col("ver") <= 500), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type,
         |       $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts WHERE ver <= 500 AND t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type, w_start""".stripMargin)),

    // AlignedWindows served from the materialized rollup hierarchy (the
    // qtree read path), with bounds deliberately unaligned to the serving
    // level so the partial boundary windows exercise the raw fallback —
    // the oracle is the plain direct aggregation, proving the hierarchy
    // answers identically.
    QuerySpec("ts_aligned_rollup", (s, dir) => {
      val pts = Tables.points(s, dir)
      // keyed by data dir AND process: concurrent Verify/Bench runs must
      // not race on one build dir (build() deletes it recursively first).
      // ONE level (30) suffices: pw36 windows re-aggregate 64 level-30
      // rows each (exact — integer micro-unit sums), and building a
      // second materialized level would only burn the benchmark's write
      // budget. Multi-level hierarchies are exercised in RollupSpec.
      val ru = graft.ts.Rollup(s,
        s"${System.getProperty("java.io.tmpdir")}/graft_rollup_" +
          s"${Integer.toHexString(dir.hashCode)}_${ProcessHandle.current().pid()}",
        Seq(30))
      ru.build(pts, STREAM)
      ru.alignedWindows(pts, STREAM, T0 + 12345L, T31 - 98765L, 36)
        .orderBy(col("user_id"), col("event_type"), col("w_start"))
    },
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, (t_us >> 36) << 36 AS w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts WHERE t_us >= ${T0 + 12345L} AND t_us < ${T31 - 98765L}
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_nearest_before", (s, dir) =>
      TS.nearest(Tables.points(s, dir), STREAM, T15, backward = true)
        .orderBy(col("user_id"), col("event_type")),
      // argmax ties (same t_us after ns→µs truncation) resolve to the max
      // value on both sides: Spark max_by(value, (t_us, value)) ≡ this
      // two-level max — bare arg_max would pick by encounter order.
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type, max(t_us) AS t_us
         |      FROM pts WHERE t_us < $T15 GROUP BY 1, 2)
         |SELECT m.user_id AS user_id, m.event_type AS event_type,
         |       m.t_us AS t_us, max(p.value) AS value
         |FROM m JOIN pts p ON p.user_id = m.user_id
         |  AND p.event_type = m.event_type AND p.t_us = m.t_us
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("ts_nearest_after", (s, dir) =>
      TS.nearest(Tables.points(s, dir), STREAM, T15, backward = false)
        .orderBy(col("user_id"), col("event_type")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type, min(t_us) AS t_us
         |      FROM pts WHERE t_us >= $T15 GROUP BY 1, 2)
         |SELECT m.user_id AS user_id, m.event_type AS event_type,
         |       m.t_us AS t_us, min(p.value) AS value
         |FROM m JOIN pts p ON p.user_id = m.user_id
         |  AND p.event_type = m.event_type AND p.t_us = m.t_us
         |GROUP BY 1, 2, 3 ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("ts_changes", (s, dir) =>
      TS.changes(Tables.points(s, dir), STREAM, 100, 700, 32)
        .orderBy(col("user_id"), col("event_type"), col("c_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |ch AS (SELECT DISTINCT user_id, event_type, (t_us >> 32) << 32 AS r_start
         |       FROM pts WHERE ver > 100 AND ver <= 700),
         |ranges AS (SELECT user_id, event_type, r_start, r_start + 4294967296 AS r_end FROM ch),
         |flagged AS (SELECT *, CASE WHEN lag(r_end) OVER w IS NULL OR r_start > lag(r_end) OVER w
         |                           THEN 1 ELSE 0 END AS is_new
         |            FROM ranges WINDOW w AS (PARTITION BY user_id, event_type ORDER BY r_start)),
         |islands AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type ORDER BY r_start
         |                                        ROWS UNBOUNDED PRECEDING) AS island FROM flagged)
         |SELECT user_id, event_type, min(r_start) AS c_start, max(r_end) AS c_end
         |FROM islands GROUP BY user_id, event_type, island
         |ORDER BY user_id, event_type, c_start""".stripMargin)),

    // the changed-ranges workflow end-to-end: stats at toVer for exactly
    // the windows an insert in (fromVer, toVer] touched (the refresh
    // feed for downstream materializations)
    QuerySpec("ts_windows_delta", (s, dir) =>
      TS.windowsDelta(Tables.points(s, dir), STREAM, 100, 700, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.windowsDelta: stats at toVer joined to the
      // delta's distinct (stream, window) set
      Some(s"""WITH pts AS ($PTS_SQL),
         |ch AS (SELECT DISTINCT user_id, event_type,
         |         $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |       FROM pts WHERE ver > 100 AND ver <= 700
         |         AND t_us >= $T0 AND t_us < $T29),
         |base AS (SELECT user_id, event_type,
         |           $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start, value
         |         FROM pts WHERE ver <= 700 AND t_us >= $T0 AND t_us < $T29)
         |SELECT user_id, event_type, w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM base JOIN ch USING (user_id, event_type, w_start)
         |GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_version_at", (s, dir) =>
      TS.rawValues(Tables.points(s, dir).filter(col("ver") <= 500), STREAM, T0, T31)
        .orderBy(col("user_id"), col("event_type"), col("t_us")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, t_us, value FROM pts
         |WHERE ver <= 500 AND t_us >= $T0 AND t_us < $T31
         |ORDER BY user_id, event_type, t_us""".stripMargin)),

    QuerySpec("ts_delete_range", (s, dir) =>
      Tables.points(s, dir)
        .filter(col("user_id") === 3 && col("event_type") === "view")
        .filter(!(col("t_us") >= T08 && col("t_us") < T20))
        .select(col("user_id"), col("event_type"), col("t_us"), col("value"))
        .orderBy(col("t_us")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, t_us, value FROM pts
         |WHERE user_id = 3 AND event_type = 'view'
         |  AND NOT (t_us >= $T08 AND t_us < $T20)
         |ORDER BY t_us""".stripMargin)),

    QuerySpec("ts_stats_global", (s, dir) =>
      TS.statsGlobal(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type, min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count,
         |       min(t_us) AS t_first, max(t_us) AS t_last
         |FROM pts GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("meta_stream_info", (s, dir) =>
      Metadata.streamInfo(Tables.streams(s, dir)).orderBy(col("uuid")),
      Some(s"""WITH s AS ($STREAMS_SQL)
         |SELECT uuid, collection, user_id, n_points, t_min, t_max, version
         |FROM s ORDER BY uuid""".stripMargin)),

    QuerySpec("meta_list_collections", (s, dir) =>
      Metadata.listCollections(Tables.streams(s, dir), "", "", 3),
      Some(s"""WITH s AS ($STREAMS_SQL)
         |SELECT DISTINCT collection FROM s WHERE collection >= ''
         |ORDER BY collection LIMIT 3""".stripMargin)),

    QuerySpec("meta_lookup_streams", (s, dir) =>
      Metadata.lookupStreams(Tables.streams(s, dir), "c", col("user_id") < 8)
        .orderBy(col("uuid")),
      Some(s"""WITH s AS ($STREAMS_SQL)
         |SELECT uuid, collection, user_id, version FROM s
         |WHERE collection LIKE 'c%' AND user_id < 8 ORDER BY uuid""".stripMargin)),

    QuerySpec("meta_usage", (s, dir) =>
      Metadata.metadataUsage(Tables.streams(s, dir), "")
        .orderBy(col("collection")),
      Some(s"""WITH s AS ($STREAMS_SQL)
         |SELECT collection, CAST(count(*) AS BIGINT) AS tag_user_count,
         |       CAST(count(*) AS BIGINT) AS n_streams
         |FROM s GROUP BY collection ORDER BY collection""".stripMargin)),

    // the full GenerateCSV stat contract: 4 columns per stream
    QuerySpec("ts_csv_export", (s, dir) =>
      TS.csvExport(
          Tables.points(s, dir).filter(col("event_type") === "click"),
          Seq(1, 2, 3).map(u => (s"u$u", col("user_id") === u)),
          T0, T29, DAY)
        .orderBy(col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       ${CSV_STAT_SQL("u1", "user_id = 1")},
         |       ${CSV_STAT_SQL("u2", "user_id = 2")},
         |       ${CSV_STAT_SQL("u3", "user_id = 3")}
         |FROM pts
         |WHERE event_type = 'click' AND user_id IN (1, 2, 3) AND t_us >= $T0 AND t_us < $T29
         |GROUP BY 1 ORDER BY w_start""".stripMargin)),

    // GenerateCSV raw mode: one row per timestamp, one value column per stream
    QuerySpec("ts_csv_export_raw", (s, dir) =>
      TS.csvExportRaw(
          Tables.points(s, dir).filter(col("event_type") === "click"),
          Seq(1, 2, 3).map(u => (s"u$u", col("user_id") === u)),
          T0, T29)
        .orderBy(col("t_us")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT t_us,
         |       max(CASE WHEN user_id = 1 THEN value END) AS u1,
         |       max(CASE WHEN user_id = 2 THEN value END) AS u2,
         |       max(CASE WHEN user_id = 3 THEN value END) AS u3
         |FROM pts
         |WHERE event_type = 'click' AND user_id IN (1, 2, 3) AND t_us >= $T0 AND t_us < $T29
         |GROUP BY t_us ORDER BY t_us""".stripMargin)),

    // GenerateCSV raw mode at exact row fidelity: one row per POINT —
    // same-stream duplicate timestamps stay separate rows (csv.go's
    // rawBuffer), paired across streams by occurrence index
    QuerySpec("ts_csv_export_raw_exact", (s, dir) =>
      TS.csvExportRawExact(
          Tables.points(s, dir).filter(col("event_type") === "click"),
          Seq(1, 2, 3).map(u => (s"u$u", col("user_id") === u)),
          T0, T29)
        .orderBy(col("t_us"), col("seq")),
      // mirrors TimeSeriesOps.csvExportRawExact: per-(stream, t_us)
      // occurrence index by ascending value, pivot on (t_us, seq)
      Some(s"""WITH pts AS ($PTS_SQL),
         |e AS (SELECT t_us, user_id, value,
         |             row_number() OVER (PARTITION BY user_id, t_us
         |                                ORDER BY value) AS seq
         |      FROM pts
         |      WHERE event_type = 'click' AND user_id IN (1, 2, 3)
         |        AND t_us >= $T0 AND t_us < $T29)
         |SELECT t_us, CAST(seq AS BIGINT) AS seq,
         |       max(CASE WHEN user_id = 1 THEN value END) AS u1,
         |       max(CASE WHEN user_id = 2 THEN value END) AS u2,
         |       max(CASE WHEN user_id = 3 THEN value END) AS u3
         |FROM e
         |GROUP BY t_us, seq ORDER BY t_us, seq""".stripMargin)),

    // GenerateCSV with per-stream version pinning (csv.go:30-43 `ver`)
    QuerySpec("ts_csv_export_ver", (s, dir) =>
      TS.csvExport(
          Tables.points(s, dir).filter(col("event_type") === "click"),
          Seq(("u1", col("user_id") === 1),
              ("u2", col("user_id") === 2 && col("ver") <= 500L),
              ("u3", col("user_id") === 3 && col("ver") <= 800L)),
          T0, T29, DAY)
        .orderBy(col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       ${CSV_STAT_SQL("u1", "user_id = 1")},
         |       ${CSV_STAT_SQL("u2", "user_id = 2 AND ver <= 500")},
         |       ${CSV_STAT_SQL("u3", "user_id = 3 AND ver <= 800")}
         |FROM pts
         |WHERE event_type = 'click'
         |  AND (user_id = 1 OR (user_id = 2 AND ver <= 500) OR (user_id = 3 AND ver <= 800))
         |  AND t_us >= $T0 AND t_us < $T29
         |GROUP BY 1 ORDER BY w_start""".stripMargin)),

    QuerySpec("ts_delta", (s, dir) =>
      TS.delta(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, event_type, t_us, value,
         |             lag(t_us) OVER w AS prev_t, lag(value) OVER w AS prev_v
         |      FROM pts
         |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t_us, value))
         |SELECT user_id, event_type, t_us, value,
         |       ${Q6("value - prev_v")} AS dv,
         |       t_us - prev_t AS dt_us,
         |       CASE WHEN t_us - prev_t > 0
         |            THEN ${Q6("(value - prev_v) / (t_us - prev_t) * 1e6")} END AS rate_per_s
         |FROM l WHERE prev_t IS NOT NULL
         |ORDER BY user_id, event_type, t_us, value""".stripMargin)),

    // ingest health: inter-arrival gaps in power-of-two buckets
    // (bit-length bucketing — no libm log), bucket 0 = equal-µs ties
    QuerySpec("ts_gap_histogram", (s, dir) =>
      TS.gapHistogram(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type"), col("bucket")),
      // mirrors TimeSeriesOps.gapHistogram: same lag ordering as ts_delta,
      // bit-length buckets (length of the binary string — libm-free)
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, event_type, t_us - lag(t_us) OVER w AS dt
         |      FROM pts
         |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t_us, value)),
         |g AS (SELECT user_id, event_type,
         |             CASE WHEN dt = 0 THEN 0 ELSE length(bin(dt)) END AS bucket, dt
         |      FROM l WHERE dt IS NOT NULL),
         |a AS (SELECT user_id, event_type, bucket, count(*) AS n_gaps,
         |             min(dt) AS dt_min, max(dt) AS dt_max
         |      FROM g GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, CAST(bucket AS BIGINT) AS bucket,
         |       CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS bucket_lo,
         |       CAST(n_gaps AS BIGINT) AS n_gaps, dt_min, dt_max
         |FROM a ORDER BY user_id, event_type, bucket""".stripMargin)),

    QuerySpec("ts_gaps", (s, dir) =>
      TS.gaps(Tables.points(s, dir)
          .filter(!(col("t_us") >= T08 && col("t_us") < T15) || col("user_id") =!= 1),
        STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |f AS (SELECT * FROM pts WHERE NOT (t_us >= $T08 AND t_us < $T15) OR user_id <> 1),
         |s AS (SELECT DISTINCT user_id, event_type FROM f),
         |g AS (SELECT user_id, event_type,
         |             unnest(generate_series($T0, ${T29 - 1}, $DAY)) AS w_start FROM s),
         |o AS (SELECT DISTINCT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |      FROM f WHERE t_us >= $T0 AND t_us < $T29)
         |SELECT g.user_id AS user_id, g.event_type AS event_type, g.w_start AS w_start
         |FROM g ANTI JOIN o ON g.user_id = o.user_id
         |  AND g.event_type = o.event_type AND g.w_start = o.w_start
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // same synthetic outage as ts_gaps, coalesced into [start, end) runs
    QuerySpec("ts_outages", (s, dir) =>
      TS.outages(Tables.points(s, dir)
          .filter(!(col("t_us") >= T08 && col("t_us") < T15) || col("user_id") =!= 1),
        STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("c_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |f AS (SELECT * FROM pts WHERE NOT (t_us >= $T08 AND t_us < $T15) OR user_id <> 1),
         |s AS (SELECT DISTINCT user_id, event_type FROM f),
         |g AS (SELECT user_id, event_type,
         |             unnest(generate_series($T0, ${T29 - 1}, $DAY)) AS w_start FROM s),
         |o AS (SELECT DISTINCT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |      FROM f WHERE t_us >= $T0 AND t_us < $T29),
         |miss AS (SELECT g.user_id AS user_id, g.event_type AS event_type,
         |                g.w_start AS r_start, g.w_start + $DAY AS r_end
         |         FROM g ANTI JOIN o ON g.user_id = o.user_id
         |           AND g.event_type = o.event_type AND g.w_start = o.w_start),
         |flagged AS (SELECT *, CASE WHEN lag(r_end) OVER w IS NULL OR r_start > lag(r_end) OVER w
         |                           THEN 1 ELSE 0 END AS is_new
         |            FROM miss WINDOW w AS (PARTITION BY user_id, event_type ORDER BY r_start)),
         |islands AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type ORDER BY r_start
         |                                        ROWS UNBOUNDED PRECEDING) AS island FROM flagged)
         |SELECT user_id, event_type, min(r_start) AS c_start, max(r_end) AS c_end
         |FROM islands GROUP BY user_id, event_type, island
         |ORDER BY user_id, event_type, c_start""".stripMargin)),

    // the SRE availability report over the same synthetic-outage input
    QuerySpec("ts_reliability", (s, dir) =>
      TS.reliability(Tables.points(s, dir)
          .filter(!(col("t_us") >= T08 && col("t_us") < T15) || col("user_id") =!= 1),
        STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type")),
      // the outages CTE chain plus one aggregate; zero-outage streams come
      // back via the distinct-stream left join with availability 1.0
      Some(s"""WITH pts AS ($PTS_SQL),
         |f AS (SELECT * FROM pts WHERE NOT (t_us >= $T08 AND t_us < $T15) OR user_id <> 1),
         |s AS (SELECT DISTINCT user_id, event_type FROM f),
         |g AS (SELECT user_id, event_type,
         |             unnest(generate_series($T0, ${T29 - 1}, $DAY)) AS w_start FROM s),
         |o AS (SELECT DISTINCT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |      FROM f WHERE t_us >= $T0 AND t_us < $T29),
         |miss AS (SELECT g.user_id AS user_id, g.event_type AS event_type,
         |                g.w_start AS r_start, g.w_start + $DAY AS r_end
         |         FROM g ANTI JOIN o ON g.user_id = o.user_id
         |           AND g.event_type = o.event_type AND g.w_start = o.w_start),
         |flagged AS (SELECT *, CASE WHEN lag(r_end) OVER w IS NULL OR r_start > lag(r_end) OVER w
         |                           THEN 1 ELSE 0 END AS is_new
         |            FROM miss WINDOW w AS (PARTITION BY user_id, event_type ORDER BY r_start)),
         |islands AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type ORDER BY r_start
         |                                        ROWS UNBOUNDED PRECEDING) AS island FROM flagged),
         |co AS (SELECT user_id, event_type, min(r_start) AS c_start, max(r_end) AS c_end
         |       FROM islands GROUP BY user_id, event_type, island),
         |agg AS (SELECT user_id, event_type, count(*) AS n_o, sum(c_end - c_start) AS d_us
         |        FROM co GROUP BY 1, 2)
         |SELECT s.user_id AS user_id, s.event_type AS event_type,
         |       CAST(coalesce(agg.n_o, 0) AS BIGINT) AS n_outages,
         |       CAST(coalesce(agg.d_us, 0) AS BIGINT) AS downtime_us,
         |       CASE WHEN coalesce(agg.n_o, 0) > 0
         |            THEN ${Q6("CAST(agg.d_us AS DOUBLE) / agg.n_o")}
         |            ELSE 0.0 END AS mttr_us,
         |       ${Q6(s"1.0 - CAST(coalesce(agg.d_us, 0) AS DOUBLE) / ${(T29 - T0).toDouble}")}
         |         AS availability
         |FROM s LEFT JOIN agg ON s.user_id = agg.user_id AND s.event_type = agg.event_type
         |ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("ts_cusum", (s, dir) =>
      TS.cusum(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      // mirrors TimeSeriesOps.cusum: rounded integer µ-unit mean per stream,
      // then an EXACT integer prefix sum (HUGEINT ≡ DECIMAL(38,0)) quantized
      // once on emit
      Some(s"""WITH pts AS ($PTS_SQL),
         |u AS (SELECT user_id, event_type, t_us, value, ${US6("value")} AS us FROM pts),
         |st AS (SELECT user_id, event_type,
         |              CAST(round(CAST(sum(us) AS DOUBLE) / count(*), 0) AS BIGINT) AS mean_i
         |       FROM u GROUP BY 1, 2),
         |j AS (SELECT u.user_id AS user_id, u.event_type AS event_type,
         |             u.t_us AS t_us, u.value AS value, u.us - st.mean_i AS dev
         |      FROM u JOIN st ON u.user_id = st.user_id AND u.event_type = st.event_type),
         |c AS (SELECT user_id, event_type, t_us, value,
         |             sum(dev) OVER (PARTITION BY user_id, event_type
         |                            ORDER BY t_us, value
         |                            ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM j)
         |SELECT user_id, event_type, t_us, value,
         |       ${Q6("CAST(cum AS DOUBLE) / 1000000.0")} AS cusum
         |FROM c ORDER BY user_id, event_type, t_us, value""".stripMargin)),

    QuerySpec("ts_asof_join", (s, dir) => {
      val p = Tables.points(s, dir)
      // right side deduped to one value per (key, t): DuckDB's ASOF join
      // semantics are undefined under duplicate right timestamps — both
      // sides agree on last-write-wins = max(value)
      TS.asofJoin(
          p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "purchase")
            .groupBy(col("user_id"), col("t_us")).agg(max(col("value")).as("value")),
          Seq("user_id"))
        .orderBy(col("user_id"), col("t_us"))
    },
      Some(s"""WITH pts AS ($PTS_SQL),
         |c AS (SELECT user_id, t_us, value FROM pts WHERE event_type = 'click'),
         |p AS (SELECT user_id, t_us, max(value) AS value FROM pts
         |      WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT c.user_id AS user_id, c.t_us AS t_us, c.value AS l_value, p.value AS asof_value
         |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t_us >= p.t_us
         |ORDER BY user_id, t_us""".stripMargin)),

    QuerySpec("ts_resample", (s, dir) =>
      TS.resample(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("g_t")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |s AS (SELECT DISTINCT user_id, event_type FROM pts),
         |g AS (SELECT user_id, event_type, unnest(generate_series($T0, ${T29 - 1}, $DAY)) AS g_t FROM s),
         |pb AS (SELECT user_id, event_type, t_us, value,
         |              $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS g_t
         |       FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |b0 AS (SELECT user_id, event_type, g_t, max(t_us) AS mt FROM pb GROUP BY 1, 2, 3),
         |b AS (SELECT pb.user_id, pb.event_type, pb.g_t, max(pb.value) AS last_v
         |      FROM pb JOIN b0 ON pb.user_id = b0.user_id AND pb.event_type = b0.event_type
         |        AND pb.g_t = b0.g_t AND pb.t_us = b0.mt
         |      GROUP BY 1, 2, 3)
         |SELECT g.user_id, g.event_type, g.g_t,
         |       last_value(b.last_v IGNORE NULLS) OVER (PARTITION BY g.user_id, g.event_type
         |           ORDER BY g.g_t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
         |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.event_type = b.event_type AND g.g_t = b.g_t
         |ORDER BY g.user_id, g.event_type, g.g_t""".stripMargin)),

    // as-of with a staleness bound: matches older than 3 days are nulled
    QuerySpec("ts_asof_tolerance", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.asofJoin(
          p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "purchase")
            .groupBy(col("user_id"), col("t_us")).agg(max(col("value")).as("value")),
          Seq("user_id"), toleranceUs = Some(3 * DAY))
        .orderBy(col("user_id"), col("t_us"))
    },
      Some(s"""WITH pts AS ($PTS_SQL),
         |c AS (SELECT user_id, t_us, value FROM pts WHERE event_type = 'click'),
         |p AS (SELECT user_id, t_us, max(value) AS value FROM pts
         |      WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT c.user_id AS user_id, c.t_us AS t_us, c.value AS l_value,
         |       CASE WHEN c.t_us - p.t_us <= ${3 * DAY} THEN p.value END AS asof_value
         |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t_us >= p.t_us
         |ORDER BY user_id, t_us""".stripMargin)),

    // WindowsParams.depth — stat windows at reduced precision (2^30 µs ≈
    // 18-minute buckets assigned wholly to the window of their start)
    QuerySpec("ts_windows_depth", (s, dir) =>
      TS.windowsApprox(Tables.points(s, dir), STREAM, T0, T29, DAY, 30)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |b AS (SELECT user_id, event_type, (t_us >> 30) << 30 AS b,
         |        min(value) AS v_min, max(value) AS v_max,
         |        sum(${US6("value")}) AS v_sum_us, count(*) AS v_count
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3)
         |SELECT user_id, event_type,
         |       $T0 + (greatest(b, $T0) - $T0) - ((greatest(b, $T0) - $T0) % $DAY) AS w_start,
         |       min(v_min) AS v_min,
         |       ${MEAN6("sum(v_sum_us)", "sum(v_count)")} AS v_mean,
         |       max(v_max) AS v_max,
         |       CAST(sum(v_count) AS BIGINT) AS v_count
         |FROM b GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_argminmax", (s, dir) =>
      TS.argMinMax(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // tie determinism mirrors the struct-argmax: a tied min takes its
      // earliest t_us, a tied max its latest
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start, t_us, value
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |x AS (SELECT *,
         |        min(value) OVER (PARTITION BY user_id, event_type, w_start) AS vmin,
         |        max(value) OVER (PARTITION BY user_id, event_type, w_start) AS vmax
         |      FROM w)
         |SELECT user_id, event_type, w_start,
         |       min(value) AS v_min,
         |       min(CASE WHEN value = vmin THEN t_us END) AS t_min,
         |       max(value) AS v_max,
         |       max(CASE WHEN value = vmax THEN t_us END) AS t_max,
         |       CAST(count(*) AS BIGINT) AS v_count
         |FROM x GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // the dashboard-facing name auto-delegates to the bucketed plan when
    // any stream's in-range history exceeds the one-task exact bound; at
    // this SF every stream is far below it, so the oracle replays the
    // exact sequential chain
    QuerySpec("ts_lttb", (s, dir) =>
      graft.ts.Downsample.lttbAuto(Tables.points(s, dir), STREAM, T0, T29, 7)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      Some(lttbSql(7))),

    // the scale-path swap-in: M4 candidates per bucket + sliced prefix
    // count — no stream-wide sort anywhere in the plan
    QuerySpec("ts_lttb_bucketed", (s, dir) =>
      graft.ts.Downsample.lttbBucketed(Tables.points(s, dir), STREAM, T0, T29, 7)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      Some(lttbSql(7, bucketed = true))),

    // SAX symbolization: each stream as one 28-letter word (daily PAA,
    // z-normalized, 4-letter alphabet) — the motif/similarity index
    QuerySpec("ts_sax", (s, dir) =>
      graft.ts.Downsample.sax(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors Downsample.sax: MEAN6-integer PAA bucket means, exact
      // DECIMAL variance numerator (only the final D casts to double),
      // z thresholds on the shared SAX_BREAK literal, sd=0 guard first
      Some {
        val bp = java.lang.Double.toString(graft.ts.Downsample.SAX_BREAK)
        s"""WITH pts AS ($PTS_SQL),
           |b AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
           |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3),
           |s AS (SELECT user_id, event_type, count(*) AS nb, sum(m_us) AS s1,
           |             sum(CAST(m_us AS HUGEINT) * m_us) AS s2
           |      FROM b GROUP BY 1, 2),
           |z AS (SELECT b.user_id, b.event_type, b.w_start, s.nb,
           |        sqrt(CAST(s.nb * s.s2 - CAST(s.s1 AS HUGEINT) * s.s1 AS DOUBLE)) / s.nb AS sd_us,
           |        (CAST(b.m_us AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.nb) AS dev_us
           |      FROM b JOIN s USING (user_id, event_type)),
           |y AS (SELECT user_id, event_type, w_start, nb,
           |        CASE WHEN sd_us = 0 THEN 'c'
           |             WHEN dev_us / sd_us < -$bp THEN 'a'
           |             WHEN dev_us / sd_us < 0 THEN 'b'
           |             WHEN dev_us / sd_us < $bp THEN 'c'
           |             ELSE 'd' END AS sym
           |      FROM z)
           |SELECT user_id, event_type, CAST(max(nb) AS BIGINT) AS n_buckets,
           |       string_agg(sym, '' ORDER BY w_start) AS word
           |FROM y GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin
      }),

    // subsequence motif discovery: top length-4 SAX subwords by
    // occurrence across the fleet (whole words are nearly unique)
    QuerySpec("ts_motifs", (s, dir) =>
      graft.ts.Downsample.motifs(Tables.points(s, dir), STREAM, T0, T29, DAY, 4, 25)
        .orderBy(col("n_occ").desc, col("subword")),
      // mirrors Downsample.motifs: the ts_sax symbol pipeline + w−1 leads
      // (NULL-propagating concat keeps only complete windows), then one
      // count/count-distinct per subword and a total-order top-k
      Some {
        val bp = java.lang.Double.toString(graft.ts.Downsample.SAX_BREAK)
        s"""WITH pts AS ($PTS_SQL),
           |b AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
           |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3),
           |s AS (SELECT user_id, event_type, count(*) AS nb, sum(m_us) AS s1,
           |             sum(CAST(m_us AS HUGEINT) * m_us) AS s2
           |      FROM b GROUP BY 1, 2),
           |z AS (SELECT b.user_id, b.event_type, b.w_start,
           |        sqrt(CAST(s.nb * s.s2 - CAST(s.s1 AS HUGEINT) * s.s1 AS DOUBLE)) / s.nb AS sd_us,
           |        (CAST(b.m_us AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.nb) AS dev_us
           |      FROM b JOIN s USING (user_id, event_type)),
           |y AS (SELECT user_id, event_type, w_start,
           |        CASE WHEN sd_us = 0 THEN 'c'
           |             WHEN dev_us / sd_us < -$bp THEN 'a'
           |             WHEN dev_us / sd_us < 0 THEN 'b'
           |             WHEN dev_us / sd_us < $bp THEN 'c'
           |             ELSE 'd' END AS sym
           |      FROM z),
           |sw AS (SELECT user_id, event_type,
           |         sym || lead(sym, 1) OVER wo || lead(sym, 2) OVER wo
           |             || lead(sym, 3) OVER wo AS subword
           |       FROM y
           |       WINDOW wo AS (PARTITION BY user_id, event_type ORDER BY w_start))
           |SELECT subword, CAST(count(*) AS BIGINT) AS n_occ,
           |       CAST(count(DISTINCT (user_id, event_type)) AS BIGINT) AS n_streams
           |FROM sw WHERE subword IS NOT NULL
           |GROUP BY subword ORDER BY n_occ DESC, subword LIMIT 25""".stripMargin
      }),

    // DTW shape search: warping-tolerant top-10 by exact integer DP over
    // the PAA profiles (the correlation-defeating phase-shift cases)
    QuerySpec("ts_dtw", (s, dir) =>
      graft.ts.Downsample.dtwSimilar(Tables.points(s, dir), STREAM,
          col("user_id") === 7 && col("event_type") === "click",
          T0, T29, DAY, 10)
        .orderBy(col("rank")),
      // mirrors Downsample.dtwSimilar: same MEAN6-integer PAA profiles;
      // the row-sequential DP fold is replayed in its min-plus-scan form
      // (dp[i][j] = S[j] + min_{k≤j}(min(prev[k],prev[k−1]) − S[k−1]),
      // an exact algebraic identity) inside a recursive CTE carrying each
      // DP row as a LIST — all integer arithmetic, so identical cells
      Some {
        s"""WITH RECURSIVE pts AS ($PTS_SQL),
           |m AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
           |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3),
           |prof AS (SELECT user_id, event_type, list(m_us ORDER BY w_start) AS pa
           |         FROM m GROUP BY 1, 2),
           |q AS (SELECT pa AS qa FROM prof WHERE user_id = 7 AND event_type = 'click'),
           |cand AS (SELECT p.user_id, p.event_type, p.pa AS ca, q.qa
           |         FROM prof p CROSS JOIN q
           |         WHERE NOT (p.user_id = 7 AND p.event_type = 'click')),
           |dp AS (
           |  SELECT user_id, event_type, ca, qa, 1 AS i,
           |         list_transform(generate_series(1, len(ca)), j ->
           |           list_sum(list_transform(generate_series(1, j), l -> abs(qa[1] - ca[l])))) AS dpr
           |  FROM cand
           |  UNION ALL
           |  SELECT user_id, event_type, ca, qa, i + 1,
           |         list_transform(generate_series(1, len(ca)), j ->
           |           list_sum(list_transform(generate_series(1, j), l -> abs(qa[i+1] - ca[l])))
           |           + list_min(list_transform(generate_series(1, j), k ->
           |               (CASE WHEN k = 1 THEN dpr[1] ELSE least(dpr[k], dpr[k-1]) END)
           |               - (CASE WHEN k = 1 THEN 0 ELSE list_sum(list_transform(
           |                    generate_series(1, k-1), l -> abs(qa[i+1] - ca[l]))) END))))
           |  FROM dp WHERE i < len(qa)
           |)
           |SELECT user_id, event_type,
           |       CAST(len(ca) AS BIGINT) AS n_buckets,
           |       CAST(CAST(dpr[len(ca)] AS BIGINT) AS DOUBLE) / 1000000.0 + 0 AS dtw,
           |       CAST(row_number() OVER (ORDER BY dpr[len(ca)], user_id, event_type) AS BIGINT) AS rank
           |FROM dp WHERE i = len(qa)
           |ORDER BY dtw, user_id, event_type LIMIT 10""".stripMargin
      }),

    QuerySpec("ts_ewma", (s, dir) =>
      TS.ewma(Tables.points(s, dir), STREAM, T0, T29, DAY, 0.3)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // same fold as the engine's aggregate(): s_1 = m_1, s_t = s_{t-1}·β + m_t·α,
      // coefficients serialized via Double.toString so both engines parse the
      // identical doubles and replay the identical float ops
      Some(s"""WITH RECURSIVE pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        $V_MEAN_SQL
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |n AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                   ORDER BY w_start) AS rn FROM w),
         |rec AS (
         |  SELECT user_id, event_type, w_start, v_mean, rn, v_mean AS ew
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.w_start, n.v_mean, n.rn,
         |         r.ew * $EWMA_B + n.v_mean * $EWMA_A
         |  FROM n JOIN rec r ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.rn = r.rn + 1)
         |SELECT user_id, event_type, w_start, v_mean, ${Q6("ew")} AS ewma
         |FROM rec ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_holt", (s, dir) =>
      TS.holt(Tables.points(s, dir), STREAM, T0, T29, DAY, 0.5, 0.3)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // same fold as the engine's aggregate(): (l_1, b_1) = (m_1, 0);
      // l_t = α·m_t + (1−α)·(l+b); b_t = β·(l_t − l) + (1−β)·b
      Some(s"""WITH RECURSIVE pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        $V_MEAN_SQL
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |n AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                   ORDER BY w_start) AS rn FROM w),
         |rec AS (
         |  SELECT user_id, event_type, w_start, v_mean, rn,
         |         v_mean AS l, CAST(0.0 AS DOUBLE) AS b
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.w_start, n.v_mean, n.rn,
         |         $HOLT_LNEW AS l,
         |         $HOLT_B * (($HOLT_LNEW) - r.l) + $HOLT_IB * r.b AS b
         |  FROM n JOIN rec r ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.rn = r.rn + 1)
         |SELECT user_id, event_type, w_start, v_mean,
         |       ${Q6("l")} AS level, ${Q6("b")} AS trend
         |FROM rec ORDER BY user_id, event_type, w_start""".stripMargin)),

    // Holt-Winters additive: level + trend + weekly seasonal (period 7
    // day-windows) — the seasonal forecaster over the same bounded
    // window-mean series as holt
    QuerySpec("ts_holtwinters", (s, dir) =>
      TS.holtWinters(Tables.points(s, dir), STREAM, T0, T29, DAY, 7, 0.5, 0.3, 0.4)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // Holt-Winters: the holt recursion + a seasonal LIST carried through
      // the recursive CTE (ring[rn - p] replays element_at(acc, -p).s)
      Some(s"""WITH RECURSIVE pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        $V_MEAN_SQL
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |n AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                   ORDER BY w_start) AS rn FROM w),
         |rec AS (
         |  SELECT user_id, event_type, w_start, v_mean, rn,
         |         v_mean AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s,
         |         [CAST(0.0 AS DOUBLE)] AS ring
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.w_start, n.v_mean, n.rn,
         |         $HW_LNEW AS l,
         |         $HW_B * (($HW_LNEW) - r.l) + $HW_IB * r.b AS b,
         |         $HW_SNEW AS s,
         |         list_append(r.ring, $HW_SNEW) AS ring
         |  FROM n JOIN rec r ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.rn = r.rn + 1)
         |SELECT user_id, event_type, w_start, v_mean,
         |       ${Q6("l")} AS level, ${Q6("b")} AS trend, ${Q6("s")} AS seasonal
         |FROM rec ORDER BY user_id, event_type, w_start""".stripMargin)),

    // rolling-origin backtest: the model's own one-step forecasts vs the
    // realized means — MAE / bias / RMSE per stream
    QuerySpec("ts_forecast_eval", (s, dir) =>
      TS.holtWintersBacktest(Tables.points(s, dir), STREAM, T0, T29, DAY,
          7, 0.5, 0.3, 0.4)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.holtWintersBacktest: the hw recursion's
      // QUANTIZED emissions feed the same lag/lead forecast assembly;
      // µ-unit errors, order-free sums, the same RMSE expression
      Some(s"""WITH RECURSIVE pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        $V_MEAN_SQL
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |n AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                   ORDER BY w_start) AS rn FROM w),
         |rec AS (
         |  SELECT user_id, event_type, w_start, v_mean, rn,
         |         v_mean AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s,
         |         [CAST(0.0 AS DOUBLE)] AS ring
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.w_start, n.v_mean, n.rn,
         |         $HW_LNEW AS l,
         |         $HW_B * (($HW_LNEW) - r.l) + $HW_IB * r.b AS b,
         |         $HW_SNEW AS s,
         |         list_append(r.ring, $HW_SNEW) AS ring
         |  FROM n JOIN rec r ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.rn = r.rn + 1),
         |hwq AS (SELECT user_id, event_type, w_start, v_mean,
         |               ${Q6("l")} AS level, ${Q6("b")} AS trend, ${Q6("s")} AS seasonal
         |        FROM rec),
         |fe AS (SELECT user_id, event_type,
         |         ${US6(s"""lead(v_mean, 1) OVER wo -
               |           (level + trend + coalesce(lag(seasonal, ${HW_P - 1}) OVER wo,
               |                                     CAST(0.0 AS DOUBLE)))""".stripMargin)} AS err_us
         |       FROM hwq
         |       WINDOW wo AS (PARTITION BY user_id, event_type ORDER BY w_start))
         |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_evals,
         |       ${MEAN6("sum(abs(err_us))", "count(*)")} AS mae,
         |       ${MEAN6("sum(err_us)", "count(*)")} AS bias,
         |       ${Q6("sqrt(CAST(sum(CAST(err_us AS HUGEINT) * err_us) AS DOUBLE) / count(*)) / 1000000.0")} AS rmse
         |FROM fe WHERE err_us IS NOT NULL
         |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    // the "next week" serving query: h-step projections from the final
    // Holt-Winters state — no extra pass over points
    QuerySpec("ts_forecast", (s, dir) =>
      TS.holtWintersForecast(Tables.points(s, dir), STREAM, T0, T29, DAY,
          7, 0.5, 0.3, 0.4, 7)
        .orderBy(col("user_id"), col("event_type"), col("h")),
      // forecast: the last rec row per stream carries (l, b, ring); the
      // horizon explodes from generate_series with the identical seasonal
      // index arithmetic (n − p + ((h−1) mod p), 1-based into the ring)
      Some(s"""WITH RECURSIVE pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        $V_MEAN_SQL
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |n AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                   ORDER BY w_start) AS rn FROM w),
         |rec AS (
         |  SELECT user_id, event_type, w_start, v_mean, rn,
         |         v_mean AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s,
         |         [CAST(0.0 AS DOUBLE)] AS ring
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.w_start, n.v_mean, n.rn,
         |         $HW_LNEW AS l,
         |         $HW_B * (($HW_LNEW) - r.l) + $HW_IB * r.b AS b,
         |         $HW_SNEW AS s,
         |         list_append(r.ring, $HW_SNEW) AS ring
         |  FROM n JOIN rec r ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.rn = r.rn + 1),
         |lastrow AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
         |                                         ORDER BY rn DESC) AS rr FROM rec),
         |f AS (SELECT user_id, event_type, w_start AS last_w, l, b, ring, rn AS n
         |      FROM lastrow WHERE rr = 1),
         |hs AS (SELECT unnest(generate_series(1, 7)) AS h)
         |SELECT user_id, event_type, CAST(h AS BIGINT) AS h,
         |       last_w + CAST(h AS BIGINT) * $DAY AS w_start,
         |       ${Q6(s"""l + CAST(h AS DOUBLE) * b +
               |         CASE WHEN n - $HW_P + ((h - 1) % $HW_P) >= 0
               |              THEN ring[n - $HW_P + ((h - 1) % $HW_P) + 1]
               |              ELSE CAST(0.0 AS DOUBLE) END""".stripMargin)} AS forecast
         |FROM f CROSS JOIN hs ORDER BY user_id, event_type, h""".stripMargin)),

    QuerySpec("ts_interpolate", (s, dir) =>
      TS.interpolate(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("g_t")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |p0 AS (SELECT user_id, event_type, t_us AS t, max(value) AS value, 0 AS is_grid
         |       FROM pts GROUP BY 1, 2, 3),
         |s AS (SELECT DISTINCT user_id, event_type FROM pts),
         |g AS (SELECT user_id, event_type,
         |             unnest(generate_series($T0, ${T29 - 1}, $DAY)) AS t,
         |             CAST(NULL AS DOUBLE) AS value, 1 AS is_grid FROM s),
         |u AS (SELECT * FROM p0 UNION ALL SELECT * FROM g),
         |m AS (SELECT *,
         |        last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
         |          OVER wp AS pt,
         |        last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
         |          OVER wp AS pv,
         |        first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
         |          OVER wn AS nt,
         |        first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
         |          OVER wn AS nv
         |      FROM u
         |      WINDOW wp AS (PARTITION BY user_id, event_type ORDER BY t, is_grid
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |             wn AS (PARTITION BY user_id, event_type ORDER BY t, is_grid
         |                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         |SELECT user_id, event_type, t AS g_t,
         |       ${Q6("CASE WHEN pt = t THEN pv ELSE pv + (nv - pv) * " +
                "(CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END")} AS v_interp
         |FROM m WHERE is_grid = 1
         |ORDER BY user_id, event_type, g_t""".stripMargin)),

    QuerySpec("ts_histogram", (s, dir) =>
      TS.histogram(Tables.points(s, dir), STREAM, T0, T29, DAY, 50.0)
        .orderBy(col("user_id"), col("event_type"), col("w_start"), col("bin")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type,
         |       $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       CAST(floor(value / 50.0) AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2, 3, 4 ORDER BY user_id, event_type, w_start, bin""".stripMargin)),

    // the PromQL histogram_quantile estimator over the binned counts —
    // the answer when only buckets survive (ts_percentile is the exact
    // raw-rank answer; the spread between them is the binning error)
    QuerySpec("ts_histogram_quantile", (s, dir) =>
      TS.histogramQuantile(Tables.points(s, dir), STREAM, T0, T29, DAY, 50.0,
          Seq(0.5, 0.9))
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.histogramQuantile: cumulative bin counts,
      // first-bin-reaching-rank selection, uniform within-bin interpolation
      Some {
        def est(p: String) =
          s"""max(CASE WHEN CAST(cum - n AS DOUBLE) < $p * CAST(total AS DOUBLE)
             |           AND $p * CAST(total AS DOUBLE) <= CAST(cum AS DOUBLE)
             |         THEN CAST(bin AS DOUBLE) * 50.0
             |              + 50.0 * ($p * CAST(total AS DOUBLE) - CAST(cum - n AS DOUBLE))
             |                / CAST(n AS DOUBLE) END)""".stripMargin
        s"""WITH pts AS ($PTS_SQL),
           |h AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
           |        CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3, 4),
           |c AS (SELECT *,
           |        sum(n) OVER (PARTITION BY user_id, event_type, w_start
           |                     ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
           |        sum(n) OVER (PARTITION BY user_id, event_type, w_start) AS total
           |      FROM h)
           |SELECT user_id, event_type, w_start, CAST(max(total) AS BIGINT) AS n_points,
           |       ${Q6(est("0.5"))} AS p50_est,
           |       ${Q6(est("0.9"))} AS p90_est
           |FROM c GROUP BY 1, 2, 3
           |ORDER BY user_id, event_type, w_start""".stripMargin
      }),

    // fleet-wide (time, value-bin) density — the Grafana-heatmap query;
    // histogram with an EMPTY stream key (same operator, fleet scope)
    QuerySpec("ts_heatmap", (s, dir) =>
      TS.histogram(Tables.points(s, dir), Seq.empty, T0, T29, DAY, 50.0)
        .orderBy(col("w_start"), col("bin")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       CAST(floor(value / 50.0) AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2 ORDER BY w_start, bin""".stripMargin)),

    // weekly-seasonality fingerprint: per-stream (day-of-week, hour-of-day)
    // profile over exactly 4 complete weeks — one pass, pure integer phase
    // arithmetic (T0 is a Monday, so dow 0 = Monday)
    QuerySpec("ts_calendar", (s, dir) =>
      TS.calendarProfile(Tables.points(s, dir), STREAM, T0, T29)
        .orderBy(col("user_id"), col("event_type"), col("dow"), col("hour")),
      // mirrors calendarProfile's pure-integer phase arithmetic: dow/hour
      // from epoch-µs offsets against the Monday-aligned T0, no calendar fn
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type,
         |       ((t_us - $T0) // $DAY) % 7 AS dow,
         |       ((t_us - $T0) % $DAY) // $HOUR AS hour,
         |       CAST(count(*) AS BIGINT) AS n, $V_MEAN_SQL,
         |       min(value) AS v_min, max(value) AS v_max
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2, 3, 4 ORDER BY user_id, event_type, dow, hour""".stripMargin)),

    QuerySpec("ts_counter_rate", (s, dir) =>
      TS.counterRate(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, event_type, t_us, value,
         |             lag(value) OVER (PARTITION BY user_id, event_type
         |                              ORDER BY t_us, value) AS prev_v
         |      FROM pts),
         |i AS (SELECT user_id, event_type, t_us,
         |             CASE WHEN prev_v IS NULL THEN NULL
         |                  WHEN value >= prev_v THEN value - prev_v
         |                  ELSE value END AS inc
         |      FROM l WHERE t_us >= $T0 AND t_us < $T29)
         |SELECT user_id, event_type,
         |       $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       CAST(sum(${US6("inc")}) AS DOUBLE) / 1000000.0 + 0 AS increase,
         |       ${Q6(s"CAST(sum(${US6("inc")}) AS DOUBLE) / 1000000.0 / 86400")} AS rate_per_s,
         |       CAST(count(inc) AS BIGINT) AS n_samples
         |FROM i GROUP BY 1, 2, 3 ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_sessionize", (s, dir) =>
      TS.sessionize(Tables.points(s, dir), STREAM, 2 * DAY)
        .orderBy(col("user_id"), col("event_type"), col("s_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, event_type, t_us, value, lag(t_us) OVER w AS prev_t
         |      FROM pts WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t_us, value)),
         |f AS (SELECT *, CASE WHEN prev_t IS NULL OR t_us - prev_t > ${2 * DAY}
         |                     THEN 1 ELSE 0 END AS is_new FROM l),
         |i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type
         |                                  ORDER BY t_us, value
         |                                  ROWS UNBOUNDED PRECEDING) AS session FROM f)
         |SELECT user_id, event_type, min(t_us) AS s_start, max(t_us) AS s_end,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${MEAN6(s"sum(${US6("value")})", "count(*)")} AS v_mean,
         |       max(t_us) - min(t_us) AS duration_us
         |FROM i GROUP BY user_id, event_type, session
         |ORDER BY user_id, event_type, s_start""".stripMargin)),

    QuerySpec("ts_m4", (s, dir) =>
      TS.m4(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // first/last tie rule mirrors the (t, value) struct order: first takes
      // the smaller value at the earliest t, last the larger at the latest
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start, t_us, value
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |x AS (SELECT *,
         |        min(t_us) OVER (PARTITION BY user_id, event_type, w_start) AS tf,
         |        max(t_us) OVER (PARTITION BY user_id, event_type, w_start) AS tl
         |      FROM w)
         |SELECT user_id, event_type, w_start,
         |       min(CASE WHEN t_us = tf THEN value END) AS v_first,
         |       min(value) AS v_min, max(value) AS v_max,
         |       max(CASE WHEN t_us = tl THEN value END) AS v_last,
         |       min(t_us) AS t_first, max(t_us) AS t_last,
         |       CAST(count(*) AS BIGINT) AS v_count
         |FROM x GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // interval-containment join: purchases inside the same user's click
    // sessions — intervals explode to grid buckets + hash join, never a
    // range nested-loop (plan-shape-spec'd)
    QuerySpec("ts_interval_join", (s, dir) => {
      val p = Tables.points(s, dir)
      val sessions = TS.sessionize(p.filter(col("event_type") === "click"),
          Seq("user_id"), 2 * DAY)
        .select(col("user_id"), col("s_start"), col("s_end"), col("n_events"))
      val purchases = p.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value"))
      TS.intervalJoin(purchases, sessions, Seq("user_id"), "s_start", "s_end", 2 * DAY)
        .orderBy(col("user_id"), col("t_us"), col("value"), col("s_start"))
    },
      // mirrors TimeSeriesOps.intervalJoin's SEMANTICS through a different
      // plan: the oracle runs the raw range join (DuckDB handles the
      // inequality directly), the engine the bucketed hash join — row-set
      // equality proves the bucket cover is exact, boundaries inclusive
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, t_us, value, lag(t_us) OVER w AS prev_t
         |      FROM pts WHERE event_type = 'click'
         |      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, value)),
         |f AS (SELECT *, CASE WHEN prev_t IS NULL OR t_us - prev_t > ${2 * DAY}
         |                     THEN 1 ELSE 0 END AS is_new FROM l),
         |i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
         |                                  ORDER BY t_us, value
         |                                  ROWS UNBOUNDED PRECEDING) AS session FROM f),
         |ses AS (SELECT user_id, min(t_us) AS s_start, max(t_us) AS s_end,
         |          CAST(count(*) AS BIGINT) AS n_events
         |        FROM i GROUP BY user_id, session)
         |SELECT p.user_id, p.t_us, p.value, s.s_start, s.s_end, s.n_events
         |FROM (SELECT user_id, t_us, value FROM pts WHERE event_type = 'purchase') p
         |JOIN ses s ON p.user_id = s.user_id
         |          AND p.t_us BETWEEN s.s_start AND s.s_end
         |ORDER BY p.user_id, p.t_us, p.value, s.s_start""".stripMargin)),

    // cross-stream aggregation: the SAME windows() plan keyed by collection
    // instead of stream — the composite stream key generalizes BTrDB's
    // per-uuid queries to cross-sectional rollups in one pass
    QuerySpec("ts_collection_windows", (s, dir) =>
      TS.windows(Tables.points(s, dir), Seq("event_type"), T0, T29, DAY)
        .orderBy(col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT event_type,
         |       $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       min(value) AS v_min, $V_MEAN_SQL,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2 ORDER BY event_type, w_start""".stripMargin)),

    // top series by volume — the cardinality/volume admin query; a
    // TakeOrdered over the per-stream root StatPoints
    QuerySpec("ts_top_streams", (s, dir) =>
      TS.statsGlobal(Tables.points(s, dir), STREAM)
        .orderBy(col("v_count").desc, col("user_id"), col("event_type"))
        .limit(20),
      Some(s"""WITH pts AS ($PTS_SQL),
         |s AS (SELECT user_id, event_type, min(value) AS v_min, $V_MEAN_SQL,
         |             max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count,
         |             min(t_us) AS t_first, max(t_us) AS t_last
         |      FROM pts GROUP BY 1, 2)
         |SELECT * FROM s ORDER BY v_count DESC, user_id, event_type LIMIT 20""".stripMargin)),

    QuerySpec("ts_coverage", (s, dir) =>
      TS.coverage(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT user_id, event_type,
         |       CAST(count(DISTINCT $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY)) AS BIGINT)
         |         AS n_occupied,
         |       CAST(28 AS BIGINT) AS n_windows,
         |       ${Q6(s"CAST(count(DISTINCT $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY)) AS DOUBLE) / 28.0")}
         |         AS coverage
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("ts_rolling", (s, dir) =>
      TS.rolling(Tables.points(s, dir), STREAM, T0, T29, DAY, 7)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |b AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        min(value) AS v_min, max(value) AS v_max,
         |        sum(${US6("value")}) AS v_sum_us, count(*) AS v_count
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, w_start,
         |       ${MEAN6("v_sum_us", "v_count")} AS v_mean,
         |       ${MEAN6("sum(v_sum_us) OVER w", "sum(v_count) OVER w")} AS roll_mean,
         |       min(v_min) OVER w AS roll_min,
         |       max(v_max) OVER w AS roll_max,
         |       CAST(count(*) OVER w AS BIGINT) AS n_windows
         |FROM b
         |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY w_start
         |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // per-point JSON property facets: codegen extraction + one
    // map-side-partial groupBy (the semi-structured analytics path)
    QuerySpec("ts_facets", (s, dir) =>
      TS.propsFacets(Tables.load(s, dir, "events"), Seq("event_type"))
        .orderBy(col("event_type"), col("facet")),
      Some(s"""SELECT event_type,
         |       CAST(json_extract_string(props, '$$.k') AS BIGINT) AS facet,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Bollinger envelope: trailing-week mean ± 2σ from exact decimal
    // moment sums re-aggregated over the frame
    QuerySpec("ts_band", (s, dir) =>
      TS.bollingerBands(Tables.points(s, dir), STREAM, T0, T29, DAY, 7, 2.0)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // bands: the rolling frame over per-window HUGEINT moments; variance
      // numerator exact, one float expression per band (the stddev rule)
      Some(s"""WITH pts AS ($PTS_SQL),
         |b AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        sum(${US6("value")}) AS s1,
         |        sum(CAST(${US6("value")} AS HUGEINT) * ${US6("value")}) AS s2,
         |        count(*) AS n
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |r AS (SELECT user_id, event_type, w_start,
         |        sum(CAST(s1 AS HUGEINT)) OVER w AS rs1,
         |        sum(s2) OVER w AS rs2,
         |        sum(n) OVER w AS rn
         |      FROM b
         |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_type, w_start,
         |       ${MEAN6("rs1", "rn")} AS roll_mean,
         |       ${Q6("(CAST(rs1 AS DOUBLE) / rn - 2.0 * (sqrt(CAST(rn * rs2 - rs1 * rs1 AS DOUBLE)) / rn)) / 1000000.0")} AS band_lo,
         |       ${Q6("(CAST(rs1 AS DOUBLE) / rn + 2.0 * (sqrt(CAST(rn * rs2 - rs1 * rs1 AS DOUBLE)) / rn)) / 1000000.0")} AS band_hi,
         |       CAST(rn AS BIGINT) AS n_pts
         |FROM r ORDER BY user_id, event_type, w_start""".stripMargin)),

    // peak extraction: windows strictly above both k-window shoulders
    // with ≥5.0 prominence (integer µ-unit comparisons end to end)
    QuerySpec("ts_peaks", (s, dir) =>
      TS.peaks(Tables.points(s, dir), STREAM, T0, T29, DAY, 2, 5000000L)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.peaks: rounded-integer window means, full
      // k-window shoulders on both sides, strict dominance + prominence
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us,
         |        count(*) AS n_points
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |x AS (SELECT *,
         |        max(m_us) OVER wl AS l_max, max(m_us) OVER wr AS r_max,
         |        count(*) OVER wl AS l_n, count(*) OVER wr AS r_n
         |      FROM m
         |      WINDOW wl AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                    ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
         |             wr AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                    ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING))
         |SELECT user_id, event_type, w_start,
         |       CAST(m_us AS DOUBLE) / 1000000.0 + 0 AS v_mean,
         |       CAST(m_us - greatest(l_max, r_max) AS DOUBLE) / 1000000.0 + 0 AS prominence,
         |       CAST(n_points AS BIGINT) AS n_points
         |FROM x
         |WHERE l_n = 2 AND r_n = 2 AND m_us > l_max AND m_us > r_max
         |  AND m_us - greatest(l_max, r_max) >= 5000000
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // offline mean-shift change points: |next-k mean − prev-k mean| ≥ 15.0
    // at the local apex of the score series
    QuerySpec("ts_changepoint", (s, dir) =>
      TS.changePoints(Tables.points(s, dir), STREAM, T0, T29, DAY, 3, 15000000L)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.changePoints: exact µ-unit side sums →
      // rounded-integer side means, |shift| threshold + half-open apex rule
      Some(s"""WITH pts AS ($PTS_SQL),
         |b AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        sum(${US6("value")}) AS sum_us, count(*) AS n
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |s AS (SELECT *,
         |        count(*) OVER wl AS l_cnt, count(*) OVER wr AS r_cnt,
         |        CAST(round(CAST(sum(sum_us) OVER wl AS DOUBLE) / sum(n) OVER wl, 0) AS BIGINT) AS l_mean_us,
         |        CAST(round(CAST(sum(sum_us) OVER wr AS DOUBLE) / sum(n) OVER wr, 0) AS BIGINT) AS r_mean_us
         |      FROM b
         |      WINDOW wl AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         |             wr AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                    ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)),
         |sc AS (SELECT *,
         |        CASE WHEN l_cnt = 3 AND r_cnt = 3 THEN abs(r_mean_us - l_mean_us) END AS score,
         |        lag(CASE WHEN l_cnt = 3 AND r_cnt = 3 THEN abs(r_mean_us - l_mean_us) END)
         |          OVER wo AS prev_score,
         |        lead(CASE WHEN l_cnt = 3 AND r_cnt = 3 THEN abs(r_mean_us - l_mean_us) END)
         |          OVER wo AS next_score
         |       FROM s
         |       WINDOW wo AS (PARTITION BY user_id, event_type ORDER BY w_start))
         |SELECT user_id, event_type, w_start,
         |       CAST(l_mean_us AS DOUBLE) / 1000000.0 + 0 AS mean_before,
         |       CAST(r_mean_us AS DOUBLE) / 1000000.0 + 0 AS mean_after,
         |       CAST(r_mean_us - l_mean_us AS DOUBLE) / 1000000.0 + 0 AS shift
         |FROM sc
         |WHERE score IS NOT NULL AND score >= 15000000
         |  AND (prev_score IS NULL OR score > prev_score)
         |  AND (next_score IS NULL OR score >= next_score)
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // capacity forecast: one LSQ line per stream + the projected
    // threshold-crossing time within a 1-year horizon (the "disk full
    // in N days" SRE query)
    QuerySpec("ts_capacity", (s, dir) =>
      TS.capacityForecast(Tables.points(s, dir), STREAM, T0, T29, 60.0, 365L * DAY)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.capacityForecast: exact HUGEINT moments per
      // stream, one shared slope/intercept float assembly, the horizon
      // guard applied on the raw double BEFORE the BIGINT cast
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type, count(*) AS n,
         |        sum(CAST(t_us - $T0 AS HUGEINT)) AS st,
         |        sum(CAST(${US6("value")} AS HUGEINT)) AS sv,
         |        sum(CAST(t_us - $T0 AS HUGEINT) * (t_us - $T0)) AS stt,
         |        sum(CAST(t_us - $T0 AS HUGEINT) * ${US6("value")}) AS stv
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |x AS (SELECT *, n * stv - st * sv AS num, n * stt - st * st AS den FROM m),
         |y AS (SELECT *,
         |        CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope,
         |        (CAST(sv AS DOUBLE)
         |         - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * CAST(st AS DOUBLE))
         |          / CAST(n AS DOUBLE) AS icept
         |      FROM x)
         |SELECT user_id, event_type, CAST(n AS BIGINT) AS n_points,
         |       CASE WHEN den > 0 THEN ${Q6("slope")} END AS slope_per_s,
         |       CASE WHEN den > 0 THEN ${Q6("icept / 1000000.0")} END AS intercept,
         |       CASE WHEN den > 0 AND slope > 0 AND icept < 60000000.0
         |             AND (60000000.0 - icept) / slope < 31536000000000.0
         |            THEN $T0 + CAST(round((60000000.0 - icept) / slope, 0) AS BIGINT)
         |       END AS t_cross_us
         |FROM y ORDER BY user_id, event_type""".stripMargin)),

    // multi-window SLO burn rate: day + week windows in one scan, bad =
    // value > 150 (~p95 of this corpus), SLO 0.95 → budget 0.05
    QuerySpec("ts_burnrate", (s, dir) =>
      TS.burnRate(Tables.points(s, dir), STREAM, T0, T29, Seq(DAY, WEEK),
          col("value") > 150, 0.95)
        .orderBy(col("user_id"), col("event_type"), col("width_us"), col("w_start")),
      // mirrors TimeSeriesOps.burnRate: widths unnested onto one scan,
      // per-width complete-window cutoffs, exact counts, two float
      // divisions replayed in the same order
      Some(s"""WITH pts AS ($PTS_SQL),
         |e AS (SELECT user_id, event_type, t_us, value, w.width_us AS width_us
         |      FROM pts, (SELECT unnest([${DAY}, ${WEEK}]) AS width_us) w
         |      WHERE t_us >= $T0 AND t_us < $T29
         |        AND t_us < $T0 + (($T29 - $T0) // width_us) * width_us),
         |g AS (SELECT user_id, event_type, width_us,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % width_us) AS w_start,
         |        count(*) AS n_events,
         |        sum(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS n_bad
         |      FROM e GROUP BY 1, 2, 3, 4)
         |SELECT user_id, event_type, width_us, w_start,
         |       CAST(n_events AS BIGINT) AS n_events, CAST(n_bad AS BIGINT) AS n_bad,
         |       ${Q6("CAST(n_bad AS DOUBLE) / CAST(n_events AS DOUBLE)")} AS bad_frac,
         |       ${Q6("CAST(n_bad AS DOUBLE) / CAST(n_events AS DOUBLE) / (1.0 - 0.95)")} AS burn
         |FROM g ORDER BY user_id, event_type, width_us, w_start""".stripMargin)),

    // Savitzky–Golay quadratic 5-point smoothing of the day-mean series
    // (preserves local extrema a moving average flattens)
    QuerySpec("ts_savgol", (s, dir) =>
      TS.savgol(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.savgol: rounded-µ-unit window means, the
      // (−3,12,17,12,−3)/35 kernel as a long dot + ONE float division,
      // NULL at incomplete frames (lag/lead NULL propagation)
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us,
         |        count(*) AS n_points
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |x AS (SELECT *,
         |        lag(m_us, 1) OVER w AS p1, lag(m_us, 2) OVER w AS p2,
         |        lead(m_us, 1) OVER w AS f1, lead(m_us, 2) OVER w AS f2
         |      FROM m
         |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY w_start))
         |SELECT user_id, event_type, w_start,
         |       CAST(m_us AS DOUBLE) / 1000000.0 + 0 AS v_mean,
         |       CAST(CAST(round(CAST(17 * m_us + 12 * (p1 + f1) - 3 * (p2 + f2) AS DOUBLE) / 35.0, 0) AS BIGINT) AS DOUBLE) / 1000000.0 + 0 AS sg_mean,
         |       CAST(n_points AS BIGINT) AS n_points
         |FROM x ORDER BY user_id, event_type, w_start""".stripMargin)),

    // five-number boxplot + Tukey-fence outlier counts per week window
    QuerySpec("ts_boxplot", (s, dir) =>
      TS.boxplotWindows(Tables.points(s, dir), STREAM, T0, T29, WEEK)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.boxplotWindows: raw type-7 quartiles (the
      // ts_mad pctRaw machinery), float fences, Q6 on emit only
      Some {
        def pctRaw(p: String) = {
          val idx = s"$p * CAST(n - 1 AS DOUBLE)"
          s"""max(CASE WHEN rn = CAST(floor($idx) AS BIGINT) + 1 THEN value END)
             | + (max(CASE WHEN rn = CAST(ceil($idx) AS BIGINT) + 1 THEN value END)
             |    - max(CASE WHEN rn = CAST(floor($idx) AS BIGINT) + 1 THEN value END))
             |   * max($idx - floor($idx))""".stripMargin
        }
        s"""WITH pts AS ($PTS_SQL),
           |w AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $WEEK) AS w_start, t_us, value
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
           |r AS (SELECT *,
           |        row_number() OVER (PARTITION BY user_id, event_type, w_start
           |                           ORDER BY value, t_us) AS rn,
           |        count(*) OVER (PARTITION BY user_id, event_type, w_start) AS n
           |      FROM w),
           |q AS (SELECT user_id, event_type, w_start, count(*) AS n_points,
           |        ${pctRaw("0.25")} AS q25,
           |        ${pctRaw("0.5")} AS q50,
           |        ${pctRaw("0.75")} AS q75
           |      FROM r GROUP BY 1, 2, 3),
           |f AS (SELECT *, q25 - 1.5 * (q75 - q25) AS f_lo,
           |               q75 + 1.5 * (q75 - q25) AS f_hi
           |      FROM q),
           |o AS (SELECT w.user_id, w.event_type, w.w_start,
           |        sum(CASE WHEN value < f_lo THEN 1 ELSE 0 END) AS n_out_lo,
           |        sum(CASE WHEN value > f_hi THEN 1 ELSE 0 END) AS n_out_hi
           |      FROM w JOIN f ON w.user_id = f.user_id
           |        AND w.event_type = f.event_type AND w.w_start = f.w_start
           |      GROUP BY 1, 2, 3)
           |SELECT f.user_id, f.event_type, f.w_start,
           |       CAST(n_points AS BIGINT) AS n_points,
           |       ${Q6("q25")} AS p25, ${Q6("q50")} AS p50, ${Q6("q75")} AS p75,
           |       ${Q6("q75 - q25")} AS iqr,
           |       CAST(n_out_lo AS BIGINT) AS n_out_lo,
           |       CAST(n_out_hi AS BIGINT) AS n_out_hi
           |FROM f JOIN o ON f.user_id = o.user_id
           |  AND f.event_type = o.event_type AND f.w_start = o.w_start
           |ORDER BY f.user_id, f.event_type, f.w_start""".stripMargin
      }),

    // pairwise Pearson matrix over the top-8 streams by volume — the
    // fleet "what moves together" audit (ts_similar is 1×fleet; this is
    // roster×roster, bounded by the TakeOrdered roster)
    QuerySpec("ts_xcorr_matrix", (s, dir) =>
      TS.xcorrMatrix(Tables.points(s, dir), STREAM, T0, T29, DAY, 8)
        .orderBy(col("user_id_a"), col("event_type_a"),
          col("user_id_b"), col("event_type_b")),
      // mirrors TimeSeriesOps.xcorrMatrix: TakeOrdered roster, window
      // equi-join with the strict lexicographic pair order, exact-HUGEINT
      // moments, the TimeSeriesOps.pearson float assembly
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us,
         |        count(*) AS n
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |tot AS (SELECT user_id, event_type FROM m
         |        GROUP BY 1, 2 ORDER BY sum(n) DESC, user_id, event_type LIMIT 8),
         |mm AS (SELECT m.* FROM m JOIN tot USING (user_id, event_type)),
         |j AS (SELECT a.user_id AS user_id_a, a.event_type AS event_type_a,
         |             b.user_id AS user_id_b, b.event_type AS event_type_b,
         |             a.m_us AS x, b.m_us AS y
         |      FROM mm a JOIN mm b ON a.w_start = b.w_start
         |        AND (a.user_id < b.user_id
         |             OR (a.user_id = b.user_id AND a.event_type < b.event_type))),
         |mo AS (SELECT user_id_a, event_type_a, user_id_b, event_type_b,
         |             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1, 2, 3, 4)
         |SELECT user_id_a, event_type_a, user_id_b, event_type_b,
         |       CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM mo ORDER BY user_id_a, event_type_a, user_id_b, event_type_b""".stripMargin)),

    QuerySpec("ts_percentile", (s, dir) =>
      TS.percentileWindows(Tables.points(s, dir), STREAM, T0, T29, WEEK, Seq(0.5, 0.95))
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $WEEK) AS w_start, t_us, value
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY user_id, event_type, w_start
         |                           ORDER BY value, t_us) AS rn,
         |        count(*) OVER (PARTITION BY user_id, event_type, w_start) AS n
         |      FROM w)
         |SELECT user_id, event_type, w_start, CAST(count(*) AS BIGINT) AS n_points,
         |       ${PCT_SQL(0.5)} AS p50,
         |       ${PCT_SQL(0.95)} AS p95
         |FROM r GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    QuerySpec("ts_anomaly", (s, dir) =>
      TS.anomalies(Tables.points(s, dir), STREAM, 2.0)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      // mirrors TimeSeriesOps.anomalies term-for-term: integer micro-unit
      // moment sums (HUGEINT ≡ Spark's DECIMAL(38,0)), then the identical
      // cast → mean → variance → sqrt → z float pipeline (sqrt is IEEE-
      // correctly-rounded on both engines)
      Some(s"""WITH pts AS ($PTS_SQL),
         |u AS (SELECT user_id, event_type, t_us, value, ${US6("value")} AS us FROM pts),
         |st AS (SELECT user_id, event_type, sum(us) AS s1,
         |              sum(CAST(us AS HUGEINT) * us) AS s2, count(*) AS n
         |       FROM u GROUP BY 1, 2),
         |j AS (SELECT u.user_id AS user_id, u.event_type AS event_type,
         |             u.t_us AS t_us, u.value AS value, u.us AS us,
         |             CAST(st.s1 AS DOUBLE) / st.n AS mean,
         |             sqrt(CAST(st.s2 AS DOUBLE) / st.n
         |                  - (CAST(st.s1 AS DOUBLE) / st.n) * (CAST(st.s1 AS DOUBLE) / st.n)) AS std
         |      FROM u JOIN st ON u.user_id = st.user_id AND u.event_type = st.event_type)
         |SELECT user_id, event_type, t_us, value,
         |       ${Q6("(CAST(us AS DOUBLE) - mean) / std")} AS z_score
         |FROM j WHERE std > 0 AND abs((CAST(us AS DOUBLE) - mean) / std) >= 2.0
         |ORDER BY user_id, event_type, t_us, value""".stripMargin)),

    // min-max feature scaling per stream (the training-export step);
    // constant streams emit NULL, never a divide-by-zero artifact
    QuerySpec("ts_normalize", (s, dir) =>
      TS.normalize(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      // mirrors TimeSeriesOps.normalize: unrounded min/max, one division,
      // NULL on constant streams
      Some(s"""WITH pts AS ($PTS_SQL),
         |st AS (SELECT user_id, event_type, min(value) AS v_min, max(value) AS v_max
         |       FROM pts GROUP BY 1, 2)
         |SELECT p.user_id AS user_id, p.event_type AS event_type,
         |       p.t_us AS t_us, p.value AS value,
         |       CASE WHEN v_max > v_min
         |            THEN ${Q6("(p.value - v_min) / (v_max - v_min)")}
         |       END AS norm01
         |FROM pts p JOIN st ON p.user_id = st.user_id AND p.event_type = st.event_type
         |ORDER BY user_id, event_type, t_us, value""".stripMargin)),

    // seasonal-profile drift: week 1 vs week 4 quarter-day shapes — the
    // "did the load shape change" regression detector
    QuerySpec("ts_profile_drift", (s, dir) =>
      TS.profileDrift(Tables.points(s, dir), STREAM, T0, T08, T22, T29,
          6 * HOUR, 4)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.profileDrift: two per-phase profiles, joint
      // phases only, exact integer differences, one division + sqrt
      Some(s"""WITH pts AS ($PTS_SQL),
         |a AS (SELECT user_id, event_type, (t_us // ${6 * HOUR}) % 4 AS phase,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS ma
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T08 GROUP BY 1, 2, 3),
         |b AS (SELECT user_id, event_type, (t_us // ${6 * HOUR}) % 4 AS phase,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS mb
         |      FROM pts WHERE t_us >= $T22 AND t_us < $T29 GROUP BY 1, 2, 3),
         |j AS (SELECT a.user_id AS user_id, a.event_type AS event_type, ma - mb AS d
         |      FROM a JOIN b ON a.user_id = b.user_id
         |        AND a.event_type = b.event_type AND a.phase = b.phase)
         |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_phases,
         |       ${Q6("sqrt(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) / count(*)) / 1000000.0")} AS drift_rms,
         |       CAST(max(abs(d)) AS DOUBLE) / 1000000.0 + 0 AS max_shift
         |FROM j GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    // seasonal-aware anomalies: z against the stream's OWN time-of-day
    // profile — normal-at-6pm vs incident-at-3am, which the global z
    // above cannot distinguish. Quarter-day phases (6 h × 4): per-phase
    // groups at the gate SFs are deep enough that z ≥ 2 is reachable
    // (hour-of-day groups cap z at sqrt(n−1) ≈ 1.9 here)
    QuerySpec("ts_anomaly_seasonal", (s, dir) =>
      TS.anomaliesSeasonal(Tables.points(s, dir), STREAM, 2.0,
          bucketUs = 6 * HOUR, periodBuckets = 4)
        .orderBy(col("user_id"), col("event_type"), col("t_us"), col("value")),
      // mirrors TimeSeriesOps.anomaliesSeasonal: per-(stream, hour-phase)
      // streamStats moments, minN guard, identical float assembly
      Some(s"""WITH pts AS ($PTS_SQL),
         |u AS (SELECT user_id, event_type, t_us,
         |             (t_us // ${6 * HOUR}) % 4 AS phase, value, ${US6("value")} AS us
         |      FROM pts),
         |st AS (SELECT user_id, event_type, phase, sum(us) AS s1,
         |              sum(CAST(us AS HUGEINT) * us) AS s2, count(*) AS n
         |       FROM u GROUP BY 1, 2, 3),
         |j AS (SELECT u.user_id AS user_id, u.event_type AS event_type,
         |             u.t_us AS t_us, u.phase AS phase, u.value AS value, u.us AS us,
         |             st.n AS n, CAST(st.s1 AS DOUBLE) / st.n AS mean,
         |             sqrt(CAST(st.s2 AS DOUBLE) / st.n
         |                  - (CAST(st.s1 AS DOUBLE) / st.n) * (CAST(st.s1 AS DOUBLE) / st.n)) AS std
         |      FROM u JOIN st ON u.user_id = st.user_id
         |        AND u.event_type = st.event_type AND u.phase = st.phase)
         |SELECT user_id, event_type, t_us, phase, value,
         |       ${Q6("(CAST(us AS DOUBLE) - mean) / std")} AS z_score
         |FROM j WHERE n >= 2 AND std > 0
         |  AND abs((CAST(us AS DOUBLE) - mean) / std) >= 2.0
         |ORDER BY user_id, event_type, t_us, value""".stripMargin)),

    // robust dispersion: median + MAD per window (outlier-proof bands)
    QuerySpec("ts_mad", (s, dir) =>
      TS.madWindows(Tables.points(s, dir), STREAM, T0, T29, WEEK)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // two rank-lookup median passes (raw doubles between them; Q6 only on
      // emit) — mirrors TimeSeriesOps.madWindows term-for-term
      Some {
        val idx = "0.5 * CAST(n - 1 AS DOUBLE)"
        def pctRaw(v: String) =
          s"""max(CASE WHEN rn = CAST(floor($idx) AS BIGINT) + 1 THEN $v END)
             | + (max(CASE WHEN rn = CAST(ceil($idx) AS BIGINT) + 1 THEN $v END)
             |    - max(CASE WHEN rn = CAST(floor($idx) AS BIGINT) + 1 THEN $v END))
             |   * max($idx - floor($idx))""".stripMargin
        s"""WITH pts AS ($PTS_SQL),
           |w AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $WEEK) AS w_start, t_us, value
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
           |r AS (SELECT *,
           |        row_number() OVER (PARTITION BY user_id, event_type, w_start
           |                           ORDER BY value, t_us) AS rn,
           |        count(*) OVER (PARTITION BY user_id, event_type, w_start) AS n
           |      FROM w),
           |m AS (SELECT user_id, event_type, w_start, count(*) AS n_points,
           |             ${pctRaw("value")} AS med
           |      FROM r GROUP BY 1, 2, 3),
           |d AS (SELECT w.user_id AS user_id, w.event_type AS event_type,
           |             w.w_start AS w_start, w.t_us AS t_us,
           |             abs(w.value - m.med) AS dev, m.med AS med,
           |             m.n_points AS n_points
           |      FROM w JOIN m ON w.user_id = m.user_id
           |             AND w.event_type = m.event_type AND w.w_start = m.w_start),
           |r2 AS (SELECT *,
           |         row_number() OVER (PARTITION BY user_id, event_type, w_start
           |                            ORDER BY dev, t_us) AS rn,
           |         count(*) OVER (PARTITION BY user_id, event_type, w_start) AS n
           |       FROM d)
           |SELECT user_id, event_type, w_start,
           |       CAST(max(n_points) AS BIGINT) AS n_points,
           |       ${Q6("max(med)")} AS median,
           |       ${Q6(pctRaw("dev"))} AS mad
           |FROM r2 GROUP BY 1, 2, 3
           |ORDER BY user_id, event_type, w_start""".stripMargin
      }),

    QuerySpec("ts_correlation", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.correlation(p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "view"), Seq("user_id"), T0, T29, DAY)
        .orderBy(col("user_id"))
    },
      // mirrors TimeSeriesOps.correlation: exact integer µ-unit window means,
      // exact HUGEINT moment sums, one deterministic float assembly of r
      Some(s"""WITH pts AS ($PTS_SQL),
         |x AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
         |      FROM pts WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |y AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS y
         |      FROM pts WHERE event_type = 'view' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |j AS (SELECT x.user_id AS user_id, x.x AS x, y.y AS y
         |      FROM x JOIN y ON x.user_id = y.user_id AND x.w_start = y.w_start),
         |m AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1)
         |SELECT user_id, CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM m ORDER BY user_id""".stripMargin)),

    // classical decomposition: day-mean = trend + weekly seasonal + residual
    QuerySpec("ts_decompose", (s, dir) =>
      TS.decompose(Tables.points(s, dir), STREAM, T0, T29, DAY, 7)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.decompose: exact integer frame sums, the
      // seasonal mean expanded over integer sums, Q6 on emit only
      Some(s"""$DECOMP7_SQL
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // Hyndman seasonality/trend strength per stream — the fleet triage
    // before picking period-aware models or detectors
    QuerySpec("ts_seasonal_strength", (s, dir) =>
      TS.seasonalStrength(Tables.points(s, dir), STREAM, T0, T29, DAY, 7)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.seasonalStrength: the decompose frame as a
      // CTE, exact HUGEINT component moments, the two ratio divisions
      Some {
        def mom(x: String, s: String, ss: String) =
          s"sum(${US6(x)}) AS $s, sum(CAST(${US6(x)} AS HUGEINT) * ${US6(x)}) AS $ss"
        def strength(sv: String, ssv: String) =
          s"""CASE WHEN n * $ssv - $sv * $sv > 0
             |     THEN ${Q6(s"greatest(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE) / CAST(n * $ssv - $sv * $sv AS DOUBLE))")}
             |END""".stripMargin
        s"""WITH dc AS ($DECOMP7_SQL),
           |m AS (SELECT user_id, event_type, count(*) AS n,
           |        ${mom("residual", "sr", "srr")},
           |        ${mom("residual + seasonal", "sd", "sdd")},
           |        ${mom("residual + trend", "st", "stt")}
           |      FROM dc GROUP BY 1, 2)
           |SELECT user_id, event_type, CAST(n AS BIGINT) AS n_windows,
           |       ${strength("sd", "sdd")} AS seasonal_strength,
           |       ${strength("st", "stt")} AS trend_strength
           |FROM m ORDER BY user_id, event_type""".stripMargin
      }),

    // even period → classical 2xMA trend (half-weight frame edges)
    QuerySpec("ts_decompose_even", (s, dir) =>
      TS.decompose(Tables.points(s, dir), STREAM, T0, T29, DAY, 4)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // even period: 2xMA — frame of period+1 windows, half weights at the
      // edges, folded into the exact integer s2 = 2*sum - first - last
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |fr AS (SELECT *, sum(m_us) OVER wfr AS s_f, count(*) OVER wfr AS n_f,
         |              first_value(m_us) OVER wfr AS m_lo, last_value(m_us) OVER wfr AS m_hi
         |       FROM w WINDOW wfr AS (PARTITION BY user_id, event_type ORDER BY w_start
         |                             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
         |ff AS (SELECT *, 2 * s_f - m_lo - m_hi AS s2,
         |              ((w_start - $T0) // $DAY) % 4 AS pos FROM fr WHERE n_f = 5),
         |se AS (SELECT user_id, event_type, pos,
         |              CAST(sum(m_us) AS DOUBLE) / count(*)
         |                - CAST(sum(s2) AS DOUBLE) / (count(*) * 8) AS seasonal_raw
         |       FROM ff GROUP BY 1, 2, 3)
         |SELECT ff.user_id AS user_id, ff.event_type AS event_type, ff.w_start AS w_start,
         |       ${Q6("CAST(ff.m_us AS DOUBLE) / 1e6")} AS v_mean,
         |       ${Q6("CAST(ff.s2 AS DOUBLE) / 8 / 1e6")} AS trend,
         |       ${Q6("se.seasonal_raw / 1e6")} AS seasonal,
         |       ${Q6("(CAST(ff.m_us AS DOUBLE) - CAST(ff.s2 AS DOUBLE) / 8 - se.seasonal_raw) / 1e6")}
         |         AS residual
         |FROM ff JOIN se ON ff.user_id = se.user_id AND ff.event_type = se.event_type
         |                AND ff.pos = se.pos
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // lag cross-correlation: click day-means vs view day-means at lags
    // -2d..2d — one join sweep, lag as an exploded dimension
    QuerySpec("ts_lag_corr", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.lagCorrelation(p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "view"), Seq("user_id"), T0, T29, DAY,
          Seq(-2 * DAY, -DAY, 0L, DAY, 2 * DAY))
        .orderBy(col("user_id"), col("lag"))
    },
      Some(s"""WITH pts AS ($PTS_SQL),
         |x AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
         |      FROM pts WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |y AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS y
         |      FROM pts WHERE event_type = 'view' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |l AS (SELECT unnest([${-2 * DAY}, ${-DAY}, 0, $DAY, ${2 * DAY}]) AS lag),
         |j AS (SELECT x.user_id AS user_id, l.lag AS lag, x.x AS x, y.y AS y
         |      FROM x CROSS JOIN l
         |      JOIN y ON x.user_id = y.user_id AND y.w_start = x.w_start - l.lag),
         |m AS (SELECT user_id, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1, 2)
         |SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM m ORDER BY user_id, lag""".stripMargin)),

    // fractional lags: half-day shifts against day windows — the y side
    // re-buckets on the phase-shifted grid instead of rejecting the lag
    QuerySpec("ts_lag_corr_frac", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.lagCorrelation(p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "view"), Seq("user_id"), T0, T29, DAY,
          Seq(-DAY / 2, 0L, DAY / 2))
        .orderBy(col("user_id"), col("lag"))
    },
      // fractional lags: y re-bucketed per lag phase on the shifted grid
      Some(s"""WITH pts AS ($PTS_SQL),
         |x AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
         |      FROM pts WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |l AS (SELECT unnest([${-DAY / 2}, 0, ${DAY / 2}]) AS lag),
         |lp AS (SELECT lag, ((lag % $DAY) + $DAY) % $DAY AS phase FROM l),
         |y AS (SELECT user_id, p.phase AS phase,
         |             t_us - ((t_us - ($T0 - p.phase)) % $DAY) AS y_w,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS y
         |      FROM pts CROSS JOIN (SELECT DISTINCT phase FROM lp) p
         |      WHERE event_type = 'view' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |j AS (SELECT x.user_id AS user_id, lp.lag AS lag, x.x AS x, y.y AS y
         |      FROM x CROSS JOIN lp
         |      JOIN y ON x.user_id = y.user_id AND y.phase = lp.phase
         |             AND y.y_w = x.w_start - lp.lag),
         |m AS (SELECT user_id, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1, 2)
         |SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM m ORDER BY user_id, lag""".stripMargin)),

    // autocorrelation function per stream — the seasonality detector
    // (ACF over day-mean series): lagCorrelation with the stream joined
    // against ITSELF, so all lags share one phase and the scan fans once
    QuerySpec("ts_autocorr", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.lagCorrelation(p, p, STREAM, T0, T29, DAY,
          Seq(0L, DAY, 2 * DAY, 3 * DAY, 7 * DAY))
        .orderBy(col("user_id"), col("event_type"), col("lag"))
    },
      // ACF: the lag_corr moment pipeline with y ≡ x (per-stream self-join)
      Some(s"""WITH pts AS ($PTS_SQL),
         |x AS (SELECT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |l AS (SELECT unnest([0, $DAY, ${2 * DAY}, ${3 * DAY}, ${7 * DAY}]) AS lag),
         |j AS (SELECT a.user_id AS user_id, a.event_type AS event_type,
         |             l.lag AS lag, a.x AS x, b.x AS y
         |      FROM x a CROSS JOIN l
         |      JOIN x b ON a.user_id = b.user_id AND a.event_type = b.event_type
         |              AND b.w_start = a.w_start - l.lag),
         |m AS (SELECT user_id, event_type, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, CAST(lag AS BIGINT) AS lag,
         |       CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM m ORDER BY user_id, event_type, lag""".stripMargin)),

    // first-order Markov journey matrix: within-day consecutive-event
    // transition counts + row probabilities
    QuerySpec("ts_transitions", (s, dir) =>
      TS.transitions(Tables.points(s, dir), Seq("user_id"), "event_type",
          T0, T29, DAY)
        .orderBy(col("from_type"), col("to_type")),
      // mirrors TimeSeriesOps.transitions: (t_us, event_type)-ordered lag
      // within (user, day) groups, MEAN6 row probabilities
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type, t_us,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |l AS (SELECT event_type AS to_type,
         |        lag(event_type, 1) OVER (PARTITION BY user_id, w_start
         |                                 ORDER BY t_us, event_type) AS from_type
         |      FROM w),
         |c AS (SELECT from_type, to_type, count(*) AS n
         |      FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
         |       ${MEAN6("n * 1000000", "sum(n) OVER (PARTITION BY from_type)")} AS prob
         |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // transition dwell: HOW LONG between event pairs (exact-µs gaps
    // under the transitions pairing rules)
    QuerySpec("ts_dwell", (s, dir) =>
      TS.transitionDwell(Tables.points(s, dir), Seq("user_id"), "event_type",
          T0, T29, DAY)
        .orderBy(col("from_type"), col("to_type")),
      // mirrors TimeSeriesOps.transitionDwell: the transitions pairing
      // with the µs gap carried through, exact min/max + quantized mean
      Some(s"""WITH pts AS ($PTS_SQL),
         |w AS (SELECT user_id, event_type, t_us,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |l AS (SELECT event_type AS to_type,
         |        lag(event_type, 1) OVER wo AS from_type,
         |        t_us - lag(t_us, 1) OVER wo AS dwell_us
         |      FROM w WINDOW wo AS (PARTITION BY user_id, w_start
         |                           ORDER BY t_us, event_type))
         |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(dwell_us) AS BIGINT) AS min_us,
         |       CAST(max(dwell_us) AS BIGINT) AS max_us,
         |       round(CAST(sum(dwell_us) AS DOUBLE) / count(*), 0) + 0 AS mean_us
         |FROM l WHERE from_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),

    // DAU + trailing-7 WAU per day: exact rolling distincts via the
    // bounded k-fan explode (never a sum of daily distincts)
    QuerySpec("ts_active_users", (s, dir) =>
      TS.activeUsers(Tables.points(s, dir), Seq("user_id"), T0, T29, DAY, 7)
        .orderBy(col("w_start")),
      // mirrors TimeSeriesOps.activeUsers: the same k-fan explode and
      // double distinct; right join (trailing ⊇ daily), dau 0 coalesced
      Some {
        val lastW = T29 - DAY
        s"""WITH pts AS ($PTS_SQL),
           |acts AS (SELECT DISTINCT user_id,
           |           $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
           |         FROM pts WHERE t_us >= $T0 AND t_us < $T29),
           |dau AS (SELECT w_start, count(*) AS active FROM acts GROUP BY 1),
           |fan AS (SELECT DISTINCT user_id, w_to FROM acts,
           |          unnest(generate_series(w_start, least(w_start + ${6L * DAY}, $lastW),
           |                                 $DAY)) AS t(w_to)),
           |wau AS (SELECT w_to AS w_start, count(*) AS active_trailing
           |        FROM fan GROUP BY 1)
           |SELECT wau.w_start AS w_start, coalesce(dau.active, 0) AS active,
           |       wau.active_trailing AS active_trailing
           |FROM wau LEFT JOIN dau ON wau.w_start = dau.w_start
           |ORDER BY w_start""".stripMargin
      }),

    // cohort retention triangle: users by first active day, distinct
    // actives per (cohort, k) — k=0 restates cohort sizes
    QuerySpec("ts_retention", (s, dir) =>
      TS.retention(Tables.points(s, dir), Seq("user_id"), T0, T29, DAY)
        .orderBy(col("cohort_w"), col("k")),
      // mirrors TimeSeriesOps.retention: distinct (user, window) activity,
      // min-window cohorts, exact triangle counts
      Some(s"""WITH pts AS ($PTS_SQL),
         |acts AS (SELECT DISTINCT user_id,
         |           $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start
         |         FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |coh AS (SELECT user_id, min(w_start) AS cohort_w FROM acts GROUP BY 1)
         |SELECT coh.cohort_w AS cohort_w,
         |       (acts.w_start - coh.cohort_w) // $DAY AS k,
         |       CAST(count(*) AS BIGINT) AS n_active
         |FROM acts JOIN coh USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort_w, k""".stripMargin)),

    // arrival burstiness: Fano factor of per-window counts over the full
    // grid (empty windows count 0 — the sums make that free)
    QuerySpec("ts_burstiness", (s, dir) =>
      TS.burstiness(Tables.points(s, dir), STREAM, T0, T29, HOUR)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.burstiness: W·Σn²−(Σn)² over W·Σn, exact
      // integer assembly (empty windows contribute zero to both sums)
      Some {
        val w = (T29 - T0) / HOUR
        s"""WITH pts AS ($PTS_SQL),
           |c AS (SELECT user_id, event_type,
           |        $T0 + (t_us - $T0) - ((t_us - $T0) % $HOUR) AS w_start,
           |        count(*) AS n
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3),
           |a AS (SELECT user_id, event_type, count(*) AS nw, sum(n) AS sn,
           |             sum(CAST(n AS HUGEINT) * n) AS sn2
           |      FROM c GROUP BY 1, 2)
           |SELECT user_id, event_type,
           |       CAST(nw AS BIGINT) AS n_windows_nonempty,
           |       CAST(sn AS BIGINT) AS n_events,
           |       ${Q6(s"CAST($w * sn2 - CAST(sn AS HUGEINT) * sn AS DOUBLE) / CAST($w * CAST(sn AS HUGEINT) AS DOUBLE)")} AS fano,
           |       ${MEAN6(s"sn * CAST(1000000 AS HUGEINT)", s"$w")} AS mean_per_window
           |FROM a ORDER BY user_id, event_type""".stripMargin
      }),

    // ordinal-pattern profile (Bandt-Pompe order 3): the exact-count
    // face of permutation entropy, position-stable tie rule
    QuerySpec("ts_ordpatterns", (s, dir) =>
      TS.ordinalPatterns(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("pattern")),
      // mirrors TimeSeriesOps.ordinalPatterns: same rounded-integer means,
      // two leads, the same 6-way CASE over the three ≤-comparisons
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS a
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |t AS (SELECT user_id, event_type, a,
         |        lead(a, 1) OVER wo AS b, lead(a, 2) OVER wo AS c
         |      FROM m
         |      WINDOW wo AS (PARTITION BY user_id, event_type ORDER BY w_start)),
         |p AS (SELECT user_id, event_type,
         |        CASE WHEN a <= b AND a <= c AND b <= c THEN '012'
         |             WHEN a <= b AND a <= c AND NOT b <= c THEN '021'
         |             WHEN a <= b AND NOT a <= c THEN '201'
         |             WHEN NOT a <= b AND a <= c THEN '102'
         |             WHEN NOT a <= b AND NOT a <= c AND b <= c THEN '120'
         |             ELSE '210' END AS pattern
         |      FROM t WHERE b IS NOT NULL AND c IS NOT NULL)
         |SELECT user_id, event_type, pattern, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2, 3
         |ORDER BY user_id, event_type, pattern""".stripMargin)),

    // partial autocorrelation (lags 1-3, Durbin-Levinson unrolled): the
    // AR-order cutoff diagnostic next to the ACF
    QuerySpec("ts_pacf", (s, dir) =>
      TS.pacf(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.pacf: the ts_autocorr moment pipeline at lags
      // {1,2,3}·DAY, pivoted, then the SAME unrolled Durbin–Levinson DAG
      // over the Q6'd r values — identical doubles term for term
      Some {
        val rSql = Q6(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)
        s"""WITH pts AS ($PTS_SQL),
           |x AS (SELECT user_id, event_type,
           |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
           |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
           |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
           |      GROUP BY 1, 2, 3),
           |l AS (SELECT unnest([$DAY, ${2 * DAY}, ${3 * DAY}]) AS lag),
           |j AS (SELECT a.user_id AS user_id, a.event_type AS event_type,
           |             l.lag AS lag, a.x AS x, b.x AS y
           |      FROM x a CROSS JOIN l
           |      JOIN x b ON a.user_id = b.user_id AND a.event_type = b.event_type
           |              AND b.w_start = a.w_start - l.lag),
           |m AS (SELECT user_id, event_type, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |             sum(CAST(x AS HUGEINT) * x) AS sxx,
           |             sum(CAST(y AS HUGEINT) * y) AS syy,
           |             sum(CAST(x AS HUGEINT) * y) AS sxy
           |      FROM j GROUP BY 1, 2, 3),
           |acf AS (SELECT user_id, event_type, lag,
           |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
           |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
           |            THEN $rSql
           |       END AS r
           |      FROM m),
           |p AS (SELECT user_id, event_type,
           |        max(CASE WHEN lag = $DAY THEN r END) AS r1,
           |        max(CASE WHEN lag = ${2 * DAY} THEN r END) AS r2,
           |        max(CASE WHEN lag = ${3 * DAY} THEN r END) AS r3
           |      FROM acf GROUP BY 1, 2),
           |d AS (SELECT *,
           |        (1 - r1 * r1) AS e1,
           |        ((r2 - r1 * r1) / (1 - r1 * r1)) AS phi22
           |      FROM p),
           |e AS (SELECT *,
           |        (r1 - phi22 * r1) AS phi21,
           |        ((1 - r1 * r1) * (1 - phi22 * phi22)) AS e2
           |      FROM d)
           |SELECT user_id, event_type, r1, r2, r3,
           |       r1 AS pacf1,
           |       CASE WHEN e1 > 0 THEN ${Q6("phi22")} END AS pacf2,
           |       CASE WHEN e1 > 0 AND e2 > 0
           |            THEN ${Q6("(r3 - phi21 * r2 - phi22 * r1) / e2")} END AS pacf3
           |FROM e ORDER BY user_id, event_type""".stripMargin
      }),

    // rolling correlation: per-week Pearson r of click-vs-view day-means
    QuerySpec("ts_windowed_corr", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.windowedCorrelation(p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "view"), Seq("user_id"), T0, T29, DAY, WEEK)
        .orderBy(col("user_id"), col("c_start"))
    },
      Some(s"""WITH pts AS ($PTS_SQL),
         |x AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS x
         |      FROM pts WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |y AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS y
         |      FROM pts WHERE event_type = 'view' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |j AS (SELECT x.user_id AS user_id, x.w_start AS w_start, x.x AS x, y.y AS y
         |      FROM x JOIN y ON x.user_id = y.user_id AND x.w_start = y.w_start),
         |m AS (SELECT user_id,
         |             $T0 + (w_start - $T0) - ((w_start - $T0) % $WEEK) AS c_start,
         |             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x AS HUGEINT) * x) AS sxx,
         |             sum(CAST(y AS HUGEINT) * y) AS syy,
         |             sum(CAST(x AS HUGEINT) * y) AS sxy
         |      FROM j GROUP BY 1, 2)
         |SELECT user_id, c_start, CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |FROM m ORDER BY user_id, c_start""".stripMargin)),

    // TS similarity search: rank the fleet by correlation to one query
    // stream's window-mean series (one scan + broadcast of the query row)
    QuerySpec("ts_similar", (s, dir) =>
      TS.similarStreams(Tables.points(s, dir), STREAM,
          col("user_id") === 7 && col("event_type") === "click",
          T0, T29, DAY, 10)
        .orderBy(col("rank")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS v
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3),
         |q AS (SELECT w_start, v AS q FROM m
         |      WHERE user_id = 7 AND event_type = 'click'),
         |j AS (SELECT m.user_id AS user_id, m.event_type AS event_type,
         |             m.v AS x, q.q AS y
         |      FROM m JOIN q ON m.w_start = q.w_start
         |      WHERE NOT (m.user_id = 7 AND m.event_type = 'click')),
         |mm AS (SELECT user_id, event_type, count(*) AS n,
         |              sum(x) AS sx, sum(y) AS sy,
         |              sum(CAST(x AS HUGEINT) * x) AS sxx,
         |              sum(CAST(y AS HUGEINT) * y) AS syy,
         |              sum(CAST(x AS HUGEINT) * y) AS sxy
         |       FROM j GROUP BY 1, 2),
         |s AS (SELECT user_id, event_type, CAST(n AS BIGINT) AS n_windows,
         |       CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |             AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |            THEN ${Q6(
             """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin)}
         |       END AS r
         |       FROM mm)
         |SELECT user_id, event_type, n_windows, r,
         |       CAST(row_number() OVER (ORDER BY r DESC, user_id, event_type)
         |            AS BIGINT) AS rank
         |FROM s WHERE r IS NOT NULL
         |ORDER BY rank LIMIT 10""".stripMargin)),

    QuerySpec("ts_seasonal", (s, dir) =>
      TS.seasonalProfile(Tables.points(s, dir), Seq("event_type"), HOUR, 24)
        .orderBy(col("event_type"), col("pos")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT event_type, (t_us // $HOUR) % 24 AS pos,
         |       min(value) AS v_min,
         |       ${MEAN6(s"sum(${US6("value")})", "count(*)")} AS v_mean,
         |       max(value) AS v_max, CAST(count(*) AS BIGINT) AS v_count
         |FROM pts GROUP BY 1, 2 ORDER BY event_type, pos""".stripMargin)),

    // time-weighted average: the step-function integral mean — the correct
    // aggregate for irregularly sampled gauges (plain mean over-weights
    // bursts)
    QuerySpec("ts_twa", (s, dir) =>
      TS.timeWeighted(Tables.points(s, dir), STREAM, T0, T29)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.timeWeighted: dedupe equal timestamps to
      // max(value), HUGEINT ≡ DECIMAL(38,0) products of µ-unit values × µs
      // durations, one identical float assembly at the end
      Some(s"""WITH pts AS ($PTS_SQL),
         |d AS (SELECT user_id, event_type, t_us, max(value) AS value
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29 GROUP BY 1, 2, 3),
         |l AS (SELECT *, lead(t_us) OVER (PARTITION BY user_id, event_type
         |                                 ORDER BY t_us) AS next_t FROM d)
         |SELECT user_id, event_type, min(t_us) AS t_first, max(t_us) AS t_last,
         |       CAST(count(next_t) AS BIGINT) AS n_segments,
         |       CASE WHEN sum(CASE WHEN next_t IS NOT NULL THEN next_t - t_us END) > 0
         |            THEN ${Q6("CAST(sum(CASE WHEN next_t IS NOT NULL THEN CAST(" +
                US6("value") + " AS HUGEINT) * (next_t - t_us) END) AS DOUBLE)" +
                " / CAST(sum(CASE WHEN next_t IS NOT NULL THEN next_t - t_us END) AS DOUBLE)" +
                " / 1000000.0")}
         |       END AS twa
         |FROM l GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    // one raw scan serving the day AND week zoom levels at once (coarse
    // re-aggregated from fine — the on-the-fly qtree hierarchy)
    QuerySpec("ts_multires", (s, dir) =>
      TS.multiResolution(Tables.points(s, dir), STREAM, T0, T29, Seq(DAY, WEEK))
        .orderBy(col("w_width"), col("user_id"), col("event_type"), col("w_start")),
      // mirrors TimeSeriesOps.multiResolution: the week level re-aggregates
      // the day level's exact integer sums — the oracle proves fine ≡ coarse
      Some(s"""WITH pts AS ($PTS_SQL),
         |b AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        min(value) AS v_min, max(value) AS v_max,
         |        sum(${US6("value")}) AS v_sum_us, count(*) AS v_count
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, CAST($DAY AS BIGINT) AS w_width, w_start,
         |       v_min, ${MEAN6("v_sum_us", "v_count")} AS v_mean, v_max,
         |       CAST(v_count AS BIGINT) AS v_count
         |FROM b
         |UNION ALL
         |SELECT user_id, event_type, CAST($WEEK AS BIGINT) AS w_width,
         |       $T0 + (w_start - $T0) - ((w_start - $T0) % $WEEK) AS w_start,
         |       min(v_min), ${MEAN6("sum(v_sum_us)", "sum(v_count)")}, max(v_max),
         |       CAST(sum(v_count) AS BIGINT)
         |FROM b GROUP BY 1, 2, 3, 4
         |ORDER BY w_width, user_id, event_type, w_start""".stripMargin)),

    // distinct active streams per (collection, window) — fleet liveness
    QuerySpec("ts_cardinality", (s, dir) =>
      TS.cardinality(Tables.points(s, dir), Seq("event_type"), Seq("user_id"), T0, T29, DAY)
        .orderBy(col("event_type"), col("w_start")),
      Some(s"""WITH pts AS ($PTS_SQL)
         |SELECT event_type, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_streams,
         |       CAST(count(*) AS BIGINT) AS n_points
         |FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |GROUP BY 1, 2 ORDER BY event_type, w_start""".stripMargin)),

    QuerySpec("ts_topk_windows", (s, dir) =>
      TS.topKPerWindow(Tables.points(s, dir), STREAM, T0, T29, DAY, 3)
        .orderBy(col("w_start"), col("rnk")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |c AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        count(*) AS n
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29 GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY w_start
         |             ORDER BY n DESC, user_id, event_type) AS rnk FROM c)
         |SELECT user_id, event_type, w_start, CAST(n AS BIGINT) AS n_points,
         |       CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY w_start, rnk""".stripMargin)),

    // fleet volume skew: one-row Gini + hottest-stream share
    QuerySpec("ts_load_gini", (s, dir) =>
      TS.loadGini(Tables.points(s, dir), STREAM),
      // mirrors TimeSeriesOps.valueRuns: same max(value) timestamp collapse,
      // same gaps-and-islands on value change
      // mirrors TimeSeriesOps.loadGini: ascending (volume, key) ranks,
      // exact Σ(2i−n−1)x numerator, two float ratios
      Some(s"""WITH pts AS ($PTS_SQL),
         |c AS (SELECT user_id, event_type, count(*) AS x FROM pts GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY x, user_id, event_type) AS rnk,
         |             count(*) OVER () AS n, sum(x) OVER () AS total
         |      FROM c)
         |SELECT CAST(max(n) AS BIGINT) AS n_streams,
         |       CAST(max(total) AS BIGINT) AS total_points,
         |       ${Q6("CAST(sum((2 * rnk - n - 1) * CAST(x AS HUGEINT)) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * CAST(max(total) AS DOUBLE))")} AS gini,
         |       ${Q6("CAST(max(x) AS DOUBLE) / CAST(max(total) AS DOUBLE)")} AS max_share
         |FROM r""".stripMargin)),

    // RLE/deadband savings audit per stream over the value-run table
    QuerySpec("ts_compressibility", (s, dir) =>
      TS.compressibility(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type")),
      // mirrors TimeSeriesOps.compressibility: the value-runs CTE rolled
      // up per stream, one float ratio
      Some(s"""WITH pts AS ($PTS_SQL),
         |d AS (SELECT user_id, event_type, t_us, max(value) AS value
         |      FROM pts GROUP BY 1, 2, 3),
         |l AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
         |                                 ORDER BY t_us) AS prev_v FROM d),
         |f AS (SELECT *, CASE WHEN prev_v IS NULL OR value <> prev_v
         |                     THEN 1 ELSE 0 END AS is_new FROM l),
         |i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type
         |                                  ORDER BY t_us
         |                                  ROWS UNBOUNDED PRECEDING) AS run FROM f),
         |r AS (SELECT user_id, event_type, run, count(*) AS rn
         |      FROM i GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, CAST(sum(rn) AS BIGINT) AS n_points,
         |       CAST(count(*) AS BIGINT) AS n_runs,
         |       CAST(max(rn) AS BIGINT) AS longest_run,
         |       ${Q6("CAST(count(*) AS DOUBLE) / CAST(sum(rn) AS DOUBLE)")} AS run_ratio
         |FROM r GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("ts_value_runs", (s, dir) =>
      TS.valueRuns(Tables.points(s, dir), STREAM)
        .orderBy(col("user_id"), col("event_type"), col("r_start")),
      Some(s"""WITH pts AS ($PTS_SQL),
         |d AS (SELECT user_id, event_type, t_us, max(value) AS value
         |      FROM pts GROUP BY 1, 2, 3),
         |l AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
         |                                 ORDER BY t_us) AS prev_v FROM d),
         |f AS (SELECT *, CASE WHEN prev_v IS NULL OR value <> prev_v
         |                     THEN 1 ELSE 0 END AS is_new FROM l),
         |i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type
         |                                  ORDER BY t_us
         |                                  ROWS UNBOUNDED PRECEDING) AS run FROM f)
         |SELECT user_id, event_type, min(t_us) AS r_start, max(t_us) AS r_end,
         |       min(value) AS value, CAST(count(*) AS BIGINT) AS n_points
         |FROM i GROUP BY user_id, event_type, run
         |ORDER BY user_id, event_type, r_start""".stripMargin)),

    // per-window stddev — PromQL stddev_over_time (exact integer moments)
    QuerySpec("ts_stddev", (s, dir) =>
      TS.stddevWindows(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // population stddev via the EXACT integer variance numerator
      // D = n·Σx² − (Σx)² (only the final exact integer is cast to double —
      // see the HUGEINT→DOUBLE one-ulp note on TimeSeriesOps.stddevWindows)
      Some(s"""WITH pts AS ($PTS_SQL),
         |u AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        ${US6("value")} AS us
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |m AS (SELECT user_id, event_type, w_start,
         |        sum(us) AS s1, sum(CAST(us AS HUGEINT) * us) AS s2, count(*) AS n
         |      FROM u GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, w_start,
         |       ${MEAN6("s1", "n")} AS v_mean,
         |       ${Q6("sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)) / n / 1000000.0")} AS v_stddev,
         |       CAST(n AS BIGINT) AS v_count
         |FROM m ORDER BY user_id, event_type, w_start""".stripMargin)),

    // per-window least-squares slope — PromQL deriv()
    QuerySpec("ts_deriv", (s, dir) =>
      TS.deriv(Tables.points(s, dir), STREAM, T0, T29, DAY)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // least-squares slope from exact integer moments; tr = offset within
      // the window keeps magnitudes bounded (products still need HUGEINT)
      Some(s"""WITH pts AS ($PTS_SQL),
         |u AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        (t_us - $T0) % $DAY AS tr, ${US6("value")} AS vu
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
         |m AS (SELECT user_id, event_type, w_start, count(*) AS n,
         |        sum(tr) AS st, sum(vu) AS sv,
         |        sum(CAST(tr AS HUGEINT) * tr) AS stt,
         |        sum(CAST(tr AS HUGEINT) * vu) AS stv
         |      FROM u GROUP BY 1, 2, 3)
         |SELECT user_id, event_type, w_start, CAST(n AS BIGINT) AS n_points,
         |       CASE WHEN n * stt - CAST(st AS HUGEINT) * st > 0
         |            THEN ${Q6("CAST(n * stv - CAST(st AS HUGEINT) * sv AS DOUBLE) / CAST(n * stt - CAST(st AS HUGEINT) * st AS DOUBLE)")}
         |       END AS slope_per_s
         |FROM m ORDER BY user_id, event_type, w_start""".stripMargin)),

    // week-over-week window-mean comparison — the PromQL `offset` modifier
    // top user journeys: per (user, day) event paths capped at 6 steps,
    // top-20 fleet-wide — ts_transitions' full-order generalization
    QuerySpec("ts_paths", (s, dir) =>
      TS.topPaths(Tables.points(s, dir), Seq("user_id"), "event_type",
          T0, T29, DAY, maxLen = 6, k = 20)
        .orderBy(col("rank")),
      // mirrors TimeSeriesOps.topPaths: (t, type)-ordered capped path per
      // (user, day), census + deterministic top-20
      Some(s"""WITH pts AS ($PTS_SQL),
         |p AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        array_to_string(list_slice(
         |          list(event_type ORDER BY t_us, event_type), 1, 6), '>') AS path
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
         |      FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, path,
         |       CAST(n_sessions AS BIGINT) AS n_sessions
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // N-step ordered funnel: click → view → purchase, each step within
    // 3 days of the previous (first occurrence per user per step)
    QuerySpec("ts_funnel_steps", (s, dir) =>
      TS.funnelSteps(Tables.points(s, dir), Seq("user_id"), "event_type",
          Seq("click", "view", "purchase"), T0, T29, 3 * DAY)
        .orderBy(col("step")),
      // mirrors TimeSeriesOps.funnelSteps: per-step first-occurrence joins,
      // |steps|-row report with quantized integer rates
      Some(s"""WITH pts AS ($PTS_SQL),
         |u1 AS (SELECT user_id, min(t_us) AS t1 FROM pts
         |       WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |       GROUP BY 1),
         |u2 AS (SELECT p.user_id, min(p.t_us) AS t2
         |       FROM pts p JOIN u1 ON p.user_id = u1.user_id
         |       WHERE p.event_type = 'view' AND p.t_us >= $T0 AND p.t_us < $T29
         |         AND p.t_us >= u1.t1 AND p.t_us <= u1.t1 + ${3 * DAY}
         |       GROUP BY 1),
         |u3 AS (SELECT p.user_id, min(p.t_us) AS t3
         |       FROM pts p JOIN u2 ON p.user_id = u2.user_id
         |       WHERE p.event_type = 'purchase' AND p.t_us >= $T0 AND p.t_us < $T29
         |         AND p.t_us >= u2.t2 AND p.t_us <= u2.t2 + ${3 * DAY}
         |       GROUP BY 1),
         |r AS (SELECT 1 AS step, 'click' AS event_type, (SELECT count(*) FROM u1) AS n_users
         |      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM u2)
         |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u3)),
         |x AS (SELECT *, lag(n_users) OVER (ORDER BY step) AS n_prev,
         |             first_value(n_users) OVER (ORDER BY step
         |               ROWS UNBOUNDED PRECEDING) AS n_first
         |      FROM r)
         |SELECT CAST(step AS BIGINT) AS step, event_type,
         |       CAST(n_users AS BIGINT) AS n_users,
         |       CASE WHEN n_prev > 0
         |            THEN ${MEAN6("CAST(n_users AS BIGINT) * 1000000", "n_prev")}
         |       END AS cvr_step,
         |       CASE WHEN n_first > 0
         |            THEN ${MEAN6("CAST(n_users AS BIGINT) * 1000000", "n_first")}
         |       END AS cvr_total
         |FROM x ORDER BY step""".stripMargin)),

    // fleet triage: top-20 week-over-week movers by exact-integer |Δmean|
    QuerySpec("ts_topk_movers", (s, dir) =>
      TS.topMovers(Tables.points(s, dir), STREAM, T0, T29, DAY, WEEK, 20)
        .orderBy(col("rank")),
      // mirrors TimeSeriesOps.topMovers: the same self-join prior as ts_wow,
      // exact-integer |diff| ranking under a total order, LIMIT top-20
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29 GROUP BY 1, 2, 3),
         |j AS (SELECT c.user_id AS user_id, c.event_type AS event_type,
         |             c.w_start AS w_start, c.m_us AS m_us, p.m_us AS prev_us
         |      FROM m c JOIN m p ON c.user_id = p.user_id AND c.event_type = p.event_type
         |        AND c.w_start = p.w_start + $WEEK),
         |r AS (SELECT *, row_number() OVER (ORDER BY abs(m_us - prev_us) DESC,
         |                 user_id, event_type, w_start) AS rank
         |      FROM j)
         |SELECT user_id, event_type, w_start, CAST(rank AS BIGINT) AS rank,
         |       CAST(m_us AS DOUBLE) / 1000000.0 + 0 AS v_mean,
         |       CAST(prev_us AS DOUBLE) / 1000000.0 + 0 AS prev_mean,
         |       CAST(m_us - prev_us AS DOUBLE) / 1000000.0 + 0 AS diff
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // PromQL-style series division: click value-sum over view value-sum
    // per (user, day) on the shared grid
    QuerySpec("ts_ratio", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.ratio(p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "view"), Seq("user_id"), T0, T29, DAY)
        .orderBy(col("user_id"), col("w_start"))
    },
      // mirrors TimeSeriesOps.ratio: exact µ-unit window SUMS both sides,
      // inner join on the shared grid, NULL on a zero denominator
      Some(s"""WITH pts AS ($PTS_SQL),
         |l AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             sum(${US6("value")}) AS l_us, count(*) AS n_l
         |      FROM pts WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2),
         |r AS (SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |             sum(${US6("value")}) AS r_us, count(*) AS n_r
         |      FROM pts WHERE event_type = 'view' AND t_us >= $T0 AND t_us < $T29
         |      GROUP BY 1, 2)
         |SELECT l.user_id AS user_id, l.w_start AS w_start,
         |       CAST(n_l AS BIGINT) AS n_l, CAST(n_r AS BIGINT) AS n_r,
         |       CAST(l_us AS DOUBLE) / 1000000.0 + 0 AS l_sum,
         |       CAST(r_us AS DOUBLE) / 1000000.0 + 0 AS r_sum,
         |       CASE WHEN r_us <> 0
         |            THEN ${Q6("CAST(l_us AS DOUBLE) / CAST(r_us AS DOUBLE)")}
         |       END AS ratio
         |FROM l JOIN r ON l.user_id = r.user_id AND l.w_start = r.w_start
         |ORDER BY user_id, w_start""".stripMargin)),

    QuerySpec("ts_wow", (s, dir) =>
      TS.offsetCompare(Tables.points(s, dir), STREAM, T0, T29, DAY, WEEK)
        .orderBy(col("user_id"), col("event_type"), col("w_start")),
      // rounded-integer window means, exact integer difference, one scale-0
      // round for the percent ratio (the graft.Quant-portable form)
      Some(s"""WITH pts AS ($PTS_SQL),
         |m AS (SELECT user_id, event_type,
         |        $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |        CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
         |      FROM pts WHERE t_us >= $T0 AND t_us < $T29 GROUP BY 1, 2, 3)
         |SELECT c.user_id AS user_id, c.event_type AS event_type, c.w_start AS w_start,
         |       CAST(c.m_us AS DOUBLE) / 1000000.0 + 0 AS v_mean,
         |       CAST(p.m_us AS DOUBLE) / 1000000.0 + 0 AS prev_mean,
         |       CAST(c.m_us - p.m_us AS DOUBLE) / 1000000.0 + 0 AS diff,
         |       CASE WHEN p.m_us <> 0
         |            THEN round(CAST(c.m_us - p.m_us AS DOUBLE) * 100000000.0 / p.m_us, 0) / 1000000.0 + 0
         |       END AS pct_change
         |FROM m c JOIN m p ON c.user_id = p.user_id AND c.event_type = p.event_type
         |  AND c.w_start = p.w_start + $WEEK
         |ORDER BY user_id, event_type, w_start""".stripMargin)),

    // click→purchase conversion within a day — the as-of join run FORWARD
    // (negated time axes), aggregated into a daily funnel
    QuerySpec("ts_funnel", (s, dir) => {
      val p = Tables.points(s, dir)
      TS.funnel(
          p.filter(col("event_type") === "click"),
          p.filter(col("event_type") === "purchase"),
          Seq("user_id"), T0, T29, DAY, DAY)
        .orderBy(col("user_id"), col("w_start"))
    },
      // conversion = earliest purchase at/after the click, within the
      // horizon; duplicate click rows keep their multiplicity (the verdict
      // computes per distinct (user, t), then joins back onto the rows)
      Some(s"""WITH pts AS ($PTS_SQL),
         |c AS (SELECT user_id, t_us FROM pts
         |      WHERE event_type = 'click' AND t_us >= $T0 AND t_us < $T29),
         |p AS (SELECT user_id, t_us FROM pts WHERE event_type = 'purchase'),
         |cd AS (SELECT DISTINCT user_id, t_us FROM c),
         |n AS (SELECT cd.user_id AS user_id, cd.t_us AS t_us,
         |        CASE WHEN min(p.t_us) IS NOT NULL AND min(p.t_us) - cd.t_us <= $DAY
         |             THEN 1 ELSE 0 END AS conv
         |      FROM cd LEFT JOIN p ON cd.user_id = p.user_id AND p.t_us >= cd.t_us
         |      GROUP BY cd.user_id, cd.t_us),
         |j AS (SELECT c.user_id AS user_id, c.t_us AS t_us, n.conv AS conv
         |      FROM c JOIN n ON c.user_id = n.user_id AND c.t_us = n.t_us)
         |SELECT user_id, $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
         |       count(*) AS n_base,
         |       CAST(sum(conv) AS BIGINT) AS n_converted,
         |       ${MEAN6("sum(conv) * 1000000", "count(*)")} AS cvr
         |FROM j GROUP BY 1, 2 ORDER BY user_id, w_start""".stripMargin)),
  )

  // ---- DuckDB oracle building blocks ------------------------------

  /** The ts_decompose oracle body (period 7, no ORDER BY) — shared with
    * the ts_seasonal_strength oracle, which consumes it as a CTE.
    */
  private lazy val DECOMP7_SQL: String =
    s"""WITH pts AS ($PTS_SQL),
       |w AS (SELECT user_id, event_type,
       |             $T0 + (t_us - $T0) - ((t_us - $T0) % $DAY) AS w_start,
       |             CAST(round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) AS BIGINT) AS m_us
       |      FROM pts WHERE t_us >= $T0 AND t_us < $T29
       |      GROUP BY 1, 2, 3),
       |fr AS (SELECT *, sum(m_us) OVER wfr AS s_f, count(*) OVER wfr AS n_f
       |       FROM w WINDOW wfr AS (PARTITION BY user_id, event_type ORDER BY w_start
       |                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |ff AS (SELECT *, ((w_start - $T0) // $DAY) % 7 AS pos FROM fr WHERE n_f = 7),
       |se AS (SELECT user_id, event_type, pos,
       |              CAST(sum(m_us) AS DOUBLE) / count(*)
       |                - CAST(sum(s_f) AS DOUBLE) / (count(*) * 7) AS seasonal_raw
       |       FROM ff GROUP BY 1, 2, 3)
       |SELECT ff.user_id AS user_id, ff.event_type AS event_type, ff.w_start AS w_start,
       |       ${Q6("CAST(ff.m_us AS DOUBLE) / 1e6")} AS v_mean,
       |       ${Q6("CAST(ff.s_f AS DOUBLE) / 7 / 1e6")} AS trend,
       |       ${Q6("se.seasonal_raw / 1e6")} AS seasonal,
       |       ${Q6("(CAST(ff.m_us AS DOUBLE) - CAST(ff.s_f AS DOUBLE) / 7 - se.seasonal_raw) / 1e6")}
       |         AS residual
       |FROM ff JOIN se ON ff.user_id = se.user_id AND ff.event_type = se.event_type
       |                AND ff.pos = se.pos""".stripMargin

  private val V_MEAN_SQL = s"${MEAN6(s"sum(${US6("value")})", "count(*)")} AS v_mean"
  // EWMA coefficients — MUST be the same strings the Scala op embeds
  private val EWMA_A = java.lang.Double.toString(0.3)
  private val EWMA_B = java.lang.Double.toString(1.0 - 0.3)
  // Holt coefficients — same contract
  private val HOLT_A = java.lang.Double.toString(0.5)
  private val HOLT_IA = java.lang.Double.toString(1.0 - 0.5)
  private val HOLT_B = java.lang.Double.toString(0.3)
  private val HOLT_IB = java.lang.Double.toString(1.0 - 0.3)
  // l_t spelled identically everywhere it appears (engine + oracle)
  private val HOLT_LNEW = s"$HOLT_A * n.v_mean + $HOLT_IA * (r.l + r.b)"
  // Holt-Winters coefficients + recurrence terms, same spelling contract;
  // the seasonal history rides the recursion as a LIST (r.ring), indexed
  // 1-based: s_{t-p} for the row with rn = t+1 sits at ring[rn - p]
  private val HW_P = 7
  private val HW_A = java.lang.Double.toString(0.5)
  private val HW_IA = java.lang.Double.toString(1.0 - 0.5)
  private val HW_B = java.lang.Double.toString(0.3)
  private val HW_IB = java.lang.Double.toString(1.0 - 0.3)
  private val HW_G = java.lang.Double.toString(0.4)
  private val HW_IG = java.lang.Double.toString(1.0 - 0.4)
  private val HW_SPREV =
    s"CASE WHEN n.rn >= ${HW_P + 1} THEN r.ring[n.rn - $HW_P] ELSE CAST(0.0 AS DOUBLE) END"
  private val HW_LNEW = s"$HW_A * (n.v_mean - ($HW_SPREV)) + $HW_IA * (r.l + r.b)"
  private val HW_SNEW = s"$HW_G * (n.v_mean - ($HW_LNEW)) + $HW_IG * ($HW_SPREV)"

  /** Interpolated-percentile aggregate over (rn, n, value) — mirrors
    * TimeSeriesOps.percentileWindows: idx = p·(n-1), lookup of the two
    * closest ranks by conditional aggregation, then the identical
    * lo + (hi-lo)·frac float blend (p serialized via Double.toString).
    */
  private def PCT_SQL(p: Double): String = {
    val ps = java.lang.Double.toString(p)
    val idx = s"$ps * CAST(n - 1 AS DOUBLE)"
    val lo = s"max(CASE WHEN rn = CAST(floor($idx) AS BIGINT) + 1 THEN value END)"
    val hi = s"max(CASE WHEN rn = CAST(ceil($idx) AS BIGINT) + 1 THEN value END)"
    Q6(s"$lo + ($hi - $lo) * max($idx - floor($idx))")
  }

  /** The four GenerateCSV stat columns for one stream (csv.go:75-104):
    * min/mean/max/count under `cond`, count null (not 0) when the stream
    * is silent in the window — mirrors TimeSeriesOps.csvExport.
    */
  private def CSV_STAT_SQL(label: String, cond: String): String = {
    val cnt = s"count(CASE WHEN $cond THEN 1 END)"
    s"""min(CASE WHEN $cond THEN value END) AS ${label}_min,
       |       ${MEAN6(s"sum(CASE WHEN $cond THEN ${US6("value")} END)", cnt)} AS ${label}_mean,
       |       max(CASE WHEN $cond THEN value END) AS ${label}_max,
       |       CASE WHEN $cnt > 0 THEN CAST($cnt AS BIGINT) END AS ${label}_count""".stripMargin
  }

  /** LTTB mirror — graft.ts.Downsample.lttb unrolled: the sequential
    * bucket-by-bucket selection becomes a chain of nOut-2 CTEs, each
    * picking its bucket's max-triangle-area point (QUALIFY row_number)
    * against the previous stage's selection and the precomputed
    * next-bucket mean (exact integer sums, the same micro-unit rounding).
    */
  private def lttbSql(nOut: Int, bucketed: Boolean = false): String = {
    val middle = nOut - 2
    def area(cT: String, cV: String) =
      s"abs((CAST(p.t_us AS DOUBLE) - r.tbar) * ($cV - p.value) - " +
        s"(CAST(p.t_us AS DOUBLE) - CAST($cT AS DOUBLE)) * (r.vbar - p.value))"
    // the bucketed variant selects among each bucket's M4 candidate set
    // (first/last in time, min/max in value — the same deterministic
    // struct-extreme tie-breaks as the engine) instead of all bucket rows
    val pool = if (bucketed) "cand" else "mid"
    val candCte = if (!bucketed) "" else
      s"""cand AS (
         |  SELECT DISTINCT user_id, event_type, kb, t_us, value FROM (
         |    SELECT user_id, event_type, kb, t_us, value,
         |      row_number() OVER (PARTITION BY user_id, event_type, kb
         |        ORDER BY t_us, value) AS r1,
         |      row_number() OVER (PARTITION BY user_id, event_type, kb
         |        ORDER BY t_us DESC, value DESC) AS r2,
         |      row_number() OVER (PARTITION BY user_id, event_type, kb
         |        ORDER BY value, t_us) AS r3,
         |      row_number() OVER (PARTITION BY user_id, event_type, kb
         |        ORDER BY value DESC, t_us DESC) AS r4
         |    FROM mid)
         |  WHERE r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1),
         |""".stripMargin
    val stages = (0 until middle).map { kb =>
      val prev = if (kb == 0) "firstp" else s"sel${kb - 1}"
      s"""sel$kb AS (
         |  SELECT m.user_id AS user_id, m.event_type AS event_type,
         |         m.t_us AS t_us, m.value AS value
         |  FROM $pool m
         |  JOIN $prev p ON m.user_id = p.user_id AND m.event_type = p.event_type
         |  JOIN nextref r ON r.user_id = m.user_id AND r.event_type = m.event_type
         |    AND r.kb = $kb
         |  WHERE m.kb = $kb
         |  QUALIFY row_number() OVER (PARTITION BY m.user_id, m.event_type
         |    ORDER BY ${area("m.t_us", "m.value")} DESC, m.t_us DESC, m.value DESC) = 1)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (0 until middle)
      .map(kb => s"UNION ALL SELECT user_id, event_type, t_us, value FROM sel$kb")
      .mkString("\n")
    s"""WITH pts AS ($PTS_SQL),
       |s AS (SELECT user_id, event_type, t_us, value,
       |        row_number() OVER (PARTITION BY user_id, event_type
       |                           ORDER BY t_us, value) AS rn,
       |        count(*) OVER (PARTITION BY user_id, event_type) AS n
       |      FROM pts WHERE t_us >= $T0 AND t_us < $T29),
       |small AS (SELECT user_id, event_type, t_us, value FROM s WHERE n <= $nOut),
       |big AS (SELECT * FROM s WHERE n > $nOut),
       |firstp AS (SELECT user_id, event_type, t_us, value FROM big WHERE rn = 1),
       |lastp AS (SELECT user_id, event_type, t_us, value FROM big WHERE rn = n),
       |mid AS (SELECT user_id, event_type, t_us, value,
       |          ((rn - 2) * $middle) // (n - 2) AS kb
       |        FROM big WHERE rn >= 2 AND rn <= n - 1),
       |bm AS (SELECT user_id, event_type, kb,
       |         CAST(sum(t_us) AS DOUBLE) / count(*) AS tbar,
       |         round(CAST(sum(${US6("value")}) AS DOUBLE) / count(*), 0) / 1000000.0 AS vbar
       |       FROM mid GROUP BY 1, 2, 3),
       |nextref AS (SELECT user_id, event_type, kb - 1 AS kb, tbar, vbar
       |            FROM bm WHERE kb >= 1
       |            UNION ALL
       |            SELECT user_id, event_type, ${middle - 1} AS kb,
       |                   CAST(t_us AS DOUBLE) AS tbar, value AS vbar FROM lastp),
       |$candCte$stages
       |SELECT user_id, event_type, t_us, value FROM small
       |UNION ALL SELECT user_id, event_type, t_us, value FROM firstp
       |$unions
       |UNION ALL SELECT user_id, event_type, t_us, value FROM lastp
       |ORDER BY user_id, event_type, t_us, value""".stripMargin
  }
}
