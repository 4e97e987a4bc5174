package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ts.{Store, TimeSeriesOps => TS}

/** Physical-plan audits — the properties that decide whether an operator
  * survives a 100× scale-up: time filters reaching the parquet scan,
  * dimension joins broadcasting, no accidental cartesian products, hot
  * paths inside WholeStageCodegen.
  */
class PlanShapeSpec extends SparkSuite {
  import spark.implicits._

  private val T08 = 1704672000000000L
  private val T22 = 1705881600000000L
  private val STREAM = Seq("user_id", "event_type")

  private def physical(df: DataFrame): String = {
    // other suites may have cached equivalent plans (cache substitution
    // would replace the FileScan under audit with InMemoryTableScan)
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("time-range filters on t_us reach the parquet scan as raw ts bounds") {
    // t_us is derived from raw ts (DIV 1000 on ns-longs, unix_micros on
    // timestamps); without DivComparisonBounds the scan pushes nothing on
    // the time axis and every row group is read. The upper-bound shape is
    // schema-dependent: t_us < T inverts to ts <= T*1000-1 under the
    // truncating DIV, but exactly to ts < timestamp(T) under unix_micros.
    val plan = physical(
      TS.rawValues(Tables.points(spark, sfDir), STREAM, T08, T22))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts"),
      s"lower ts bound not pushed:\n${plan.take(3000)}")
    assert(plan.contains("LessThanOrEqual(ts") || plan.contains("LessThan(ts"),
      s"upper ts bound not pushed:\n${plan.take(3000)}")
  }

  test("ts bounds push for EVERY events ts encoding, independent of the corpus") {
    // The driver's corpus carries only one ts shape per generation, so the
    // corpus-backed test above exercises a single tsUs branch. Write a tiny
    // events table in each shape ourselves and assert the pushed-filter
    // shape for all three: epoch-ns long (DIV-1000 inversion), TIMESTAMP_NTZ
    // (UTC-cast unix_micros inversion), and plain TIMESTAMP (direct
    // unix_micros inversion).
    val base = spark.range(1, 100).selectExpr(
      "id AS event_id",
      "1704672000000000 + id * 1000000 AS us", // inside [T08, T22)
      "id % 7 AS user_id",
      "'click' AS event_type",
      "CAST(id AS DOUBLE) AS value")
    val shapes: Seq[(String, DataFrame)] = Seq(
      "nslong" -> base.selectExpr(
        "event_id", "us * 1000 AS ts", "user_id", "event_type", "value"),
      "ntz" -> base.selectExpr(
        "event_id", "CAST(timestamp_micros(us) AS TIMESTAMP_NTZ) AS ts",
        "user_id", "event_type", "value"),
      "tstz" -> base.selectExpr(
        "event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value"))
    for ((shape, df) <- shapes) {
      val dir = tmpDir(s"plan_ts_$shape")
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val plan = physical(
        TS.rawValues(Tables.points(spark, dir), STREAM, T08, T22))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"[$shape] lower ts bound not pushed:\n${plan.take(3000)}")
      assert(plan.contains("LessThanOrEqual(ts") || plan.contains("LessThan(ts"),
        s"[$shape] upper ts bound not pushed:\n${plan.take(3000)}")
    }
  }

  test("autocorrelation serves both join sides from ONE means exchange") {
    // x carries an explicit isnotnull(w_start) so its scan+partial-agg
    // subtree canonicalizes equal to y's (whose join key pushes
    // isnotnull(grouping) through the aggregate); losing that equality
    // silently doubles the scan — assert the runtime reuse directly
    val df = SparkEntry.queries("ts_autocorr")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"autocorr no longer reuses the means exchange:\n${plan.take(3000)}")
  }

  test("div-bound rule also fires for literal-on-left comparisons") {
    // T15 > t_us  ⇔  t_us < T15; t_us is ts DIV 1000, so the raw upper
    // bound on ts must still reach the scan through the reversed pattern
    val T15 = 1705276800000000L
    val plan = physical(
      Tables.points(spark, sfDir).filter(expr(s"$T15 > t_us")))
    assert(plan.contains("LessThanOrEqual(ts") || plan.contains("LessThan(ts"),
      s"reversed-literal bound not pushed:\n${plan.take(3000)}")
  }

  test("stream-identity filters are pushed to the scan") {
    val plan = physical(
      Tables.points(spark, sfDir)
        .filter(col("user_id") === 7 && col("event_type") === "click"))
    assert(plan.contains("EqualTo(user_id,7)"), plan.take(3000))
    assert(plan.contains("EqualTo(event_type,click)"), plan.take(3000))
  }

  test("q3 dimension join broadcasts; no cartesian product") {
    val plan = physical(SparkEntry.queries("q3_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("store rawValues prunes (ub, tb) partitions for a literal uuid + range") {
    val st = Store(spark, tmpDir("plan_store_prune"))
    st.insert("s1", Seq((1L, 1.0), (2L, 2.0)).toDF("time", "value"))
    st.insert("s2", Seq((1L, 9.0)).toDF("time", "value"))
    val plan = physical(st.rawValues("s1", 0L, 100L))
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("(ub#") && plan.contains("(tb#"),
      s"partition pruning missing:\n${plan.take(3000)}")
    // and the result is correct despite the pruning
    assert(st.rawValues("s1", 0L, 100L).count() == 2)
  }

  test("tombstone visibility anti-join broadcasts the tombstone side") {
    val st = Store(spark, tmpDir("plan_store"))
    st.insert("s1", Seq((1L, 1.0), (2L, 2.0)).toDF("time", "value"))
    st.deleteRange("s1", 0L, 2L)
    val plan = physical(st.pointsAt(None))
    assert(plan.contains("Broadcast"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("core aggregations run inside WholeStageCodegen") {
    // AQE materializes the final plan (with codegen spans) only on
    // execution — run the query, then audit the final adaptive plan.
    for (q <- Seq("q1_agg", "ts_aligned_windows")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // executes THIS plan (count() would build a new one)
      val plan = df.queryExecution.executedPlan.toString
      // "*(n)" prefixes mark WholeStageCodegen stages in the tree string
      assert(plan.contains("*("), s"$q:\n${plan.take(3000)}")
      assert(plan.contains("*(1) Filter") || plan.contains("*(1) HashAggregate") ||
        plan.contains("*(1) Project"), s"$q scan stage not codegen'd:\n${plan.take(3000)}")
    }
  }

  test("LLM-pipeline joins shuffle on keys, never cartesian") {
    for (q <- Seq("dedup_minhash", "dedup_ngram_jaccard", "emb_ann_lsh",
        "corpus_contamination", "ts_lttb")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // LTTB is join-free: one pass to group by stream, key columns
    // restored by unpacking the packed key — no second scan of the facts
    val lttb = physical(SparkEntry.queries("ts_lttb")(spark, sfDir))
    assert(!lttb.contains("Join"), lttb.take(3000))
  }

  test("corpus_shard chains keyed joins only; budget sort stays per-stratum") {
    val plan = physical(SparkEntry.queries("corpus_shard")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the budget window must be partitioned (per-stratum sort), never a
    // global single-partition sort over the corpus
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("budget fill is a two-phase prefix sum: no stratum-wide doc sort") {
    // a window PARTITION BY stratum over the documents would funnel each
    // stratum through one task; the fill must instead range-partition on
    // the order key and run its doc-level window keyed by (stratum, slice)
    for (q <- Seq("corpus_budget", "corpus_shard", "corpus_pack")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("rangepartitioning(stratum"),
        s"$q missing range-partitioned slice phase:\n${plan.take(3000)}")
      // the doc-level running sum is keyed by (stratum, slice): its window
      // spec lists both; the only stratum-only window sits above the
      // metadata-scale slice aggregate (offsets), never above documents
      assert(plan.contains("windowspecdefinition(stratum#") &&
        plan.contains(", slice#"),
        s"$q doc window not slice-keyed:\n${plan.take(3000)}")
      // offsets join back by broadcast — the doc side never reshuffles wide
      assert(plan.contains("BroadcastHashJoin"),
        s"$q offsets join should broadcast:\n${plan.take(3000)}")
    }
  }

  test("per-stream sequential ops are two-phase sliced scans, no stream-wide sort") {
    // a window PARTITION BY stream ORDER BY t_us over raw points would
    // sort each stream's entire history in ONE task; these ops must
    // bucket the timeline into slices BEFORE the shuffle and key every
    // point-level window by (stream, slice), with boundary rows / carries
    // joined back broadcast
    val streamWide = "windowspecdefinition\\(user_id#\\d+L?, event_type#\\d+, t_us#".r
    // the full-frame exchange is the explicit repartition; carry branches
    // may exchange (stream, slice) rows too, but only ABOVE a map-side
    // partial aggregate (metadata-scale), which plans as
    // ENSURE_REQUIREMENTS — so count REPARTITION_BY_NUM occurrences
    val sliceExchange =
      ("Exchange hashpartitioning\\(user_id#\\d+L?, event_type#\\d+, slice#\\d+, " +
        "\\d+\\), REPARTITION_BY_NUM").r
    for (q <- Seq("ts_cusum", "ts_delta", "ts_sessionize", "ts_value_runs",
        "ts_lttb_bucketed")) {
      // exchange reuse is an AQE runtime decision: execute first, then
      // read only the FINAL plan section (toString appends the initial
      // plan too, which shows both branch copies pre-reuse)
      val df = SparkEntry.queries(q)(spark, sfDir)
      spark.catalog.clearCache()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // the slice is a pre-shuffle bucket expression, so ONE (stream,
      // slice) hash exchange serves every downstream window and
      // aggregate — further consumers must reuse it, not re-shuffle
      val wide = plan.linesIterator
        .filter(l => !l.contains("ReusedExchange"))
        .flatMap(sliceExchange.findFirstIn).size
      assert(wide == 1,
        s"$q should shuffle the full frame exactly once on (stream, slice), found $wide:\n${plan.take(3000)}")
      assert(plan.contains("windowspecdefinition(user_id#") &&
        plan.contains(", slice#"),
        s"$q point window not slice-keyed:\n${plan.take(3000)}")
      assert(streamWide.findFirstIn(plan).isEmpty,
        s"$q still has a stream-wide point-ordered window:\n${plan.take(3000)}")
      assert(plan.contains("BroadcastHashJoin"),
        s"$q slice carries should join back broadcast:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("embedding pair graph is LSH-bucketed — no all-pairs join anywhere") {
    // the quadratic generator (a JOIN b ON id_a < id_b) could only execute
    // as a broadcast-nested-loop / cartesian; the registered path must be
    // the (table, bucket) equality join fed by the codegen'd bucketing pass
    for (q <- Seq("emb_cosine_pairs", "emb_knn", "emb_clusters",
        "corpus_contamination_emb")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    for (q <- Seq("emb_cosine_pairs", "emb_knn", "corpus_contamination_emb")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("lsh_buckets"),
        s"$q candidates should come from LshBuckets:\n${plan.take(3000)}")
    }
    // the SQ8 verify prescreen must sit in the pair plan (the map-side
    // filter that starves the full-vector join-back — the r14-measured
    // 90% owner of generator wall-clock at campaign scale); sq8_dot only
    // appears via sq8Admit/sq8Payload. emb_clusters/keep_best consume
    // the same generator but through an eager union-find, so their final
    // plan no longer contains it — pin the lazy-plan consumers.
    for (q <- Seq("emb_cosine_pairs", "emb_knn", "emb_dup_sweep")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("sq8_dot"),
        s"$q should carry the SQ8 prescreen:\n${plan.take(3000)}")
    }
  }

  test("span-mass and survivor selection stay inverted-index / keyed — never pairwise") {
    // dedup_span_stats is the operator whose whole point is Σ-positions
    // cost (it must run where the pair dedups can't); keepBest adds only
    // keyed joins + a per-cluster window on top of the cluster labels
    for (q <- Seq("dedup_span_stats", "dedup_keep_best")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("embedding audits broadcast their metadata-scale stats row") {
    // centroid/range tables are 1-row aggregates: they must reach the
    // corpus pass as a broadcast, never shuffle the corpus against them
    for (q <- Seq("emb_centroid_sim", "emb_sq8")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("Broadcast"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("gaps with a metadata roster reads raw points exactly once") {
    // without a roster, gaps() must re-scan full history just to learn the
    // stream universe (that scan can't even be time-pruned); with the
    // roster the plan's only raw read is the time-bounded occupied scan
    val roster = Tables.points(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().toSeq // materialize: the roster must NOT come from a scan
    import spark.implicits._
    val rosterDf = roster.map(r => (r.getLong(0), r.getString(1)))
      .toDF("user_id", "event_type")
    val g = TS.gaps(Tables.points(spark, sfDir), STREAM, T08, T22,
      86400000000L, streams = Some(rosterDf))
    g.collect()
    val plan = g.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"roster gaps should read one raw scan, found $nScans:\n${plan.take(3000)}")
    // and the time bounds reach that one scan
    assert(plan.contains("GreaterThanOrEqual(ts"), plan.take(3000))
  }

  test("ts_mad joins its two median passes on the group key, no cartesian") {
    val plan = physical(SparkEntry.queries("ts_mad")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // both median passes sit on one time-bounded scan — the derived-axis
    // bounds must reach parquet as raw ts predicates
    assert(plan.contains("GreaterThanOrEqual(ts"), plan.take(3000))
    assert(plan.contains("LessThan"), plan.take(3000))
  }

  test("ts_similar broadcasts the query series; top-k is TakeOrdered") {
    val plan = physical(SparkEntry.queries("ts_similar")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("TakeOrdered"), plan.take(3000))
  }

  test("round-5 ops: broadcast stats join, pushed bounds, no cartesians") {
    for (q <- Seq("ts_sessionize", "ts_rolling", "ts_percentile", "ts_anomaly",
        "ts_correlation", "ts_seasonal", "corpus_vocab")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // anomaly joins the metadata-scale per-stream stats back onto the raw
    // scan — that join must broadcast, never shuffle the scan side
    val anom = physical(SparkEntry.queries("ts_anomaly")(spark, sfDir))
    assert(anom.contains("BroadcastHashJoin"), anom.take(3000))
    // rolling/percentile filter the derived t_us axis — bounds must still
    // reach the parquet scan through DivComparisonBounds
    for (q <- Seq("ts_rolling", "ts_percentile")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // vocab's top-k is a TakeOrdered over the word counts, not a full sort
    val vocab = physical(SparkEntry.queries("corpus_vocab")(spark, sfDir))
    assert(vocab.contains("TakeOrderedAndProject"), vocab.take(3000))
  }

  test("late round-5 ops: no cartesians, cusum broadcasts, m4 pushes bounds") {
    for (q <- Seq("ts_m4", "ts_coverage", "ts_outages", "ts_cusum", "ts_holt",
        "ts_asof_tolerance", "ts_collection_windows", "ts_top_streams",
        "q18_join", "q13_agg", "mm_stats", "mm_frames", "emb_knn",
        "sample_fixed", "corpus_budget")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    val cs = physical(SparkEntry.queries("ts_cusum")(spark, sfDir))
    assert(cs.contains("BroadcastHashJoin"), cs.take(3000))
    val m4 = physical(SparkEntry.queries("ts_m4")(spark, sfDir))
    assert(m4.contains("GreaterThanOrEqual(ts"),
      s"m4 time bound not pushed:\n${m4.take(3000)}")
    val sf = physical(SparkEntry.queries("sample_fixed")(spark, sfDir))
    assert(sf.contains("TakeOrderedAndProject"), sf.take(3000))
  }

  test("round-5b ops: one scan for multires, top-k heaps, pushed bounds") {
    for (q <- Seq("ts_twa", "ts_multires", "ts_cardinality", "ts_topk_windows",
        "ts_value_runs", "text_ttr", "corpus_dup_ngrams", "corpus_overlap")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // multires serves BOTH zoom levels from ONE raw scan: the fine-level
    // aggregation exchange is built once and reused by the coarse branch —
    // a second FileScan would double the raw I/O for every added level
    val mr = SparkEntry.queries("ts_multires")(spark, sfDir)
    mr.collect()
    // audit the FINAL adaptive plan only — AQE's toString appends the
    // pre-reuse "Initial Plan" section, which double-counts scans
    val mrPlan = mr.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nScans = "Scan parquet".r.findAllIn(mrPlan).length
    assert(nScans == 1 && mrPlan.contains("ReusedExchange"),
      s"multires should reuse one scan, found $nScans:\n${mrPlan.take(3000)}")
    // the duplicated-passage report cuts with a TakeOrdered heap, not a sort
    val dg = physical(SparkEntry.queries("corpus_dup_ngrams")(spark, sfDir))
    assert(dg.contains("TakeOrderedAndProject"), dg.take(3000))
    // twa/cardinality filter the derived t_us axis — bounds must reach raw ts
    for (q <- Seq("ts_twa", "ts_cardinality")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
  }

  test("new ts extensions push time bounds to the scan and avoid cartesians") {
    // histogram/counter_rate filter on the derived t_us axis — the
    // DivComparisonBounds rule must reach the scan for them too
    for (q <- Seq("ts_histogram", "ts_counter_rate", "ts_ewma", "ts_interpolate")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    val hist = physical(SparkEntry.queries("ts_histogram")(spark, sfDir))
    assert(hist.contains("GreaterThanOrEqual(ts"),
      s"histogram time bound not pushed:\n${hist.take(3000)}")
  }

  test("round-9 ops: pushed bounds, no cartesians, metadata-only broadcasts") {
    for (q <- Seq("ts_autocorr", "ts_holtwinters", "ts_forecast", "ts_band",
        "corpus_mix", "emb_outliers", "q5_join", "q12_agg")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // Q5's region/nation dim chain must broadcast, not shuffle
    assert(physical(SparkEntry.queries("q5_join")(spark, sfDir))
      .contains("BroadcastHashJoin"), "q5 dim chain not broadcast")
    // the window/moment aggregations filter the derived t_us axis — raw
    // ts bounds must reach the parquet scan (DivComparisonBounds)
    for (q <- Seq("ts_autocorr", "ts_holtwinters", "ts_forecast", "ts_band")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // mixture budgets and outlier stats ride broadcasts (metadata-scale),
    // never a shuffle of the corpus against them
    for (q <- Seq("corpus_mix", "emb_outliers")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastQueryStage"),
        s"$q stats/budget join not broadcast:\n${plan.take(3000)}")
    }
    // the facet query must prune the scan to (event_type, props): a scan
    // that also reads ts/value/user_id re-reads the fact columns for a
    // props-only aggregate
    val fp = physical(SparkEntry.queries("ts_facets")(spark, sfDir))
    val readSchema = fp.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && !readSchema.contains("value"),
      s"ts_facets scan not pruned to props:\n$readSchema")

    // second-wave round-9 ops
    for (q <- Seq("ts_calendar", "ts_sax", "dedup_containment",
        "text_phrases", "emb_pq")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // calendar/sax filter the derived t_us axis — raw ts bounds must
    // reach the scan; calendar is one aggregation, join-free
    for (q <- Seq("ts_calendar", "ts_sax")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    assert(!physical(SparkEntry.queries("ts_calendar")(spark, sfDir))
      .contains("Join"), "ts_calendar should be join-free")
    // containment candidates ride the inverted-index EQUALITY join —
    // never a nested-loop over doc pairs
    assert(!physical(SparkEntry.queries("dedup_containment")(spark, sfDir))
      .contains("BroadcastNestedLoopJoin"), "containment candidate join degraded")
    // pq's codebook is a broadcast; the corpus side never reshuffles wide
    assert(physical(SparkEntry.queries("emb_pq")(spark, sfDir))
      .contains("BroadcastHashJoin"), "emb_pq codebook join not broadcast")

    // third-wave round-9 ops (keywords' 1-row n_docs broadcast is a
    // Cross BNLJ by construction — the emb_outliers stats-row shape —
    // so only true cartesians are banned there)
    for (q <- Seq("ts_peaks", "ts_changepoint", "text_keywords", "emb_pca",
        "ts_motifs", "ts_pacf", "ts_ordpatterns", "q10_join", "ts_burstiness",
        "corpus_fertility", "mm_chunks", "ts_retention", "ts_active_users",
        "ts_transitions", "ts_windows_delta", "ts_forecast_eval",
        "corpus_len_hist", "mm_dedup_ratio")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // q10's nation dim broadcasts; the top-20 is a TakeOrdered
    val q10 = physical(SparkEntry.queries("q10_join")(spark, sfDir))
    assert(q10.contains("BroadcastHashJoin") && q10.contains("TakeOrdered"),
      s"q10_join:\n${q10.take(3000)}")
    // pacf/ordpatterns push their raw ts bounds like every window op
    for (q <- Seq("ts_pacf", "ts_ordpatterns")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // motifs: pushed ts bounds and a TakeOrdered top-k over the subword
    // aggregate — never a global sort of the symbol stream
    val moPlan = physical(SparkEntry.queries("ts_motifs")(spark, sfDir))
    assert(moPlan.contains("GreaterThanOrEqual(ts") && moPlan.contains("TakeOrdered"),
      s"ts_motifs:\n${moPlan.take(3000)}")
    // peak/change-point scans run over the window-mean series with raw
    // ts bounds pushed; their frame windows partition by the stream key,
    // never a global (empty-partition) window
    for (q <- Seq("ts_peaks", "ts_changepoint")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
      assert(!plan.contains("Window [") || !plan.contains("partitionBy=[]"),
        s"$q has a global window:\n${plan.take(3000)}")
    }
    // keywords: the N-docs row is a broadcast, and the top-k rank is the
    // only window — partitioned by doc_id (doc-bounded groups)
    val kwPlan = physical(SparkEntry.queries("text_keywords")(spark, sfDir))
    assert(kwPlan.contains("BroadcastExchange") || kwPlan.contains("BroadcastQueryStage"),
      s"text_keywords n_docs not broadcast:\n${kwPlan.take(3000)}")
    // dtw: raw ts bounds pushed, the query profile broadcasts (1-row
    // cross, the similarStreams shape), top-k is a TakeOrdered — and
    // candidates never join each other
    val dtwPlan = physical(SparkEntry.queries("ts_dtw")(spark, sfDir))
    assert(dtwPlan.contains("GreaterThanOrEqual(ts"),
      s"ts_dtw time bound not pushed:\n${dtwPlan.take(3000)}")
    assert(!dtwPlan.contains("CartesianProduct"), s"ts_dtw:\n${dtwPlan.take(3000)}")
    assert(dtwPlan.contains("TakeOrdered"),
      s"ts_dtw top-k not TakeOrdered:\n${dtwPlan.take(3000)}")
    // the DP is the codegen'd kernel and the profiles are assembled
    // without lambdas: no interpreted higher-order function is left
    assert(dtwPlan.contains("dtw_distance") && !dtwPlan.contains("lambdafunction"),
      s"ts_dtw not on the dtw_distance kernel:\n${dtwPlan.take(3000)}")
  }

  test("continuation-wave ts ops: pushed bounds, no cartesians") {
    val ij = physical(SparkEntry.queries("ts_interval_join")(spark, sfDir))
    assert(!ij.contains("BroadcastNestedLoopJoin") && !ij.contains("CartesianProduct"),
      s"ts_interval_join degraded to a range nested-loop:\n${ij.take(3000)}")
    for (q <- Seq("ts_savgol", "ts_boxplot", "ts_xcorr_matrix", "ts_capacity",
        "ts_burnrate", "ts_anomaly_seasonal")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
      assert(plan.contains("GreaterThanOrEqual(ts") || q == "ts_anomaly_seasonal",
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // capacity is ONE aggregation over the scan — join-free
    assert(!physical(SparkEntry.queries("ts_capacity")(spark, sfDir)).contains("Join"),
      "ts_capacity should be join-free")
    // second continuation wave
    for (q <- Seq("ts_histogram_quantile", "ts_topk_movers", "ts_ratio",
        "corpus_overlap_near")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n${plan.take(3000)}")
    }
    // movers is a TakeOrdered over the offset frame, never a global sort
    // of the fleet
    assert(physical(SparkEntry.queries("ts_topk_movers")(spark, sfDir))
      .contains("TakeOrdered"), "ts_topk_movers top-k not TakeOrdered")
    // third continuation wave
    for (q <- Seq("ts_funnel_steps", "ts_seasonal_strength", "ts_compressibility",
        "text_langid_confusion", "q19_join")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    for (q <- Seq("ts_seasonal_strength", "ts_compressibility")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts") || q == "ts_compressibility",
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // fourth continuation wave
    for (q <- Seq("ts_paths", "ts_dwell", "ts_profile_drift", "ts_normalize",
        "sample_split", "mm_dedup_clusters")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // the path census ends in a TakeOrdered; normalize broadcasts its
    // stream stats back onto the scan
    assert(physical(SparkEntry.queries("ts_paths")(spark, sfDir)).contains("TakeOrdered"),
      "ts_paths top-k not TakeOrdered")
    val nz = physical(SparkEntry.queries("ts_normalize")(spark, sfDir))
    assert(nz.contains("BroadcastExchange") || nz.contains("BroadcastQueryStage"),
      s"ts_normalize stats not broadcast:\n${nz.take(3000)}")
    // the seasonal profile joins back as a broadcast, never a shuffle of
    // the raw points against the profile
    val sa = physical(SparkEntry.queries("ts_anomaly_seasonal")(spark, sfDir))
    assert(sa.contains("BroadcastExchange") || sa.contains("BroadcastQueryStage"),
      s"ts_anomaly_seasonal profile not broadcast:\n${sa.take(3000)}")
  }

  test("ann ranks are bounded two-phase: no corpus-wide per-query sort") {
    // a single row_number PARTITION BY id_a over the query×corpus frame
    // funnels every corpus row for a query through ONE task's sort — at
    // 10^9 vectors that is nQueries single-partition billion-row sorts.
    // rankPerQuery's local phase must rank within (id_a, slice) so the
    // final per-query rank sees ≤ k × #slices rows (the ts_topk_windows
    // recipe on the similarity axis).
    // emb_ann_pq / emb_pq_rerank_curve joined the riders in round 11
    // (the ADC rerank cut moved onto rankPerQuery); the bitq gate rides
    // it on both sides (exact via annTopK, prescreen via annBitq); the
    // filtered IVF and IVF-PQ paths rank per id_a and (ADC cut) per q_id
    for ((q, key) <- Seq("emb_ann_topk" -> "id_a", "emb_ann_bitq" -> "id_a",
        "emb_ann_recall" -> "id_a", "emb_ann_pq" -> "id_a",
        "emb_pq_rerank_curve" -> "id_a", "emb_ann_bitq_recall" -> "id_a",
        "emb_ann_filtered" -> "id_a", "emb_ann_filtered_pq" -> "q_id")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains(s"windowspecdefinition($key#") && plan.contains(", slice#"),
        s"$q rank not two-phase (no ($key, slice) local window):\n${plan.take(3000)}")
    }
  }

  test("bucket-load audits are pure aggregation plans: no join of any kind") {
    // the operators' whole point is pricing a pair join WITHOUT running
    // one — a join sneaking into these plans would defeat them
    for (q <- Seq("dedup_simhash_load", "mm_phash_load", "emb_lsh_load")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("Join"),
        s"$q plan contains a join:\n${plan.take(3000)}")
    }
  }

  test("emb_ann_pq: broadcast codebook/dtable, no cartesian, TakeOrdered-free windows bounded") {
    val plan = physical(SparkEntry.queries("emb_ann_pq")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"emb_ann_pq:\n${plan.take(3000)}")
    // the codebook and per-query distance tables are metadata-scale
    // broadcasts; the corpus is never nested-loop joined
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastQueryStage"),
      s"emb_ann_pq codebook/dtable not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"emb_ann_pq degraded to a nested loop:\n${plan.take(3000)}")
  }

  test("q4/q22: semi and anti joins plan as hash joins, never NOT-IN scans") {
    // q4's EXISTS must plan as a LeftSemi equi-join on orderkey (the
    // late-ship residual rides the join condition, not a fanning inner
    // join + distinct); q22's NOT EXISTS as a LeftAnti equi-join. The
    // one BNLJ allowed in q22 is the 1-row stats broadcast (the
    // emb_outliers shape); true cartesians stay banned.
    val q4 = physical(SparkEntry.queries("q4_semi")(spark, sfDir))
    assert(q4.contains("LeftSemi"), s"q4_semi not a semi join:\n${q4.take(3000)}")
    assert(!q4.contains("CartesianProduct"), s"q4_semi:\n${q4.take(3000)}")
    // q19's disjunction must DECOMPOSE into per-side pushed OR filters:
    // the brand/size OR reaches the part scan, the quantity OR the
    // lineitem scan — not one residual filter above the join
    val q19 = physical(SparkEntry.queries("q19_join")(spark, sfDir))
    assert(q19.contains("Or(And(EqualTo(p_brand"), s"q19 part OR not pushed:\n${q19.take(3000)}")
    assert(q19.contains("Or(And(GreaterThanOrEqual(l_quantity"),
      s"q19 lineitem OR not pushed:\n${q19.take(3000)}")
    val q22 = physical(SparkEntry.queries("q22_anti")(spark, sfDir))
    assert(q22.contains("LeftAnti"), s"q22_anti not an anti join:\n${q22.take(3000)}")
    assert(!q22.contains("CartesianProduct"), s"q22_anti:\n${q22.take(3000)}")
    assert(q22.contains("BroadcastExchange") || q22.contains("BroadcastQueryStage"),
      s"q22_anti stats row not broadcast:\n${q22.take(3000)}")
  }

  test("round-5c ops: pushed bounds, no cartesians, funnel merges as-of") {
    for (q <- Seq("ts_stddev", "ts_deriv", "ts_wow", "ts_funnel",
        "emb_norms", "emb_dim_stats", "text_wordlen", "dedup_prefix")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(3000)}")
    }
    // the moment aggregations filter the derived t_us axis — raw ts bounds
    // must reach the parquet scan (DivComparisonBounds)
    for (q <- Seq("ts_stddev", "ts_deriv", "ts_wow")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir))
      assert(plan.contains("GreaterThanOrEqual(ts"),
        s"$q time bound not pushed:\n${plan.take(3000)}")
    }
    // the forward as-of inside the funnel must plan the streaming merge
    // operator, not a range join or window-union fallback
    val fn = physical(SparkEntry.queries("ts_funnel")(spark, sfDir))
    assert(fn.contains("AsofMergeJoin"),
      s"funnel should use the as-of merge exec:\n${fn.take(3000)}")
    // wow's prior-window lookup is ONE scan + window frame, not a self-join
    val wow = SparkEntry.queries("ts_wow")(spark, sfDir)
    wow.collect()
    val wowPlan = wow.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nScans = "Scan parquet".r.findAllIn(wowPlan).length
    assert(nScans == 1, s"wow should read one scan, found $nScans:\n${wowPlan.take(3000)}")
  }

  test("dupSpanStats is one gram-window pass: a single g exchange, no join") {
    // the r13 rewrite (Dedup.scala dupSpanStats doc): df ≥ 2 ⟺
    // min(doc_id) ≠ max(doc_id) over the g window — the old
    // per-(doc,gram) agg → df table → join-back plan cost 388.7 s at
    // the 1000× decade where this shape reads 28.4 s. This spec makes
    // the shape a CONTRACT: exactly one hash exchange on the gram key
    // and zero joins, so a refactor can't silently reintroduce the
    // df-table join
    val df = SparkEntry.queries("dedup_span_stats")(spark, sfDir)
    spark.catalog.clearCache()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val gExchange = "Exchange hashpartitioning\\(g#\\d+L?".r
    val nG = plan.linesIterator.filter(l => !l.contains("ReusedExchange"))
      .flatMap(gExchange.findFirstIn).size
    assert(nG == 1,
      s"dupSpanStats must shuffle the gram key exactly once, found $nG:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"dupSpanStats must not join:\n${plan.take(3000)}")
  }
}
