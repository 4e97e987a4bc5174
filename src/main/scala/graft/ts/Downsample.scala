package graft.ts

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Visual downsampling: Largest-Triangle-Three-Buckets (LTTB), the
  * standard algorithm dashboards use to reduce a series to `nOut` points
  * while preserving its visual shape (Steinarsson 2013; what Grafana-class
  * front-ends run on every panel refresh — the query a BTrDB user scripts
  * by pulling RawValues and downsampling client-side).
  *
  * Canonical count-based form: first and last points always kept; the
  * remaining points split into nOut-2 equal-count buckets; from each
  * bucket keep the point forming the largest triangle with the PREVIOUSLY
  * KEPT point and the next bucket's mean point. The selection is
  * sequential per stream, so it runs as one flatMapGroups pass per stream
  * key — at 100 TB you run it over window aggregates or a rollup level
  * (bounded per-stream series), exactly like EWMA; the per-group work is
  * O(points-in-range), single pass, no shuffle beyond the stream key.
  *
  * Determinism contract (bit-identical to the SQL oracle's unrolled
  * bucket chain): points ordered by (t, value); bucket of 0-based middle
  * index j is j*(nOut-2)/m (integer division, m = N-2); next-bucket mean
  * uses exact integer sums (t as longs, value in Quant micro-units with
  * the same BigDecimal scale-0 rounding Spark's round() applies); argmax
  * breaks area ties by (t, value) descending.
  */
object Downsample {

  private val SEP = "\u0001"

  private def us6L(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def mean6B(sumUs: BigInt, n: Long): Double =
    java.math.BigDecimal.valueOf(sumUs.doubleValue / n)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue / 1e6

  // stands in for NULL inside the packed key: concat_ws SKIPS nulls, which
  // would collapse (null, "a") and ("a", null) into one stream
  private val NULL_SENTINEL = "\u0000"

  /** LTTB per stream over [start, end); streams with ≤ nOut points pass
    * through unchanged. Output schema: streamCols ++ (t_us, value). Key
    * columns must be castable to/from string without loss (numeric or
    * string stream identities) and must not contain the \u0001 separator.
    */
  def lttb(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
           nOut: Int): DataFrame = {
    require(nOut >= 3, s"nOut must be at least 3, got $nOut")
    val spark = points.sparkSession
    import spark.implicits._
    val key = streamCols.map(col)
    val inRange = points.filter(col("t_us") >= start && col("t_us") < end)
    val keyTypes = inRange.select(key: _*).schema
    val keyed = inRange
      .select(concat_ws(SEP,
          key.map(c => coalesce(c.cast("string"), lit(NULL_SENTINEL))): _*).as("k"),
        col("t_us"), col("value"))
      .as[(String, Long, Double)]

    val picked = keyed.groupByKey(_._1).flatMapGroups { (k, it) =>
      val pts = it.map(r => (r._2, r._3)).toArray
      java.util.Arrays.sort(pts, Ordering.Tuple2[Long, Double])
      if (pts.length <= nOut) pts.iterator.map(p => (k, p._1, p._2))
      else {
        val middle = nOut - 2
        val m = pts.length - 2
        // bucket of middle point j (0-based within 1..N-2): j*middle/m
        def bucketLo(kb: Int): Int = {
          // first j with j*middle/m == kb: ceil(kb*m / middle)
          1 + ((kb.toLong * m + middle - 1) / middle).toInt
        }
        val out = Array.newBuilder[(Long, Double)]
        var prev = pts(0)
        out += prev
        var kb = 0
        while (kb < middle) {
          val lo = bucketLo(kb)
          val hi = if (kb + 1 < middle) bucketLo(kb + 1) else m + 1
          // next reference point: bucket kb+1's exact-sum mean, or the
          // last raw point after the final middle bucket
          val (tBar, vBar) =
            if (kb + 1 < middle) {
              val nLo = bucketLo(kb + 1)
              val nHi = if (kb + 2 < middle) bucketLo(kb + 2) else m + 1
              // BigInt sums: a Long wraps past 9.2e18 (epoch-µs timestamps
              // over a few thousand points already cross it) while the SQL
              // oracle sums in HUGEINT — both convert nearest-to-double
              var st = BigInt(0); var sv = BigInt(0); var c = 0L
              var i = nLo
              while (i < nHi) { st += pts(i)._1; sv += us6L(pts(i)._2); c += 1; i += 1 }
              (st.doubleValue / c, mean6B(sv, c))
            } else (pts(pts.length - 1)._1.toDouble, pts(pts.length - 1)._2)
          val x0 = prev._1.toDouble
          val y0 = prev._2
          var bestA = -1.0; var bestT = 0L; var bestV = 0.0; var first = true
          var i = lo
          while (i < hi) {
            val (t, v) = pts(i)
            val a = math.abs((x0 - tBar) * (v - y0) - (x0 - t.toDouble) * (vBar - y0))
            if (first || a > bestA ||
                (a == bestA && (t > bestT || (t == bestT && v > bestV)))) {
              bestA = a; bestT = t; bestV = v; first = false
            }
            i += 1
          }
          out += ((bestT, bestV))
          prev = (bestT, bestV)
          kb += 1
        }
        out += pts(pts.length - 1)
        out.result().iterator.map(p => (k, p._1, p._2))
      }
    }

    // restore the typed stream-key columns by unpacking the key string —
    // no second scan of the fact data, no join
    val parts = split(col("k"), SEP, -1)
    val restored = keyTypes.zipWithIndex.map { case (f, i) =>
      when(parts(i) === NULL_SENTINEL, lit(null))
        .otherwise(parts(i)).cast(f.dataType).as(f.name)
    }
    picked.toDF("k", "t_us", "value")
      .select(restored :+ col("t_us") :+ col("value"): _*)
  }

  /** Scale-path LTTB (the documented swap-in behind `ts_lttb_bucketed`,
    * following the percentile/cardinality approx-variant precedent):
    * identical bucket layout, reference means, and triangle/tie rule as
    * lttb(), but each bucket is pre-reduced to its M4 candidate set —
    * first/last in time and min/max in value, deterministic struct-extreme
    * tie-breaks — and the sequential pass selects among those. On buckets
    * whose winning triangle sits at an extreme (monotone or sawtooth
    * windows, the common dashboard shapes) the output equals exact LTTB;
    * elsewhere it may pick a different bucket representative, which is
    * the documented approximation.
    *
    * Why it scales where lttb() cannot: lttb() sorts each stream's whole
    * in-range history inside one flatMapGroups task, so it must be served
    * from a rollup level / bounded range. Here the per-point index is the
    * two-phase sliced prefix count (TimeSeriesOps.timeSliced +
    * slicedRunningSum — no stream-wide sort), candidates and bucket means
    * are map-side-partial groupBys, and the only sequential pass runs
    * over nOut-scale candidate summaries per stream.
    */
  def lttbBucketed(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                   nOut: Int): DataFrame = {
    require(nOut >= 3, s"nOut must be at least 3, got $nOut")
    val spark = points.sparkSession
    import spark.implicits._
    val key = streamCols.map(col)
    val middle = nOut - 2
    val inRange = points.filter(col("t_us") >= start && col("t_us") < end)
      .select(key :+ col("t_us") :+ col("value"): _*)
    val keyTypes = inRange.select(key: _*).schema

    // per-point 1-based index in (t_us, value) order — distributed prefix
    // count, never a stream-wide sort — plus the metadata-scale per-stream
    // total joined back broadcast (null-safe: null keys are real streams)
    val rn = TimeSeriesOps.slicedRunningSum(
      TimeSeriesOps.timeSliced(inRange, streamCols), streamCols, lit(1L), "rn")
    val counts = inRange.groupBy(key: _*).agg(count(lit(1)).as("n"))
    val cRenamed = streamCols.foldLeft(counts)((d, c) => d.withColumnRenamed(c, s"__c_$c"))
    val joinCond = streamCols.map(c => col(c) <=> col(s"__c_$c")).reduce(_ && _)
    val withN = rn.join(broadcast(cRenamed), joinCond)
      .drop(streamCols.map(c => s"__c_$c"): _*)

    // small streams pass through verbatim: they need (rows, n) but never
    // rn, so they are served from inRange + the broadcast counts — NOT
    // from the sliced prefix pipeline (keeping it single-consumer)
    val small = inRange.join(broadcast(cRenamed), joinCond)
      .filter(col("n") <= nOut)
      .select(key :+ col("t_us") :+ col("value"): _*)
    val packedKey = concat_ws(SEP,
      key.map(c => coalesce(c.cast("string"), lit(NULL_SENTINEL))): _*)
    // the first/last rows ride the SAME aggregation as the buckets, as
    // singleton groups kb = -1 / kb = middle: one pass over the heavy
    // frame computes bucket means, M4 candidate extremes, and endpoints
    // together (separately-aggregated branches would each replay the
    // whole prefix pipeline — this was the dominant cost of the query)
    val big = withN.filter(col("n") > nOut).withColumn("k", packedKey)
      .select(col("k"), col("rn"), col("n"), col("t_us"), col("value"))
      .withColumn("kb",
        when(col("rn") === 1, lit(-1L))
          .when(col("rn") === col("n"), lit(middle.toLong))
          .otherwise(expr(s"((rn - 2) * $middle) div (n - 2)")))
    val g = big.groupBy(col("k"), col("kb"))
      .agg(count(lit(1)).as("c"),
        // buckets are unbounded groups (N / (nOut-2) points): exact
        // decimal sums per the graft.Quant overflow rule; the oracle
        // replays CAST(sum AS DOUBLE) division
        sum(col("t_us").cast("decimal(38,0)")).as("st"),
        graft.Quant.sumUs6Unbounded(col("value")).as("sus"),
        min(struct(col("t_us"), col("value"))).as("c1"),
        max(struct(col("t_us"), col("value"))).as("c2"),
        min(struct(col("value"), col("t_us"))).as("c3"),
        max(struct(col("value"), col("t_us"))).as("c4"))
    // one tagged union, nOut-scale per stream, for the sequential pass:
    // kind 0/1 = first/last point (the singleton groups' min struct IS
    // the endpoint row), 2 = bucket candidate, 3 = bucket mean. Built as
    // a SINGLE explode over g — filter-per-kind branches would push the
    // kb predicate below the aggregate and re-run the whole prefix
    // pipeline once per branch (which was the dominant cost here)
    val candArr = array_distinct(array(
      col("c1"), col("c2"),
      struct(col("c3.t_us").as("t_us"), col("c3.value").as("value")),
      struct(col("c4.t_us").as("t_us"), col("c4.value").as("value"))))
    def tagged(kind: Int, kb: Column, t: Column, v: Column,
               tb: Column, vb: Column) =
      struct(lit(kind).as("kind"), kb.as("kb"), t.as("t_us"), v.as("value"),
        tb.as("tbar"), vb.as("vbar"))
    val endpoint = (kind: Int) => array(tagged(kind, lit(-1L),
      col("c1.t_us"), col("c1.value"), lit(0.0), lit(0.0)))
    val packed = g.select(col("k"), explode(
        when(col("kb") === -1L, endpoint(0))
          .when(col("kb") === middle.toLong, endpoint(1))
          .otherwise(concat(
            transform(candArr, cd => tagged(2, col("kb"),
              cd.getField("t_us"), cd.getField("value"), lit(0.0), lit(0.0))),
            array(tagged(3, col("kb"), lit(0L), lit(0.0),
              col("st").cast("double") / col("c").cast("double"),
              graft.Quant.mean6(col("sus"), col("c"))))))).as("e"))
      .select(col("k"), col("e.kind"), col("e.kb"), col("e.t_us"),
        col("e.value"), col("e.tbar"), col("e.vbar"))
      .as[(String, Int, Long, Long, Double, Double, Double)]

    val picked = packed.groupByKey(_._1).flatMapGroups { (k, it) =>
      var ft = 0L; var fv = 0.0; var lt = 0L; var lv = 0.0
      val bmOf = scala.collection.mutable.HashMap.empty[Long, (Double, Double)]
      val candsOf = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
      it.foreach {
        case (_, 0, _, t, v, _, _) => ft = t; fv = v
        case (_, 1, _, t, v, _, _) => lt = t; lv = v
        case (_, 2, kb, t, v, _, _) =>
          candsOf.getOrElseUpdate(kb,
            scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]) += ((t, v))
        case (_, _, kb, _, _, tb, vb) => bmOf(kb) = (tb, vb)
      }
      val out = Array.newBuilder[(String, Long, Double)]
      out += ((k, ft, fv))
      var x0 = ft.toDouble; var y0 = fv
      var kb = 0
      while (kb < middle) {
        val (tBar, vBar) =
          if (kb + 1 < middle) bmOf(kb + 1) else (lt.toDouble, lv)
        var bestA = -1.0; var bestT = 0L; var bestV = 0.0; var first = true
        candsOf.getOrElse(kb, scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
          .foreach { case (t, v) =>
            val a = math.abs((x0 - tBar) * (v - y0) - (x0 - t.toDouble) * (vBar - y0))
            if (first || a > bestA ||
                (a == bestA && (t > bestT || (t == bestT && v > bestV)))) {
              bestA = a; bestT = t; bestV = v; first = false
            }
          }
        out += ((k, bestT, bestV))
        x0 = bestT.toDouble; y0 = bestV
        kb += 1
      }
      out += ((k, lt, lv))
      out.result().iterator
    }

    val parts = split(col("k"), SEP, -1)
    val restored = keyTypes.zipWithIndex.map { case (f, i) =>
      when(parts(i) === NULL_SENTINEL, lit(null))
        .otherwise(parts(i)).cast(f.dataType).as(f.name)
    }
    picked.toDF("k", "t_us", "value")
      .select(restored :+ col("t_us") :+ col("value"): _*)
      .unionByName(small)
  }

  /** Dashboard-facing LTTB, scale-safe by default: exact lttb() while
    * every stream's in-range history fits one task, the bucketed M4 plan
    * beyond that — the percentile/cardinality swap-in pattern made
    * automatic, so callers of the canonical name never hit the
    * sort-a-stream-in-one-task cliff. The probe is one map-side-partial
    * count per stream reduced to a single driver row (the same
    * metadata-scale decision Lloyd/IvfIndex already make); at dashboard
    * call rates the probe is served from the same scan cache as the
    * query itself.
    */
  def lttbAuto(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
               nOut: Int, maxExactPoints: Long = 1000000L): DataFrame = {
    val maxPerStream = points
      .filter(col("t_us") >= start && col("t_us") < end)
      .groupBy(streamCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    if (maxPerStream.forall(_ <= maxExactPoints))
      lttb(points, streamCols, start, end, nOut)
    else lttbBucketed(points, streamCols, start, end, nOut)
  }

  /** N(0,1) upper-quartile breakpoint for the 4-letter SAX alphabet —
    * the one literal both engines embed verbatim (the Lin et al. table
    * value for a = 4 is ±Φ⁻¹(3/4)); symbols split at (−BP, 0, +BP).
    */
  val SAX_BREAK = 0.6744897501960817

  /** SAX — Symbolic Aggregate approXimation (Lin, Keogh et al. 2003):
    * each stream reduced to one short WORD — equal-width time buckets
    * (PAA means), z-normalized against the stream's own bucket-mean
    * distribution, each z mapped to a 4-letter alphabet at the fixed
    * N(0,1) quartile breakpoints. The motif/novelty indexing front-end a
    * BTrDB user scripts by pulling windows client-side; here one plan.
    *
    * Determinism contract (bit-identical to the DuckDB oracle): bucket
    * means are exact-µ-unit MEAN6 integers; the per-stream variance
    * numerator D = n·Σm² − (Σm)² is assembled in exact DECIMAL
    * arithmetic (the ts_stddev rule) and only the final D is cast;
    * σ_us = sqrt(D)/n and z = (m − µ)/σ_us are IEEE-pinned (sqrt and /
    * are correctly rounded on both engines), and symbol boundaries are
    * float comparisons against the shared SAX_BREAK literal. A
    * zero-variance stream (σ_us = 0, incl. single-bucket streams) reads
    * all-'c' by the guard branch, never NaN.
    *
    * Scale shape: one map-side-partial groupBy to bucket means, then
    * window + word assembly over GRID-BOUNDED per-stream groups (≤
    * (end−start)/width rows each — metadata scale, like rolling()); the
    * final groupBy reuses the window's hash partitioning, so the whole
    * op is two exchanges of the bucket-summary table, never of raw
    * points.
    */
  def sax(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
          width: Long): DataFrame =
    saxSymbols(points, streamCols, start, end, width)
      .groupBy(streamCols.map(col): _*)
      .agg(count(lit(1)).as("n_buckets"),
        concat_ws("", sort_array(collect_list(struct(col("w_start"), col("sym"))))
          .getField("sym")).as("word"))

  /** The SAX symbol series sax() and motifs() read: one row per
    * (stream, complete bucket) with its rounded µ-unit PAA mean `m_us`,
    * the stream's bucket count `nb`, σ_us `sd_us`, µ_us `mean_us`, `z`
    * and the symbol `sym` — the arithmetic sax()'s doc pins.
    */
  private def saxSymbols(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
                         width: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(width > 0, s"width must be positive, got $width")
    val key = streamCols.map(col)
    val buckets = points
      .filter(TimeSeriesOps.inWindows(start, end, width))
      .groupBy(key :+ TimeSeriesOps.widthBucket(start, width): _*)
      .agg(sum(graft.Quant.us6(col("value"))).as("sum_us"), count(lit(1)).as("n"))
      .select(key ++ Seq(col("w_start"),
        round(col("sum_us").cast("double") / col("n"), 0).cast("long").as("m_us")): _*)
    val w = Window.partitionBy(key: _*)
    val mDec = col("m_us").cast("decimal(38,0)")
    val nb = count(lit(1)).over(w)
    val s1 = sum(col("m_us")).over(w).cast("decimal(38,0)")
    val s2 = sum(mDec * mDec).over(w)
    buckets
      .withColumn("nb", nb)
      .withColumn("sd_us",
        sqrt((col("nb").cast("decimal(38,0)") * s2 - s1 * s1).cast("double")) / col("nb"))
      .withColumn("mean_us", s1.cast("double") / col("nb"))
      .withColumn("z", when(col("sd_us") === 0d, lit(0d)) // ANSI: guard ÷0
        .otherwise((col("m_us").cast("double") - col("mean_us")) / col("sd_us")))
      .withColumn("sym",
        when(col("sd_us") === 0d, lit("c"))
          .when(col("z") < -SAX_BREAK, lit("a"))
          .when(col("z") < 0d, lit("b"))
          .when(col("z") < SAX_BREAK, lit("c"))
          .otherwise(lit("d")))
  }

  /** Subsequence motif discovery over the SAX symbol stream (Lin, Keogh
    * et al. 2003 §4): slide a length-`w` window over every stream's
    * z-normalized symbol series and rank the subwords by total
    * occurrence count — the repeated-shape report (whole SAX words are
    * nearly unique at any realistic word length; motifs live in the
    * subsequences). Emits the top `k` subwords with their occurrence
    * and distinct-stream counts.
    *
    * Subwords assemble from `w − 1` lead()s over the per-stream bucket
    * order — deterministic, no collect_list ordering assumption — and
    * only COMPLETE windows count (trailing positions with fewer than
    * `w` remaining buckets emit nothing). Positions index consecutive
    * non-empty buckets: a stream with a data gap contributes the
    * subword spanning it, the standard PAA-series treatment.
    *
    * Scale shape: the symbol series is sax()'s own frame (saxSymbols —
    * two metadata-scale exchanges, raw points never shuffled);
    * the subword aggregation adds one map-side-partial groupBy over ≤
    * 4^w distinct keys and the top-k is a TakeOrdered.
    */
  def motifs(points: DataFrame, streamCols: Seq[String], start: Long, end: Long,
             width: Long, w: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w > 1, s"subword length must be at least 2, got $w")
    require(k > 0, s"k must be positive, got $k")
    val key = streamCols.map(col)
    val wOrd = Window.partitionBy(key: _*).orderBy(col("w_start"))
    val parts = col("sym") +: (1 until w).map(i => lead(col("sym"), i).over(wOrd))
    saxSymbols(points, streamCols, start, end, width)
      .withColumn("subword",
        when(parts.map(_.isNotNull).reduce(_ && _), concat(parts: _*)))
      .filter(col("subword").isNotNull)
      .groupBy(col("subword"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(key.head, key.tail: _*).as("n_streams"))
      .orderBy(col("n_occ").desc, col("subword"))
      .limit(k)
  }

  /** DTW similarity search — rank the fleet by Dynamic Time Warping
    * distance to one query stream's PAA profile (Berndt & Clifford 1994;
    * the UCR-suite "find streams with this SHAPE" query, tolerant of
    * phase shifts and local speed-ups that defeat ts_similar's aligned
    * Pearson correlation). Each stream first reduces to its
    * time-ordered PAA profile (TimeSeriesOps.windowMeans over the
    * complete buckets — rounded integer micro-units), so the DP runs over
    * GRID-BOUNDED arrays (≤ (end−start)/width entries), never raw points:
    * per candidate the codegen'd `plans.DtwDistance` kernel costs O(n·m)
    * time and O(m) memory on metadata-scale rows, and candidates never
    * join each other — the one query profile broadcasts onto the fleet
    * (the similarStreams shape) and the top-k is a TakeOrdered.
    *
    * Determinism contract: profile entries are exact integers, the cell
    * cost |qᵢ−cⱼ| and every min/plus along the warping path stay in
    * exact long arithmetic, so the distance — and the top-k cut under
    * the (dtw, stream-key) total order — is bit-identical across
    * engines. The DuckDB oracle cannot express the row-sequential DP,
    * so it replays the SAME recurrence in its min-plus-scan form
    * (dp[i][j] = S[j] + min_{k≤j}(min(prev[k], prev[k−1]) − S[k−1]),
    * S = the row's cost prefix sum — an exact algebraic identity, proved
    * by unrolling dp[i][j−1], so equal integers cell for cell) inside a
    * recursive CTE that carries each row as a LIST.
    *
    * Streams with no in-range points have no profile and do not rank; an
    * absent query stream yields an empty result. A cost or path sum
    * past 2⁶³ − 1 µ-units is not clamped or wrapped: it raises
    * `ARITHMETIC_OVERFLOW` (two streams at values ±9e12 already do).
    */
  def dtwSimilar(points: DataFrame, streamCols: Seq[String], queryPred: Column,
                 start: Long, end: Long, width: Long, k: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(k > 0, s"k must be positive, got $k")
    val key = streamCols.map(col)
    val profiles = TimeSeriesOps.windowMeans(points, streamCols, start,
        TimeSeriesOps.windowsEnd(start, end, width), width, "m_us")
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(col("w_start"), col("m_us"))))
        .getField("m_us").as("pa"))
    val qProfile = broadcast(profiles.filter(queryPred).select(col("pa").as("qa")))
    val scored = profiles.filter(!queryPred)
      .withColumnRenamed("pa", "ca")
      .crossJoin(qProfile)
      .withColumn("dtw_us", graft.plans.DtwDistance.dtw(col("qa"), col("ca")))
      .select(key ++ Seq(size(col("ca")).cast("long").as("n_buckets"),
        (col("dtw_us").cast("double") / 1e6 + lit(0d)).as("dtw")): _*)
    val ord = col("dtw").asc +: key.map(_.asc)
    scored.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(graft.Bounded.window(ord: _*)).cast("long"))
  }
}
