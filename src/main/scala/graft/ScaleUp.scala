package graft
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-scaling dataset generator: writes an N× scale-up of a source SF
  * dir by unioning key-offset copies of the fact tables (dims follow
  * their keys; nation/region stay as-is). Used for the §7d scaling run —
  * the gate SF times are floor-dominated (~0.2 s/query of job overhead),
  * so only a 10× run shows which plans are data-bound.
  *
  * Replication is adjusted where naive copies would fabricate quadratic
  * outputs instead of 10× the work:
  *  - documents: every word of copy i > 0 gets a copy-tag suffix, so
  *    cross-copy shingle overlap is zero — dedup/LSH workloads grow
  *    linearly (10× the clusters), not 100× the candidate pairs;
  *  - embeddings: copy i's vectors are cyclically rotated by i lanes
  *    (norm-preserving), so cross-copy cosines stay unstructured and
  *    pair/kNN outputs scale with the corpus, not with copy count;
  *  - events: copy i offsets user_id — 10× the streams, same per-stream
  *    density, everything inside the queries' fixed time windows.
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [copies=10] [tables]
  * An optional 4th arg (comma-separated table names) restricts which
  * tables are replicated; the rest are copied at 1× so every Tables
  * loader still resolves. This is what makes the 1000× decade runnable:
  * the scale flagships read only documents/embeddings, and replicating
  * lineitem 1000× would spend the disk/write budget on tables no
  * flagship touches.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftConf.local()
    run(spark, src, out, copies, args.lift(3).fold(Seq.empty[String])(_.split(",").toSeq))
    println(s"""{"scaled": "$out", "copies": $copies}""")
    spark.stop()
  }

  /** Write the `copies`× scale-up of `src` into `out`. Non-empty `tables`
    * restricts which tables are replicated; the rest are copied 1×. */
  def run(spark: SparkSession, src: String, out: String, copies: Int,
          tables: Seq[String] = Nil): Unit = {
    val only = tables.map(_.trim).filter(_.nonEmpty).toSet
    val scaled: String => Boolean = n => only.isEmpty || only(n)
    // events.parquet stores TIMESTAMP(NANOS), readable only as longs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    // an unscaled table is copied 1× instead of replicated, and its copy
    // transform (plus any probe the transform needs) is never evaluated.
    // Copies are written in ≤500-copy union batches (first Overwrite,
    // rest Append): one union per copy makes the logical plan `copies`
    // deep, and at the 10000× stretch a 10000-way union spent unbounded
    // driver time in analysis before writing a byte (guide §7.3's
    // giant-plan trap) — batching bounds plan depth without changing a
    // single output row.
    def replicateTo(name: String)(copy: (DataFrame, Int) => DataFrame): Unit =
      if (scaled(name))
        (0 until copies).grouped(500).zipWithIndex.foreach { case (batch, bi) =>
          val df = batch.map(i => copy(tbl(name), i)).reduce(_ union _)
          df.write.mode(if (bi == 0) SaveMode.Overwrite else SaveMode.Append)
            .parquet(s"$out/$name.parquet")
        }
      else write(tbl(name), name)

    // the per-copy stream offset must clear the source id space — a fixed
    // 10000 would silently alias copies onto existing streams at a source
    // SF with larger ids, corrupting per-stream density; derive it as a
    // power-of-ten ceiling of max(user_id) instead
    lazy val idStep = {
      val mx = tbl("events").agg(max(col("user_id")).cast("long")).head.getLong(0)
      var s = 10000L
      while (s <= mx) s *= 10
      s
    }
    replicateTo("events") { (d, i) =>
      d.withColumn("user_id", col("user_id") + i * idStep)
    }

    replicateTo("documents") { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("doc_id", col("doc_id") + i * 100000000L)
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"q$i"))), " "))
        .withColumn("n_chars", length(col("text")))
    }

    // rotation alone stops distinguishing copies once copies > dim (i=64
    // would alias back to i=0 on a 64-lane vector, fabricating exact
    // duplicate vectors and quadratic pair counts); compose rotation
    // (i mod dim) with a per-copy hash-derived sign flip — both are
    // orthogonal transforms, so norms are preserved and cross-copy
    // cosines stay unstructured for any copy count
    lazy val embDim = tbl("embeddings")
      .selectExpr("size(embedding) d").limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(sys.error(
        s"$src/embeddings.parquet is empty — cannot derive the embedding " +
          "dim the rotation transform needs"))
    replicateTo("embeddings") { (d, i) =>
      if (i == 0) d
      else {
        val r = i % embDim
        val rotSql =
          if (r == 0) "embedding"
          else s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
            s"slice(embedding, 1, $r))"
        d.withColumn("vec_id", col("vec_id") + i * 10000000L)
          .withColumn("embedding", expr(
            s"transform($rotSql, (x, l) -> " +
              s"CASE WHEN (hash($i, l) % 2) != 0 THEN -x ELSE x END)"))
      }
    }

    replicateTo("lineitem") { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * 10000000000L)
        .withColumn("l_partkey", col("l_partkey") + i * 1000000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000000L)
    }

    replicateTo("orders") { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * 10000000000L)
        .withColumn("o_custkey", col("o_custkey") + i * 1000000000L)
    }

    replicateTo("customer") { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * 1000000000L)
    }

    replicateTo("part") { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * 1000000000L)
    }

    replicateTo("supplier") { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * 100000000L)
    }

    write(tbl("nation"), "nation")
    write(tbl("region"), "region")
  }
}
