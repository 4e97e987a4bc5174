package graft

import graft.ts.MetaStore

/** Stream-descriptor lifecycle: create / CAS-annotate / delete / recreate.
  * The reference allows re-creating an obliterated uuid; the recreated
  * descriptor must be visible and writable (its revision continues above
  * the delete tombstone instead of restarting at 1 and vanishing).
  */
class MetaStoreSpec extends SparkSuite {
  import spark.implicits._

  private def mk = MetaStore(spark, tmpDir("meta"))

  test("create, annotate with CAS, lookup") {
    val ms = mk
    ms.create("u1", "plant/a", Map("unit" -> "V"))
    val v2 = ms.setAnnotations("u1", 1L, Map("calib" -> Some("2026-01")))
    assert(v2 == 2L)
    intercept[IllegalArgumentException] {
      ms.setAnnotations("u1", 1L, Map("calib" -> Some("stale"))) // CAS mismatch
    }
    val d = ms.lookup("plant/").as[(String, String, Map[String, String], Map[String, String], Long)]
      .collect()
    assert(d.length == 1 && d.head._4 == Map("calib" -> "2026-01"))
  }

  test("create after delete resurrects the stream") {
    val ms = mk
    ms.create("u1", "plant/a", Map("unit" -> "V"))
    ms.setAnnotations("u1", 1L, Map("k" -> Some("v")))
    ms.delete("u1")
    assert(ms.descriptors.filter($"uuid" === "u1").count() == 0) // gone
    ms.create("u1", "plant/b", Map("unit" -> "A")) // reference allows this
    val d = ms.descriptors.filter($"uuid" === "u1")
      .as[(String, String, Map[String, String], Map[String, String], Long)]
      .collect()
    assert(d.length == 1, "recreated stream must be visible")
    assert(d.head._2 == "plant/b" && d.head._4.isEmpty)
    // and the recreated stream is writable at its current revision
    val v = ms.setAnnotations("u1", d.head._5, Map("k2" -> Some("v2")))
    assert(v == d.head._5 + 1)
  }

  test("delete requires an existing stream; double delete is rejected") {
    val ms = mk
    intercept[IllegalArgumentException] { ms.delete("ghost") }
    ms.create("u1", "c", Map.empty)
    ms.delete("u1")
    intercept[IllegalArgumentException] { ms.delete("u1") }
    // revision history stays strictly monotone: recreate continues above
    ms.create("u1", "c2", Map.empty)
    import spark.implicits._
    val revs = spark.read.parquet(s"${ms.base}/streams_meta")
      .filter($"uuid" === "u1").select($"annotationVersion")
      .as[Long].collect().sorted
    assert(revs.toSeq == Seq(1L, 2L, 3L), s"revisions were ${revs.toSeq}")
  }

  /** Runs `n` copies of `body` at once; each result or its error. */
  private def race[T](n: Int)(body: Int => T): Seq[Either[Throwable, T]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = { start.await(); body(i) }
      }))
      start.countDown()
      fs.map(f => try Right(f.get()) catch {
        case e: java.util.concurrent.ExecutionException => Left(e.getCause)
      })
    } finally pool.shutdown()
  }

  test("racing setAnnotations at one expected version: one wins, the rest get a CAS error") {
    val ms = mk
    ms.create("u1", "plant/a", Map("unit" -> "V"))
    val n = 4
    val got = race(n)(i => ms.setAnnotations("u1", 1L, Map("writer" -> Some(i.toString))))
    assert(got.count(_ == Right(2L)) == 1, s"$got")
    got.collect { case Left(e) => e }.foreach { e =>
      assert(e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("annotation version mismatch"), e.toString)
    }
    assert(got.count(_.isLeft) == n - 1)
    val winner = got.indexWhere(_ == Right(2L)).toString
    val live = ms.descriptors.filter($"uuid" === "u1")
      .as[(String, String, Map[String, String], Map[String, String], Long)].collect()
    assert(live.length == 1 && live.head._5 == 2L && live.head._4 == Map("writer" -> winner))
  }

  test("racing creates of one stream: one wins") {
    val ms = mk
    val got = race(2)(i => ms.create("u1", s"plant/$i", Map.empty))
    assert(got.count(_.isRight) == 1, s"$got")
    got.collect { case Left(e) => e }.foreach(e =>
      assert(e.getMessage.contains("already exists"), e.toString))
    assert(ms.descriptors.filter($"uuid" === "u1").count() == 1)
  }

  test("a create that died between its claim and its append leaves the stream creatable") {
    val ms = mk
    ms.create("u0", "plant/a", Map.empty)
    // the claim of u1's first revision, with no row behind it
    val log = new java.io.File(s"${ms.base}/_meta_log/u1")
    log.mkdirs()
    java.nio.file.Files.write(new java.io.File(log, "1").toPath, "live".getBytes("UTF-8"))
    assert(ms.descriptors.filter($"uuid" === "u1").count() == 0)
    intercept[IllegalArgumentException](ms.setAnnotations("u1", 1L, Map("k" -> Some("v"))))
    ms.create("u1", "plant/b", Map("unit" -> "V"))
    val live = ms.descriptors.filter($"uuid" === "u1")
      .as[(String, String, Map[String, String], Map[String, String], Long)].collect()
    assert(live.map(r => (r._2, r._5)).toSeq == Seq(("plant/b", 2L)), live.toSeq.toString)
    intercept[IllegalArgumentException](ms.create("u1", "plant/c", Map.empty))
    assert(ms.setAnnotations("u1", 2L, Map("k" -> Some("v"))) == 3L)
  }

  test("double create is rejected while the stream lives") {
    val ms = mk
    ms.create("u1", "c", Map.empty)
    intercept[IllegalArgumentException] { ms.create("u1", "c", Map.empty) }
  }
}
