package graft.ts

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** A per-key log of version claims, `dir/<key>/<ver>`: one small file per
  * claimed version, holding a one-line body. A writer claims (key, ver) by
  * put-if-absent before it writes any data, so two writers can never hold
  * the same version of one key — the write-ahead record of Structured
  * Streaming's offset log, and the role BTrDB gives its atomic root commit
  * and etcd's compare-and-swap (PAPER.md §1).
  *
  * Put-if-absent is `java.nio.file.Files.createFile` (O_EXCL) on the local
  * file system and `FileSystem.create(overwrite = false)` elsewhere, which
  * is atomic on HDFS. On a store without an atomic create (an object store)
  * the log keeps the one-writer-per-key rule the data layout always had.
  *
  * Reading a key lists its directory and reads each body: metadata-scale
  * work on the driver, no Spark job. The owner folds a key's records into
  * one now and then (Store.compact), so a listing stays bounded by the
  * writes since the last fold.
  *
  * A log opened over data written before it existed is seeded once from
  * that data (`open`), after which the `.native` marker makes it the source
  * of truth for the whole base.
  */
private[graft] final class ClaimLog(dir: String, conf: Configuration) {
  private val root = new Path(dir)
  private val fs = root.getFileSystem(conf)
  /** The local directory of the log when it lives on the local file system. */
  private val localRoot: Option[java.nio.file.Path] =
    if (fs.getScheme == "file") Some(java.nio.file.Paths.get(fs.makeQualified(root).toUri))
    else None
  private val marker = ".native"
  @volatile private var native = false

  /** Seeds the log from the data of a base written before it: when the
    * marker is absent and `legacy` holds, every `(key, ver, body)` of
    * `floors` is claimed; then the marker is written. Runs its arguments
    * at most once per base (and once per instance to learn the marker).
    */
  def open(legacy: => Boolean, floors: => Iterable[(String, Long, String)]): ClaimLog = {
    if (!native) {
      if (!fs.exists(new Path(root, marker))) {
        if (legacy) floors.foreach { case (k, v, body) => claim(k, v, body) }
        fs.mkdirs(root)
        fs.create(new Path(root, marker), true).close()
      }
      native = true
    }
    this
  }

  /** The keys holding at least one record. */
  def keys: Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(st => java.net.URLDecoder.decode(st.getPath.getName, UTF_8))

  /** `key` as one directory name: URL-encoded, dots included, so a key
    * holding `/` or reading `..` stays inside the log.
    */
  private def dirName(key: String): String =
    java.net.URLEncoder.encode(key, UTF_8).replace(".", "%2E")

  /** The versions claimed for `key`, ascending. */
  def versions(key: String): Seq[Long] = localRoot match {
    case Some(r) =>
      val d = r.resolve(dirName(key))
      if (!Files.isDirectory(d)) Nil
      else {
        val s = Files.list(d)
        try s.iterator().asScala.flatMap(_.getFileName.toString.toLongOption).toVector.sorted
        finally s.close()
      }
    case None =>
      val d = new Path(root, dirName(key))
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.flatMap(st => st.getPath.getName.toLongOption).sorted
  }

  /** The highest version claimed for `key`; 0 when it has none. */
  def latest(key: String): Long = versions(key).lastOption.getOrElse(0L)

  /** The highest version of `key` whose body `accept` takes; 0 when none
    * does. Reads bodies from the top down, so usually one.
    */
  def latest(key: String, accept: String => Boolean): Long =
    versions(key).reverseIterator.find(v => read(key, v).exists(accept)).getOrElse(0L)

  /** `key`'s records, ascending by version: (ver, body). A record removed
    * between the listing and its read (a release, a fold) is skipped.
    */
  def records(key: String): Seq[(Long, String)] =
    versions(key).flatMap(v => read(key, v).map(v -> _))

  private def read(key: String, ver: Long): Option[String] = localRoot match {
    case Some(r) =>
      try Some(new String(Files.readAllBytes(r.resolve(dirName(key)).resolve(ver.toString)), UTF_8))
      catch { case _: NoSuchFileException => None }
    case None =>
      val p = file(key, ver)
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
  }

  private def file(key: String, ver: Long) = new Path(new Path(root, dirName(key)), ver.toString)

  /** Claims (key, ver) with `body`; false when the version is already held. */
  def claim(key: String, ver: Long, body: String): Boolean = localRoot match {
    case Some(r) =>
      val d = Files.createDirectories(r.resolve(dirName(key)))
      val p = d.resolve(ver.toString)
      try { Files.createFile(p); Files.write(p, body.getBytes(UTF_8)); true }
      catch { case _: FileAlreadyExistsException => false }
    case None =>
      try {
        val out = fs.create(file(key, ver), false)
        try out.write(body.getBytes(UTF_8)) finally out.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Replaces the body of a held claim (atomically on the local file system). */
  def rewrite(key: String, ver: Long, body: String): Unit = localRoot match {
    case Some(r) =>
      val d = r.resolve(dirName(key))
      val tmp = Files.createTempFile(d, s".$ver.", ".tmp")
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, d.resolve(ver.toString),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    case None =>
      val out = fs.create(file(key, ver), true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  /** Gives up a claim: its version is free to claim again. */
  def release(key: String, ver: Long): Unit = { fs.delete(file(key, ver), false); () }
}

private[graft] object ClaimLog {
  private val appendLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** Runs an append job to `dir`, or to dirs below it, while no other
    * append under the same `dir` from this JVM runs. Spark's file
    * committer stages every append job to a dir under the same
    * `dir/_temporary` and deletes it when a job commits, so two appends to
    * one dir at once can fail each other; writers in separate processes
    * keep to one data writer per dir. An owner that claims, writes and
    * marks a version inside one call also commits its claims in order.
    */
  def appending[T](dir: String)(write: => T): T =
    appendLocks.computeIfAbsent(dir, _ => new AnyRef).synchronized(write)
}
