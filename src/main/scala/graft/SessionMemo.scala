package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A session-shared intermediate: built at most once per (session, data
  * dir) and handed to every query of that session that reads it, until
  * the fixture files it was built from change.
  *
  * Key: the session's UUID plus the data dir. The UUID, not the session
  * object, so a stopped session is never pinned; and not an identity
  * hash, which the JVM can reuse for a later session after GC, so a new
  * session never inherits another's entry. Entries live as long as the
  * JVM (one per session and dir that ever read the memo).
  *
  * Validity: each entry stores a fingerprint of its inputs (path, length
  * and mtime of every file under each input table), listed BEFORE the
  * build. Every read lists them again; on any difference the entry is
  * rebuilt and replaced, so a directory rewritten inside a session is
  * never answered from the old data. A memo built on other memos
  * inherits their inputs, so a rewrite invalidates the whole chain.
  *
  * Concurrency: one lock per key, held across the build — concurrent
  * readers of one key wait for a single build. Each memo owns its own
  * map, and a build that reads other memos takes only THEIR keys' locks,
  * so memos nest freely (memos form a DAG, never a cycle).
  *
  * What the memo holds is the build's business: relations are
  * checkpointed (`graft.Caching`) so they survive
  * `spark.catalog.clearCache()`, which never touches this map.
  */
final class SessionMemo[T] private (
    val name: String,
    val inputs: Seq[String],
    val builtOn: Seq[SessionMemo[_]],
    build: (SparkSession, String) => T) {

  private final class Slot {
    var fingerprint: Seq[(String, Long, Long)] = _
    var value: T = _
  }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  /** Every memo this one is built on, directly or through another. */
  def upstream: Seq[SessionMemo[_]] =
    builtOn.flatMap(m => m +: m.upstream).distinct

  def apply(spark: SparkSession, dir: String): T = {
    SessionMemo.noteRead(name)
    val slot = slots.computeIfAbsent((SessionMemo.sessionUuid(spark), dir), _ => new Slot)
    slot.synchronized {
      val fp = SessionMemo.fingerprint(spark, dir, inputs)
      if (fp != slot.fingerprint) {
        slot.value = SessionMemo.building(name)(build(spark, dir))
        slot.fingerprint = fp
      }
      slot.value
    }
  }
}

object SessionMemo {

  /** `tables`: the fixture tables the build reads itself. `builtOn`: the
    * memos the build reads, whose inputs this memo inherits.
    */
  def apply[T](name: String, tables: Seq[String],
               builtOn: Seq[SessionMemo[_]] = Nil)
              (build: (SparkSession, String) => T): SessionMemo[T] =
    new SessionMemo(name, (tables ++ builtOn.flatMap(_.inputs)).distinct,
      builtOn, build)

  /** Stable per-session key. Classic sessions carry a true UUID
    * (`sessionUUID` — Scala-private[sql] but bytecode-public, hence the
    * reflective read); any runtime without it falls back to the identity
    * hash (same no-pinning property, with the reuse caveat above).
    */
  private def sessionUuid(spark: SparkSession): String =
    try spark.getClass.getMethod("sessionUUID").invoke(spark).toString
    catch { case _: ReflectiveOperationException | _: ClassCastException =>
      System.identityHashCode(spark).toHexString }

  /** (path, length, mtime) of every file under each input table; a
    * missing table lists as one (path, -1, -1) row. Plain FileStatus
    * listings only: a located listing makes the local file system load
    * each file's owner and permissions, by forking `ls` per file when
    * Hadoop's native library is absent.
    */
  private def fingerprint(spark: SparkSession, dir: String,
                          tables: Seq[String]): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def files(fs: FileSystem, f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else fs.listStatus(f.getPath).sortBy(_.getPath.toString).toSeq.flatMap(files(fs, _))
    tables.flatMap { t =>
      val root = new Path(graft.io.Tables.path(dir, t))
      val fs = root.getFileSystem(conf)
      try files(fs, fs.getFileStatus(root))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Seq((root.toString, -1L, -1L)) }
    }
  }

  // Read log for consumer-declaration checks: (reader, memo) pairs,
  // where reader is the memo whose build made the read, or "" for a
  // read made outside any build. Thread-local, so only reads on the
  // calling thread are logged.
  private val reader = ThreadLocal.withInitial[String](() => "")
  private val readLog = new ThreadLocal[mutable.Set[(String, String)]]

  private def noteRead(name: String): Unit =
    Option(readLog.get).foreach(_ += (reader.get -> name))

  private def building[T](name: String)(body: => T): T = {
    val outer = reader.get
    reader.set(name)
    try body finally reader.set(outer)
  }

  /** The (reader, memo) reads `body` makes on this thread. */
  private[graft] def readsDuring(body: => Any): Set[(String, String)] = {
    val log = mutable.Set.empty[(String, String)]
    readLog.set(log)
    try { body; log.toSet } finally readLog.remove()
  }
}
