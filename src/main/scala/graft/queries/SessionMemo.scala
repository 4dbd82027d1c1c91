package graft.queries

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one cache for build-once substrates: a value built once per
  * (session, sfDir[, variant]) and served to every later query of the
  * session — the co-ship spine and its derived pinned views, persisted
  * index dirs, and the oracle fixture files. Every memo keeps the same
  * policy; only what "release" means differs per kind:
  *
  *  - the first use of a key builds the value under the memo's lock,
  *    exactly once (an unlocked `TrieMap.getOrElseUpdate` may run the
  *    builder twice under concurrent first use, and the losing build's
  *    pinned block or temp dir is never released);
  *  - a build that throws caches nothing, so the next use builds again;
  *  - when a session asks for another sfDir, its entries for every
  *    other dir are released, so a memo holds one dir per session;
  *  - entries of stopped sessions are dropped and released on the next
  *    access (within a live session the source files are assumed
  *    immutable, the assumption Spark's FileIndex caching makes);
  *  - [[SessionMemo.invalidate]] releases every memo's entries for one
  *    session — the hook for callers that need a clean block manager.
  *
  * The kinds — [[SessionMemo.pinned]], [[SessionMemo.indexDirs]] and
  * [[SessionMemo.fixtureDirs]] — differ only in the release function the
  * memo is constructed with and, for the two dir kinds, in where the
  * directory lives. */
final class SessionMemo[V] private[graft] (private val release: V => Unit) {
  private val entries = TrieMap[(SparkSession, String, String), V]()
  SessionMemo.all.add(this)

  /** The value for (s, d, variant), built by `build` on first use. */
  def apply(s: SparkSession, d: String, variant: String = "")(build: => V): V =
    synchronized {
      drop { case (o, od, _) => o.sparkContext.isStopped || ((o eq s) && od != d) }
      entries.getOrElseUpdate((s, d, variant), build)
    }

  private def drop(p: ((SparkSession, String, String)) => Boolean): Unit =
    synchronized {
      entries.keys.filter(p).foreach(k => entries.remove(k).foreach(release))
    }

  // lock-free on purpose: a JVM-exit hook must not wait on a build
  private def sweep(): Unit = {
    entries.values.foreach(release)
    entries.clear()
  }
}

object SessionMemo {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()
  private val swept = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()
  private lazy val exitHook: Unit = {
    sys.addShutdownHook(swept.forEach(_.sweep())); ()
  }

  /** Release every memo's entries for `s`; other sessions' entries (a
    * `newSession()` sharing the same context included) stay. */
  def invalidate(s: SparkSession): Unit = all.forEach(_.drop(_._1 eq s))

  /** Session-lifetime materialized views (`Checkpoints.checkpointPinned`
    * blocks, which survive the harness's per-query `releaseAll`):
    * release unpersists every frame the value holds. */
  def pinned[V](frames: V => Seq[DataFrame]): SessionMemo[V] =
    new SessionMemo[V](frames(_).foreach(graft.Checkpoints.release))

  /** Persisted indexes: a fresh `createTempDirectory(prefix)` per key,
    * deleted on release and, for whatever is still held, at JVM exit, so
    * no run leaves orphaned `graft_*` dirs in the temp dir. */
  def indexDirs(prefix: String): Dirs = {
    val m = new SessionMemo[String](deleteTree)
    exitHook
    swept.add(m)
    new Dirs(m, _ => Files.createTempDirectory(prefix).toString)
  }

  /** Oracle fixtures the DuckDB oracle check (`tools/check_oracle.py`)
    * reads AFTER this JVM exits: a deterministic path
    * `java.io.tmpdir/<prefix>_<sfName><variant>` (one dir per scale
    * factor, overwritten by the next session; the content is a pure
    * function of the SF tables, so a concurrent writer converges
    * byte-identically). Release is nothing and nothing is swept at
    * exit. */
  def fixtureDirs(prefix: String): Dirs =
    new Dirs(new SessionMemo[String](_ => ()), sfVariant =>
      Paths.get(sys.props("java.io.tmpdir"), s"${prefix}_$sfVariant").toString)

  /** A memo whose value is a directory: `place(sfName + variant)` names
    * it, `fill` writes it. A failed fill releases the dir it was given. */
  final class Dirs private[SessionMemo] (memo: SessionMemo[String],
                                         place: String => String) {
    def apply(s: SparkSession, d: String, variant: String = "")(
        fill: String => Unit): String =
      memo(s, d, variant) {
        val dir = place(d.split('/').filter(_.nonEmpty).last + variant)
        try fill(dir)
        catch { case NonFatal(e) => memo.release(dir); throw e }
        dir
      }
  }

  private def deleteTree(dir: String): Unit =
    try {
      val root = Paths.get(dir)
      if (Files.exists(root)) {
        // children before parents
        Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      }
    } catch { case NonFatal(_) => () }
}
