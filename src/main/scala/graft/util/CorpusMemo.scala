package graft.util

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The one memo for artifacts derived from a corpus directory: resolved
  * table relations (`Tables.load`), trained BPE merges, fitted centroids,
  * corpus counts, and the near-dup edge and co-purchase pair sets
  * (PLANS.md "r11 — session memos", "r15 — one memo").
  *
  * Key: (session, canonical corpus dir, artifact tag). Alias paths of one
  * dir share an entry; a different session never sees another session's
  * artifacts. The dir's fingerprint (regular-file count, total bytes and
  * max mtime, walked recursively on every lookup) is stored with the
  * dir's entry, not in the key: when a corpus is rewritten in place the
  * lookup releases the old artifacts and rebuilds, so the memo holds at
  * most one generation per (session, dir). On every miss, entries whose
  * dir no longer exists or whose session's context has stopped are
  * dropped, so a long-running driver that reads fresh corpora and deletes
  * old ones holds only its live corpora's artifacts.
  *
  * Concurrency (the concurrent Verify loop hits this from many threads):
  * the maps only install cheap cells; the build runs in the cell's lazy
  * initializer, which the JVM synchronizes per cell, so racing callers of
  * one key build once and builds of different keys never block each
  * other. A failed build leaves no entry, so the next call retries.
  *
  * An unreadable or missing dir is built but never memoized: a redundant
  * build costs time, a stale hit would cost a wrong answer.
  */
object CorpusMemo {

  /** Row cap of [[rows]]: a derived set up to this size is collected to
    * the driver; a larger one stays distributed. */
  val MaxRows = 200000L

  private final class Cell(build: () => Any) {
    @volatile var built: Option[Any] = None
    lazy val value: Any = { val v = build(); built = Some(v); v }
  }

  /** The artifacts of one (session, dir), valid for one fingerprint. */
  private final class Corpus(val fingerprint: String) {
    val cells = new ConcurrentHashMap[String, Cell]()
  }

  /** What [[rows]] memoizes: the collected rows under the cap, the one
    * persisted distributed frame over it. */
  private sealed trait Capped
  private final case class Collected(schema: StructType, rows: java.util.List[Row]) extends Capped
  private final case class Persisted(df: DataFrame) extends Capped

  private val corpora = new ConcurrentHashMap[(SparkSession, String), Corpus]()

  /** `build`'s value, computed once per (session, dir, tag) and corpus
    * fingerprint. */
  def get[V](spark: SparkSession, dir: String, tag: String)(build: => V): V =
    lookup(spark, dir, tag)(build).getOrElse(build)

  /** A deterministic derived row set as a local-relation DataFrame, built
    * via `distributed` once per key. The cap gates on count() before any
    * collect, so an over-cap set never lands on the driver: the key then
    * keeps the probe's persisted frame and every caller shares it (the
    * 100 TB path: an artifact that size is materialized once and scanned
    * by its consumers). An external `clearCache` (Verify's periodic
    * clear) evicts that frame; the next caller persists it again, so the
    * cost is one recompute, never a permanently uncached plan. */
  def rows(spark: SparkSession, dir: String, tag: String)(distributed: => DataFrame): DataFrame =
    lookup(spark, dir, tag)(collectCapped(distributed)) match {
      case None => distributed
      case Some(Collected(schema, rows)) => spark.createDataFrame(rows, schema)
      case Some(Persisted(df)) => df
    }

  /** The tags memoized for (session, dir), for tests. */
  private[graft] def tags(spark: SparkSession, dir: String): Set[String] =
    Option(corpora.get((spark, new java.io.File(dir).getCanonicalPath)))
      .fold(Set.empty[String])(_.cells.keySet.asScala.toSet)

  /** Number of (session, dir) entries held, for tests. */
  private[graft] def size: Int = corpora.size

  private def collectCapped(distributed: => DataFrame): Capped = {
    val df = distributed.persist()
    try {
      if (df.count() <= MaxRows) {
        val kept = Collected(df.schema, java.util.Arrays.asList(df.collect().toIndexedSeq: _*))
        df.unpersist()
        kept
      } else Persisted(df)
    } catch {
      // a failed probe must not leak its cache registration
      case t: Throwable => df.unpersist(); throw t
    }
  }

  /** None, without building, when `dir` cannot be fingerprinted. */
  private def lookup[V](spark: SparkSession, dir: String, tag: String)(build: => V): Option[V] =
    fingerprint(dir).map { case (canon, fp) =>
      val key = (spark, canon)
      var stale: Corpus = null
      val corpus = corpora.compute(key, (_, old) =>
        if (old != null && old.fingerprint == fp) old else { stale = old; new Corpus(fp) })
      if (stale != null) release(stale)
      var miss = false
      val cell = corpus.cells.computeIfAbsent(tag, _ => { miss = true; new Cell(() => build) })
      if (miss) sweep()
      val v = try cell.value catch {
        case t: Throwable => corpus.cells.remove(tag, cell); throw t
      }
      // a rewrite or sweep that released this corpus while the build ran
      // could not see the value yet: release it now
      if (corpora.get(key) ne corpus) release(corpus) else revive(v)
      v.asInstanceOf[V]
    }

  /** Drops entries whose dir is gone or whose session's context stopped. */
  private def sweep(): Unit =
    corpora.forEach { (key, corpus) =>
      val (session, canon) = key
      if ((session.sparkContext.isStopped || !Files.isDirectory(Paths.get(canon))) &&
          corpora.remove(key, corpus))
        release(corpus)
    }

  /** Persists a live over-cap frame again after an external clear. The
    * storageLevel check (a CacheManager lookup) keeps a hit from
    * re-registering; a clear racing it costs that caller a recompute. */
  private def revive(v: Any): Unit = v match {
    case Persisted(df) if df.storageLevel == StorageLevel.NONE => df.persist()
    case _ =>
  }

  /** Unpersists a dropped corpus's over-cap frames; the rest is garbage. */
  private def release(corpus: Corpus): Unit =
    corpus.cells.values.forEach(cell => cell.built match {
      case Some(Persisted(df)) if !df.sparkSession.sparkContext.isStopped => df.unpersist()
      case _ =>
    })

  /** (canonical dir, fingerprint), or None for a missing or unreadable
    * dir. The walk is microseconds against the builds it guards; at
    * 100 TB a corpus is O(10k) files of metadata, not data. */
  private def fingerprint(dir: String): Option[(String, String)] =
    try {
      val canon = new java.io.File(dir).getCanonicalPath
      val root = Paths.get(canon)
      if (!Files.isDirectory(root)) None
      else {
        var (n, bytes, mtime) = (0L, 0L, 0L)
        val files = Files.walk(root)
        try files.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
          n += 1
          bytes += Files.size(f)
          mtime = math.max(mtime, Files.getLastModifiedTime(f).toMillis)
        } finally files.close()
        Some(canon -> s"n${n}b${bytes}m$mtime")
      }
    } catch {
      // Files.walk's iterator wraps mid-walk I/O errors (a file vanishing
      // between listing and stat) in UncheckedIOException
      case _: java.io.IOException | _: java.io.UncheckedIOException => None
    }
}
