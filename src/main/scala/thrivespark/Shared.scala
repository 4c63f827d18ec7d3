package thrivespark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session-scoped shared-stage registry: every memoised intermediate of
  * the engine — table readers, persisted shared derivations, checkpointed
  * stage boundaries, trained merge lists and codebooks — is looked up and
  * built through `stage`, so hit, miss, retention and release follow one
  * set of rules. What a site materialises (lazy persist, eager or lazy
  * localCheckpoint) stays the site's choice, made inside its `build`.
  *
  * KEYS. `Key(sfDir, name, params*)` for ops that take an sf dir;
  * `Key(name, frame, params*)` for frame-level APIs, keyed on the frame's
  * canonicalized analyzed plan: every call mints fresh ExprIds for its
  * aliases, so raw plans of two equivalent derivations never match, while
  * canonicalization normalizes the ids away. A hit returns the first-built
  * value, so callers address a shared frame's columns by name. The session
  * is part of every key: two live sessions never share a frame.
  *
  * RETENTION. Entries of stopped sessions are pruned on every lookup. A
  * session keeps the dir-keyed entries of its two most recently used sf
  * dirs; touching a third evicts the least recently used dir's entries.
  * Plan-keyed entries carry no dir and stay until `release`.
  *
  * EVICTION vs RELEASE. Eviction unpersists persist-backed frames (a caller
  * still holding one recomputes it from lineage) but only drops the
  * registry's reference to checkpoint-backed ones: ContextCleaner frees
  * their blocks once nothing holds the frame, so eviction never breaks a
  * frame in use. `release(spark)` hard-frees both kinds via `free`; a
  * released checkpoint-backed frame must not be evaluated again.
  *
  * INVALIDATION CONTRACT. Keys do not fingerprint the source files, so
  * rewriting the table files at the same path mid-session would serve
  * stale stages. A long-lived session that mutates its inputs calls
  * `release(spark)` between data generations — the contract Spark's own
  * df.cache() carries for path-stable rewrites. Bench/Verify sessions are
  * immune by construction (one static corpus per session); the streaming
  * stagings, which do re-read paths across sessions, carry their own
  * source fingerprint (StreamingOps.srcFingerprint) for this reason.
  *
  * Builds run outside any lock, so a query cancelled mid-build cannot block
  * the registry; under a race a value may be built twice and the loser's
  * storage is left to ContextCleaner. */
object Shared {
  final case class Key(dir: Option[String], name: String, params: Seq[Any])
  object Key {
    def apply(dir: String, name: String, params: Any*): Key =
      Key(Some(dir), name, params)
    def apply(name: String, of: DataFrame, params: Any*): Key =
      Key(None, name, of.queryExecution.analyzed.canonicalized +: params)
  }

  private val KeepDirs = 2
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Key), Any]
  private val recentDirs =
    scala.collection.concurrent.TrieMap.empty[SparkSession, List[String]]

  /** The one lookup: the session's value under `key`, built on a miss. */
  def stage[A](spark: SparkSession, key: Key)(build: => A): A = {
    entries.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    recentDirs.filterInPlace { case (s, _) => !s.sparkContext.isStopped }
    key.dir.foreach(touch(spark, _))
    entries.getOrElseUpdate((spark, key), build).asInstanceOf[A]
  }

  /** Read-only view of the session's live keys. */
  def keys(spark: SparkSession): Seq[Key] =
    entries.keys.collect { case (s, k) if s eq spark => k }.toSeq

  /** Drop every entry of the session and free its storage. */
  def release(spark: SparkSession): Unit = {
    recentDirs.remove(spark)
    remove(spark, _ => true).flatMap(frames).foreach(free)
  }

  /** Free the storage behind a frame, persist- or checkpoint-backed:
    * `Dataset.unpersist` only uncaches CacheManager entries, while a
    * localCheckpoint persists the RDD under its `LogicalRDD` root directly. */
  def free(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  private def touch(spark: SparkSession, dir: String): Unit = synchronized {
    val (keep, stale) = (dir :: recentDirs.getOrElse(spark, Nil).filterNot(_ == dir))
      .splitAt(KeepDirs)
    recentDirs(spark) = keep
    if (stale.nonEmpty)
      remove(spark, _.dir.exists(stale.contains)).flatMap(frames)
        .filterNot(_.queryExecution.logical.isInstanceOf[LogicalRDD])
        .foreach(_.unpersist(blocking = false))
  }

  private def remove(spark: SparkSession, which: Key => Boolean): Seq[Any] =
    entries.keys.filter { case (s, k) => (s eq spark) && which(k) }.toSeq
      .flatMap(entries.remove)

  /** The frames a cached value holds: a frame, or the frames of a pair. */
  private def frames(v: Any): Seq[DataFrame] = v match {
    case df: DataFrame @unchecked => Seq(df)
    case (a, b) => frames(a) ++ frames(b)
    case _ => Nil
  }
}
