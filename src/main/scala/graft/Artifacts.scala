package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** The session-artifact registry: every derived value a query family
  * builds once per session and shares across queries (the tokenized
  * corpus, the shingle table, trained tokenizers and models, checkpointed
  * embedding buckets, frame hashes, the co-supply graph) is keyed, built
  * and released here.
  *
  *   - Key: (applicationId, the input's canonicalized analyzed plan,
  *     kind). The kind carries the caller's parameters. Keying on the
  *     plan, not a dir string, makes a corpus regenerated at the same
  *     path read as a new input rather than serve stale values.
  *   - Build: at most once per key, even under concurrent callers. Each
  *     key has its own lock, so builds that nest (a vocabulary built
  *     through the merge list and the tokenized corpus) or run on forked
  *     threads never wait on an unrelated key. A build that throws leaves
  *     no entry behind.
  *   - Storage is the caller's: `build` returns the frame already
  *     persisted or cut ([[Cut.cut]]), or a driver value.
  *   - Release: [[clear]] unpersists every entry's frames and drops its
  *     driver values. A JVM has at most one active SparkContext, so the
  *     first call under a new applicationId drops every older entry. */
object Artifacts {

  private val built = new AtomicLong

  private final class Entry(build: () => Any) {
    @volatile private var done = false
    private var v: Any = _
    /** Completion order: a nested build finishes before its parent. */
    @volatile var seq = 0L
    def value: Any = {
      if (!done) synchronized {
        if (!done) { v = build(); seq = built.incrementAndGet(); done = true }
      }
      v
    }
    def ready: Option[Any] = if (done) Some(v) else None
  }

  private val entries = TrieMap.empty[(String, Any, Any), Entry]
  @volatile private var app = ""

  /** `spark`'s application id, after dropping every other id's entries. */
  private def live(spark: SparkSession): String = {
    val id = spark.sparkContext.applicationId
    if (id != app) synchronized {
      if (id != app) {
        entries.keys.filter(_._1 != id).foreach(entries.remove)
        app = id
      }
    }
    id
  }

  /** The value built for (`input`'s plan, `kind`) in this session,
    * building it with `build` on first use. */
  def apply[T](input: DataFrame, kind: Any)(build: => T): T = {
    val key = (live(input.sparkSession),
      input.queryExecution.analyzed.canonicalized, kind)
    val fresh = new Entry(() => build)
    val e = entries.putIfAbsent(key, fresh).getOrElse(fresh)
    try e.value.asInstanceOf[T]
    catch { case t: Throwable => entries.remove(key, e); throw t }
  }

  /** The (kind, value) of every built entry. */
  private[graft] def held: Seq[(Any, Any)] =
    entries.toSeq.flatMap { case ((_, _, kind), e) => e.ready.map(kind -> _) }

  /** Release every entry of `spark`'s session: persisted frames are
    * unpersisted, the checkpoint RDDs behind cut frames are
    * unpersisted rather than left to the ContextCleaner, and driver
    * values are dropped. Entries release in reverse build order, so a
    * cached frame goes before the cached frames it reads. */
  def clear(spark: SparkSession): Unit = {
    live(spark)
    entries.keys.toSeq.flatMap(k => entries.remove(k))
      .sortBy(-_.seq).foreach(_.ready.foreach(release))
  }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] if ds.storageLevel != StorageLevel.NONE => ds.unpersist()
    case ds: Dataset[_] => Cut.release(ds)
    case (a, b) => release(a); release(b)
    case _ => ()
  }
}
