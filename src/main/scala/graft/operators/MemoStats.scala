package graft.operators

import scala.collection.concurrent.TrieMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The session memo registry: every memoized derivation (trained
  * models, materialized pair frames, staged brokers, loader metadata)
  * lives here, in one [[Table]] per family, keyed by (session, family,
  * key). One get-or-compute contract for all of them: compute runs at
  * most once per key, keys never block each other, and a compute that
  * throws leaves no entry (the next call recomputes).
  *
  * Entries belong to their session: [[clearAll]] drops one session's
  * entries (running each family's release hook), and a listener per
  * SparkContext drops them when the context ends — a memoized frame
  * holds its session strongly, so weak keys could never let go.
  *
  * Warm accounting: a lookup that finds the entry already computed
  * counts a WARM hit (the caller's wall time excludes the derivation
  * another consumer paid). [[graft.Bench]] snapshots the counter around
  * each timed query and tags the ones whose number is not
  * self-contained. Metadata tables (file listings, footer counts of
  * immutable inputs) are exempt — a cached listing is not work another
  * query paid for — and survive [[clearDerived]].
  */
object MemoStats {
  private val warm = new java.util.concurrent.atomic.AtomicLong

  def warmHits: Long = warm.get()

  /** One memo family. `release` runs on a computed value when its
    * entry is dropped (clear or context end). */
  final class Table[K, V](val metadata: Boolean = false,
                          release: V => Unit = (_: V) => ()) {
    def apply(spark: SparkSession, key: K)(compute: => V): V = {
      val k = (spark, this, key)
      val entry = entries.getOrElseUpdate(k, {
        watch(spark.sparkContext)
        new Entry(() => compute, v => release(v.asInstanceOf[V]))
      })
      val (v, computedHere) =
        try entry.get()
        catch { case t: Throwable => entries.remove(k, entry); throw t }
      if (!metadata && !computedHere) warm.incrementAndGet()
      v.asInstanceOf[V]
    }

    /** Publish a value derived elsewhere, replacing (and releasing)
      * any entry under the key. */
    def put(spark: SparkSession, key: K, value: V): Unit = {
      val entry = new Entry(() => value, v => release(v.asInstanceOf[V]))
      entry.get()
      watch(spark.sparkContext)
      entries.put((spark, this, key), entry).foreach(_.drop())
    }
  }

  /** A lazy holder: the entry's lock is held only while ITS compute
    * runs, so a nested memo compute (minhashLsh → Tables.documents)
    * takes a different entry's lock. */
  private final class Entry(compute: () => Any, release: Any => Unit) {
    @volatile private var outcome: Option[Try[Any]] = None

    /** The value, and whether this call ran the compute. */
    def get(): (Any, Boolean) = synchronized {
      val fresh = outcome.isEmpty
      if (fresh) outcome = Some(
        try Success(compute()) catch { case t: Throwable => Failure(t) })
      (outcome.get.get, fresh)
    }

    /** Best-effort: a failed release must not stop the others. An
      * entry still computing has nothing to release yet. */
    def drop(): Unit = outcome.foreach(_.foreach(v => Try(release(v))))
  }

  private val entries = TrieMap.empty[(SparkSession, Table[_, _], Any), Entry]
  private val watched = TrieMap.empty[SparkContext, Unit]

  private def watch(sc: SparkContext): Unit =
    if (watched.putIfAbsent(sc, ()).isEmpty)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd)
            : Unit = {
          watched.remove(sc)
          dropWhere((s, _) => s.sparkContext eq sc)
        }
      })

  private def dropWhere(drop: (SparkSession, Table[_, _]) => Boolean): Unit =
    entries.foreach { case (k, e) =>
      if (drop(k._1, k._2) && entries.remove(k, e)) e.drop()
    }

  /** Drop every entry of `spark` (other sessions keep theirs) and run
    * the release hooks. Also the invalidation for table directories
    * regenerated mid-session: the loader metadata goes too. */
  def clearAll(spark: SparkSession): Unit = dropWhere((s, _) => s eq spark)

  /** [[clearAll]] minus the metadata tables: the bench pass reset
    * re-pays every derivation, not the listing of its immutable inputs
    * (re-listing costs each table's first consumer ~0.1 s per pass, on
    * 4 cores at sf0.01 — time no operator change moves). */
  def clearDerived(spark: SparkSession): Unit =
    dropWhere((s, t) => (s eq spark) && !t.metadata)
}
