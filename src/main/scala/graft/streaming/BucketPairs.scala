package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** The stateful bucket join behind the four streaming near-dup twins —
  * [[StreamingNearDup]] (MinHash bands), [[StreamingPhash]] (aHash
  * bands), [[StreamingSemantic]] (SRP buckets) and [[StreamingWinnow]]
  * (winnowed fingerprints) — written once. A twin supplies how one
  * input row derives its [[BucketRow]]s (used for the stream and the
  * bootstrap corpus alike) and the pair score; everything else is this
  * family contract:
  *
  *  - Per bucket, `flatMapGroupsWithState` holds the residents, each
  *    only (id, member): no text, image or other payload enters state.
  *    Within a micro-batch the bucket's rows run in `(event_ts, id)`
  *    order, so the output does not depend on row order. Each row is
  *    compared against every resident; a pair `(min id, max id)` is
  *    emitted when the score passes, stamped with the arriving row's
  *    `event_ts`. An id never pairs with itself.
  *  - A row joins the residents only when its `register` flag is set,
  *    its id is not resident yet and the bucket holds fewer than
  *    [[graft.operators.Dedup.HotGroupCap]]. A full bucket still
  *    compares, so no pair against a resident is lost; the newcomer
  *    just does not join (the spanning-star analog of the batch hot-key
  *    discipline).
  *  - Eviction: a batch with rows for a bucket arms its event-time
  *    timeout at the batch's newest `event_ts` plus the caller's
  *    watermark delay. Once the watermark passes it, the bucket's state
  *    is removed and emits nothing. A shorter horizon would evict
  *    residents while late rows are still admissible and drop their
  *    pairs. A bootstrap bucket arms its timeout with its first row.
  *  - Bootstrap: the optional batch corpus goes through the same row
  *    derivation; per bucket, its residents are the HotGroupCap
  *    smallest ids among the registering rows, the one-sided cap of the
  *    batch cross-corpus operators. The stream thus flags near-dups of
  *    landed data from its first micro-batch.
  *  - A pair that meets in several buckets (several LSH bands, several
  *    fingerprints) is emitted once per bucket: a bucket cannot see
  *    another's state. Consumers treat pairs as a set, per micro-batch
  *    or through [[unique]].
  */
private[graft] object BucketPairs {

  /** One derived row: `id` probes `bucket`, and joins its residents
    * with `member` when `register` is set. */
  case class BucketRow[M](bucket: String, id: Long, register: Boolean,
                          member: M, event_ts: java.sql.Timestamp)
  /** One emitted pair, `a < b`. */
  case class Hit(a: Long, b: Long, bucket: String, score: Double,
                 event_ts: java.sql.Timestamp)
  case class Residents[M](members: List[(Long, M)])

  /** Run the bucket join over the watermarked `input` stream.
    * `score(resident, arrival)` is the pair's score, or None when the
    * pair does not pass. `rows` must read `event_ts`; the bootstrap
    * corpus reaches it with a null one. */
  def pairs[M: TypeTag](input: DataFrame, watermarkDelay: String,
                        bootstrapCorpus: Option[DataFrame])(
      rows: DataFrame => Dataset[BucketRow[M]])(
      score: (M, M) => Option[Double]): Dataset[Hit] = {
    val spark = input.sparkSession
    import spark.implicits._
    val grouped = rows(input)
      .withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.bucket)
    val join = joinBucket(watermarkDelay, score) _
    bootstrapCorpus.map(c => residents(
      rows(c.withColumn("event_ts", lit(null).cast("timestamp"))))) match {
      case None =>
        grouped.flatMapGroupsWithState[Residents[M], Hit](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(join)
      case Some(initial) =>
        grouped.flatMapGroupsWithState[Residents[M], Hit](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout, initial)(join)
    }
  }

  private def joinBucket[M](delay: String, score: (M, M) => Option[Double])(
      bucket: String, rows: Iterator[BucketRow[M]],
      state: GroupState[Residents[M]]): Iterator[Hit] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var members = state.getOption.fold(List.empty[(Long, M)])(_.members)
    val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
    val sorted = rows.toArray.sortBy(r => (r.event_ts.getTime, r.id))
    sorted.foreach { r =>
      members.foreach { case (id, m) =>
        if (id != r.id) score(m, r.member).foreach { s =>
          out += Hit(math.min(id, r.id), math.max(id, r.id), bucket, s,
            r.event_ts)
        }
      }
      if (r.register && members.length < Dedup.HotGroupCap &&
          !members.exists(_._1 == r.id))
        members = (r.id, r.member) :: members
    }
    state.update(Residents(members))
    if (sorted.nonEmpty)
      state.setTimeoutTimestamp(sorted.map(_.event_ts.getTime).max, delay)
    out.iterator
  }

  /** Per-bucket initial state: the HotGroupCap smallest registering ids. */
  private def residents[M: TypeTag](corpus: Dataset[BucketRow[M]])
      : KeyValueGroupedDataset[String, Residents[M]] = {
    import corpus.sparkSession.implicits._
    corpus.filter(_.register)
      .groupByKey(_.bucket)
      .mapGroups { (bucket, rs) =>
        bucket -> Residents(rs.map(r => (r.id, r.member)).toArray
          .sortBy(_._1).take(Dedup.HotGroupCap).toList)
      }
      .groupByKey(_._1)
      .mapValues(_._2)
  }

  /** The watermarked pair-dedup stage: one row per (`a`, `b`) within
    * the watermark horizon, with columns `a`, `b`, `score` and
    * `event_ts`. Every bucket's emission of one pair carries the same
    * score and the arriving row's `event_ts`, so which duplicate
    * survives cannot be observed. Cross-batch re-emissions (replays,
    * late duplicates) collapse too while inside the watermark.
    *
    * Spark's global-watermark check refuses any stateful operator after
    * `flatMapGroupsWithState`, since custom logic could emit rows older
    * than the watermark. This join cannot: each pair carries an
    * admitted row of the current batch's `event_ts`. Start the query
    * through [[StreamingNearDup.startUnchecked]], which turns the check
    * off for that query only. */
  def unique(pairs: DataFrame, watermarkDelay: String,
             a: String, b: String, score: String): DataFrame =
    pairs.select(col(a), col(b), col(score), col("event_ts"))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(a, b)
}
