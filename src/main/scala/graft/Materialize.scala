package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every eager checkpoint and every
  * scoped cache of a DataFrame (or of an RDD a fit loops over) goes
  * through here, so the choice between cutting lineage and caching is
  * made in one place.
  *
  *  - [[apply]] computes a frame once and cuts its lineage: the frame a
  *    loop iterates on, or a result that later reads and writes must not
  *    re-plan. Today that is an eager local checkpoint (its blocks live
  *    on the executors that made them; a lost block is not recomputed).
  *  - [[scoped]] caches what a body reads more than once (a branch-off
  *    feeding two joins, a fit's training set) and releases it when the
  *    body returns or throws. A result that must outlive the release
  *    goes through [[apply]] inside the body.
  *
  * Caches that outlive one scope stay explicit: the RDD blocks of the
  * PSVM passes (`graft.ml.Blocks`, `Ipm.solve`) and the releasable
  * factor, dual and model built on them; the cached sets behind the lazy
  * plans that `MinHashDedup`'s pair builders, `SpanDedup` and
  * `TokenShards` return; and the one clear-all between queries,
  * `QuerySpec.clearAll`, which Bench, Verify and QueryProfile call. */
object Materialize {

  /** `df` computed now, with its lineage cut. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `body` with `frames` persisted at the session's default storage
    * level (memory and disk), in order, so a frame derived from an
    * earlier one reads that one's cache; each is unpersisted, without
    * blocking, when `body` returns or throws. */
  def scoped[T](frames: DataFrame*)(body: => T): T = frames match {
    case Seq() => body
    case first +: rest =>
      first.persist()
      try scoped(rest: _*)(body) finally first.unpersist(blocking = false)
  }

  /** [[scoped]] for an RDD, persisted in memory and on disk. */
  def scoped[T](rdd: RDD[_])(body: => T): T = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try body finally rdd.unpersist(blocking = false)
  }
}
