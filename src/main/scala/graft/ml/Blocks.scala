package graft.ml

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** The block collective of the PSVM passes: psvm writes icf.cc and
  * ipm.cc once, over an MPI all-reduce and broadcast, and [[Icf]]'s pivot
  * step, [[Ipm]]'s Newton iteration and [[IcfSvmTrainer]]'s KKT pass are
  * written once over a per-block `map` (`update`: in place) and an
  * `allReduce` (the closure that reads its value is the broadcast). Two
  * forms, picked from the block count by [[Blocks.Dist.run]]: [[Blocks.Local]],
  * one block inside its task (the paper's m = 1, where the all-reduce is
  * the identity), the whole loop one Spark job; and [[Blocks.Dist]], an
  * RDD of blocks driven from the driver, each all-reduce one job whose
  * partials are added in partition order (an `RDD.fold` adds them in
  * task-completion order, so its float sums could change from run to
  * run). On one partition both add the partial into a zero once.
  */
private[ml] sealed trait Blocks[B] {

  /** Every block through `f`; with `cut`, the RDD form checkpoints the
    * new blocks locally, truncating the lineage. */
  def map[C: ClassTag](f: B => C, cut: Boolean = false): Blocks[C]

  /** Every block changed in place by `f`, on a `copy` of a block the loop
    * does not own: once per loop in a task, once per step in an RDD
    * (whose parent blocks are cached). */
  def update(copy: B => B, cut: Boolean = false)(f: B => Unit): Blocks[B]

  def allReduce[U: ClassTag](zero: => U)(seqOp: (U, B) => U, combOp: (U, U) => U): U
}

private[ml] object Blocks {

  /** `rdd`'s blocks; `owned`: its cache is the collective's to release. */
  def apply[B: ClassTag](rdd: RDD[B], owned: Boolean = false): Dist[B] =
    new Dist(rdd, Some(rdd).filter(_ => owned), Nil, checkpointed = false)

  /** One block inside its task; `owned`: the block is the loop's own copy. */
  final class Local[B] private[Blocks] (val block: B, owned: Boolean) extends Blocks[B] {
    def map[C: ClassTag](f: B => C, cut: Boolean): Blocks[C] = new Local(f(block), owned = false)

    def update(copy: B => B, cut: Boolean)(f: B => Unit): Blocks[B] = {
      val out = if (owned) block else copy(block)
      f(out)
      new Local(out, owned = true)
    }

    def allReduce[U: ClassTag](zero: => U)(seqOp: (U, B) => U, combOp: (U, U) => U): U =
      combOp(zero, seqOp(zero, block))
  }

  /** An RDD of blocks. Each map is persisted and materialized by the
    * all-reduce that follows it, which then releases the caches the map
    * read: `held` is the collective's cache `rdd` reads (`rdd` itself, or
    * the one-block result it views), `pending` the caches released once
    * `rdd` is materialized. `checkpointed`: `rdd`'s lineage runs through a
    * local checkpoint, whose cache must outlive every use of `rdd`. */
  final class Dist[B: ClassTag] private[Blocks] (val rdd: RDD[B], held: Option[RDD[_]],
      private var pending: List[RDD[_]], checkpointed: Boolean) extends Blocks[B] {

    def map[C: ClassTag](f: B => C, cut: Boolean): Dist[C] = {
      val child = rdd.map(f).persist(StorageLevel.MEMORY_AND_DISK)
      if (cut) child.localCheckpoint()
      new Dist(child, Some(child), held.toList ++ pending, checkpointed || cut)
    }

    def update(copy: B => B, cut: Boolean)(f: B => Unit): Dist[B] =
      map({ b => val out = copy(b); f(out); out }, cut)

    def allReduce[U: ClassTag](zero: => U)(seqOp: (U, B) => U, combOp: (U, U) => U): U =
      settled("allReduce")(rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero)(seqOp))).collect())
        .foldLeft(zero)(combOp)

    /** `action`, then the caches `rdd` read released. Its jobs are named
      * `op at <file>:<line>` after the pass that runs it, as Spark would
      * without this file between (traces attribute a job to a pass by it). */
    private def settled[T](op: String)(action: => T): T = {
      val sc = rdd.sparkContext
      new Throwable().getStackTrace
        .find(f => f.getClassName.startsWith("graft.") && f.getFileName != "Blocks.scala")
        .foreach(f => sc.setCallSite(s"$op at ${f.getFileName}:${f.getLineNumber}"))
      try action finally { sc.clearCallSite(); pending.foreach(_.unpersist(false)); pending = Nil }
    }

    /** `body`'s blocks and driver state. One block: `body` runs inside the
      * block's task, one job. Several: it runs here, over the blocks
      * persisted (and held) if they were not, and a last map no all-reduce
      * materialized is counted, releasing every cache it read. */
    def run[C: ClassTag, S: ClassTag](body: Blocks[B] => (Blocks[C], S)): (Dist[C], S) =
      if (rdd.getNumPartitions == 1) {
        val seg = map { b =>
          val (out, s) = body(new Local(b, owned = false))
          (out.asInstanceOf[Local[C]].block, s)
        }
        val s = seg.settled("run")(seg.rdd.map(_._2).collect().head)
        (new Dist(seg.rdd.map(_._1), Some(seg.rdd), Nil, checkpointed = false), s)
      } else {
        val (out, s) = body(
          if (rdd.getStorageLevel != StorageLevel.NONE) this
          else new Dist(rdd.persist(StorageLevel.MEMORY_AND_DISK), Some(rdd), pending, checkpointed))
        val blocks = out.asInstanceOf[Dist[C]]
        if (blocks.pending.nonEmpty) blocks.settled("count")(blocks.rdd.count())
        (blocks, s)
      }

    /** The cache to drop once done with `rdd`, which then recomputes from
      * lineage; none past a local checkpoint. */
    def cache: Option[RDD[_]] = if (checkpointed) None else held
  }
}
