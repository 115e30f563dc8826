package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized property fuzz over the versioned-table lifecycle: random
  * commit histories (inserts/updates/deletes/reinserts, multi-key) are
  * replayed against a sequential in-memory model, then u11 reads, u20
  * change feeds, and u22 expiry must all agree with the model — the
  * cross-operator contract none of the single-operator specs pins. */
class VersionedLifecycleFuzzSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory model: per key the latest (version, price, deleted). */
  private def modelStates(hist: Seq[(Long, Double, Boolean, Int)], asOf: Int): Map[Long, Double] =
    hist.filter(_._4 <= asOf)
      .groupBy(_._1)
      .flatMap { case (k, rows) =>
        val w = rows.maxBy(_._4)
        if (w._3) None else Some(k -> w._2)
      }

  /** Model change rows per version: classify vs the prior live image. */
  private def modelChanges(hist: Seq[(Long, Double, Boolean, Int)]): Seq[(Long, String, Int)] =
    hist.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      rows.sortBy(_._4).foldLeft((Seq.empty[(Long, String, Int)], Option.empty[(Double, Boolean)])) {
        case ((acc, prev), (_, price, del, v)) =>
          val prevLive = prev.exists(!_._2)
          val cls =
            if (del && prevLive) Seq((k, "delete", v))
            else if (del) Seq.empty
            else if (prevLive) Seq((k, "update_preimage", v), (k, "update_postimage", v))
            else Seq((k, "insert", v))
          (acc ++ cls, Some((price, del)))
      }._1
    }

  test("fuzz: random histories — readAsOf, changesBetween, and expiry all match the model") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 101)
      val keys: List[Long] = (1L to 12L).toList
      val nv = 4
      // random history: each version touches a random key subset with a
      // random op; version 1 always inserts a base
      val hist = scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean, Int)]()
      keys.foreach(k => hist += ((k, (k * 10).toDouble, false, 1)))
      val alive = scala.collection.mutable.Set[Long](keys: _*)
      for (v <- 2 to nv) {
        rnd.shuffle(keys).take(1 + rnd.nextInt(6)).foreach { k =>
          if (alive(k) && rnd.nextInt(3) == 0) { hist += ((k, 0.0, true, v)); alive -= k }
          else { hist += ((k, rnd.nextInt(1000).toDouble, false, v)); alive += k }
        }
      }
      val root = graft.Scratch.dir(s"vlf_$seed")
      try {
        hist.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (v, rows) =>
          VersionedTable.commit(
            rows.map { case (k, p, d, _) =>
              (k, p, if (d) null else "S", d) }.toSeq.toDF("k", "price", "status", "deleted"),
            root, v)
        }
        // u11: every as-of version equals the model
        for (v <- 1 to nv) {
          val got = VersionedTable.readAsOf(spark, root, v)
            .select($"k", $"price").as[(Long, Double)].collect().toMap
          assert(got == modelStates(hist.toSeq, v), s"seed $seed readAsOf($v)")
        }
        // u20: the full-range change feed equals the model classifier
        val feed = ChangeFeed.changesBetween(spark, root, 0, nv)
          .select($"k", $"_change_type", $"_commit_version")
          .as[(Long, String, Int)].collect().toSeq.sorted
        assert(feed == modelChanges(hist.toSeq).sorted, s"seed $seed change feed")
        // u22: expire below a random keep, retained reads unchanged
        val keep = 2 + rnd.nextInt(nv - 1)
        val before = (keep to nv).map(v => v -> modelStates(hist.toSeq, v))
        SnapshotExpiry.expire(spark, root, keep)
        before.foreach { case (v, want) =>
          val got = VersionedTable.readAsOf(spark, root, v)
            .select($"k", $"price").as[(Long, Double)].collect().toMap
          assert(got == want, s"seed $seed post-expiry readAsOf($v)")
        }
        if (keep > 1)
          intercept[IllegalArgumentException](VersionedTable.readAsOf(spark, root, keep - 1))
        // u20 ∘ u22: the change feed over (keep, nv] must be UNCHANGED
        // by expiry — the squash rows appended at version=keep carry
        // the same liveness as the history they summarize, and the
        // feed's (k, version) dedupe collapses the duplicates
        val postFeed = ChangeFeed.changesBetween(spark, root, keep, nv)
          .select($"k", $"_change_type", $"_commit_version")
          .as[(Long, String, Int)].collect().toSeq.sorted
        assert(postFeed == modelChanges(hist.toSeq).filter(_._3 > keep).sorted,
          s"seed $seed post-expiry change feed over ($keep, $nv]")
        // a feed reaching below the floor fails loudly (pre-images gone)
        if (keep > 1)
          intercept[IllegalArgumentException](
            ChangeFeed.changesBetween(spark, root, keep - 1, nv))
        // re-running the same expiry is idempotent; moving the floor
        // backward is rejected
        SnapshotExpiry.expire(spark, root, keep)
        before.foreach { case (v, want) =>
          val got = VersionedTable.readAsOf(spark, root, v)
            .select($"k", $"price").as[(Long, Double)].collect().toMap
          assert(got == want, s"seed $seed re-expiry readAsOf($v)")
        }
        if (keep > 1)
          intercept[IllegalArgumentException](
            SnapshotExpiry.expire(spark, root, keep - 1))
      } finally graft.Scratch.delete(root)
    }
  }
}
