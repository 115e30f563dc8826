package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class MaterializeSpec extends SparkSpec with CacheLeaks with graft.ml.JobCounting {
  import spark.implicits._

  test("a body that throws releases every input it cached") {
    val a = spark.range(0, 200, 1, 4).select(($"id" * 3).as("x"))
    val b = a.select(($"x" + 1).as("y"))
    val r = spark.sparkContext.parallelize(1 to 100, 3).map(_ * 2)
    val (out, left, plans) = leftCached {
      Materialize.scoped(a, b) {
        Materialize.scoped(r) {
          assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
          assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
          assert(r.getStorageLevel === StorageLevel.MEMORY_AND_DISK)
          // every input is computed into its cache before the throw
          assert(a.count() === 200L && b.count() === 200L && r.count() === 100L)
          throw new IllegalStateException("body failed")
        }
      }
    }
    assert(out.failed.get.getMessage === "body failed")
    assert(left.isEmpty, s"left cached RDDs $left")
    assert(plans === 0, s"left $plans cached plans")
    assert(a.storageLevel === StorageLevel.NONE && b.storageLevel === StorageLevel.NONE)
    assert(r.getStorageLevel === StorageLevel.NONE)
  }

  test("a materialized result survives its inputs' release; a count on it recomputes nothing") {
    val evals = spark.sparkContext.longAccumulator("materialize_spec_evals")
    val traced = udf { (x: Long) => evals.add(1); x }
    val in = spark.range(0, 1000, 1, 4).select(traced($"id").as("x"))
    val (out, left, plans) = leftCached {
      Materialize.scoped(in) {
        assert(in.count() === 1000L)
        // the cache feeds the aggregate: the input is computed once
        Materialize(in.groupBy(($"x" % 10).as("k")).agg(sum($"x").as("s")))
      }
    }
    val result = out.get
    // what stays persisted is the result's own checkpoint blocks
    val blocks = result.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(blocks.size === 1 && left === blocks, s"left cached RDDs $left, result $blocks")
    assert(plans === 0 && in.storageLevel === StorageLevel.NONE,
      "the scoped input is released on return")
    assert(evals.value === 1000L, "the input was computed exactly once")
    val rows = result.orderBy($"k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0 until 10).map(k => (k.toLong, (k until 1000 by 10).map(_.toLong).sum)))
    val (n, countJobs) = jobsDuring(result.count())
    assert(n === 10L)
    assert(evals.value === 1000L, "reading the result recomputed the released input")
    // a count of the materialized blocks: one scan job plus the final
    // merge at most; recomputing the aggregate would add its own stage
    assert(countJobs <= 2, s"$countJobs jobs to count 10 materialized rows")
  }
}
