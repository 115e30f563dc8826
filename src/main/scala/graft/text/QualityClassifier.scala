package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P34: LEARNED quality classifier — the fastText-style stage real
  * curation pipelines run after heuristic scoring: distill a quality
  * label into a linear model over hashed bag-of-token features, then
  * score the whole corpus with the model (CCNet / LLaMA-style "quality
  * classifier trained on heuristic/LLM labels").
  *
  * Model: logistic regression on `D` hashed token-tf buckets (hashing
  * trick — xxhash64(token) mod D) plus one engineered length feature,
  * trained by distributed Newton/IRLS. Every per-doc contribution is
  * quantized ONCE to integer micro-units with `floor(1e6·x)` (floor is
  * toward −∞ on both engines — p29's technique), so every aggregation
  * in both fit and scoring is an order-independent INTEGER sum: the
  * fitted weights and every margin are bit-deterministic under any
  * partitioning.
  *
  * Scale shape: feature extraction is explode → one (doc_id, bucket)
  * keyed aggregation; each Newton step is one distributed aggregation
  * (gradient + (D+2)²/2 Hessian cells + loss in a single collect) and
  * the driver holds only the weight vector and the tiny dense system it
  * solves — nothing corpus-sized is ever collected or broadcast. At
  * 100 TB the fit runs on a train SPLIT (as here) at one corpus pass
  * per step — the classical distributed IRLS layout for small D.
  *
  * Persist-and-replay oracle (the m8/m12 pattern): the fit persists the
  * feature table and the weight vector; DuckDB recomputes every margin
  * from those files AND independently replays the label derivation from
  * the raw documents table, so a green row certifies feature join,
  * quantized scoring, the train/score split, and the label contract.
  * The fit itself is gated by spec (loss decreases, separates classes
  * better than chance).
  */
object QualityClassifier {

  val D = 64            // hash buckets (synthetic vocab is 31 tokens)
  val Thresh = 0.645    // p9 quality threshold — splits sf0.01 ~50/50
  val Iters = 5       // Newton/IRLS steps — loss is flat by step 5
                      // (sf0.1 trajectory: .693 .552 .536 .5335 .5328)
  val Ridge = 1e-8    // Hessian regularizer (relative to n)

  /** (doc_id, bucket, cnt): hashed token features, tf-normalized
    * (cnt = bucket count / doc token count) so the margin scale is
    * bounded by ‖w‖₁ and full-batch GD descends at a fixed lr
    * regardless of document length — plus ONE engineered length
    * feature at bucket D (n_tokens/100, the signal tf-normalization
    * would otherwise erase; fastText-style extra dense feature). */
  def featureTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // single pass: the old counts⋈totals + union formulation referenced
    // the bucket aggregation THREE times (join left, totals, union
    // branch) and re-executed it each time — fold the tf normalization
    // and the length feature into one per-doc aggregation instead (the
    // per-doc buffer is ≤ D+1 structs, bounded)
    docs
      .select($"doc_id", explode(split($"text", "\\s+")).as("tok"))
      .select($"doc_id", pmod(xxhash64($"tok"), lit(D.toLong)).cast("int").as("bucket"))
      .groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"bucket", $"c")).as("fs"), sum($"c").as("t"))
      .select($"doc_id", explode(concat(
        transform($"fs", f => struct(f.getField("bucket").as("bucket"),
          (f.getField("c") / $"t").as("cnt"))),
        array(struct(lit(D).as("bucket"), ($"t" / 100.0).as("cnt"))))).as("f"))
      .select($"doc_id", $"f.bucket", $"f.cnt")
  }

  /** Feature dimension including the engineered length slot. */
  val NumFeatures: Int = D + 1

  /** Binary label distilled from the p9 heuristic score. */
  def labelTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.quality(spark, dir)
      .select($"doc_id",
        when($"quality_score" >= Thresh, 1).otherwise(0).as("y"))
  }

  /** Quantized margins: floor-micro per (doc,bucket) product, integer
    * sum per doc, bias added as a pre-quantized literal. */
  private def marginMicros(feat: DataFrame, w: Array[Double], bias: Double): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    val warr = array(w.map(lit(_)): _*)
    feat
      .select($"doc_id",
        floor(element_at(warr, $"bucket" + 1) * $"cnt" * lit(1e6)).cast("long").as("c"))
      .groupBy($"doc_id")
      .agg((sum($"c") + lit(math.floor(bias * 1e6).toLong)).as("margin_micros"))
  }

  /** Stateless per-row margin — the streaming-inference shape: the whole
    * hashed-feature margin folds inside array higher-order functions
    * (tokenize → bucket → per-distinct-bucket tf → quantized dot), so
    * scoring needs NO aggregation state at all — a narrow map over the
    * stream, append mode, unbounded throughput. Bit-identical to
    * [[marginMicros]]: same xxhash64 bucketing, same c/t double
    * division, same floor-micro quantization per bucket, same integer
    * sum (order fixed by array_distinct's first-occurrence order —
    * irrelevant anyway, integer addition commutes). */
  def marginMicrosNarrow(docs: DataFrame, w: Array[Double], bias: Double): DataFrame = {
    val warr = array(w.map(lit(_)): _*)
    val toks = split(col("text"), "\\s+")
    val buckets = transform(toks, t => pmod(xxhash64(t), lit(D.toLong)).cast("int"))
    val t = size(toks)
    val tokenPart = aggregate(
      array_distinct(buckets), lit(0L),
      (acc, b) => acc + floor(element_at(warr, b + 1) *
        (size(filter(buckets, x => x === b)) / t) * lit(1e6)).cast("long"))
    val lenPart = floor(element_at(warr, lit(NumFeatures)) *
      (t / lit(100.0)) * lit(1e6)).cast("long")
    docs.select(col("doc_id"),
      (tokenPart + lenPart + lit(math.floor(bias * 1e6).toLong)).as("margin_micros"))
  }

  /** Load the persisted weight vector + bias (bucket −1). */
  def loadWeights(spark: SparkSession, dir: String): (Array[Double], Double) = {
    import spark.implicits._
    val wMap = spark.read.parquet(s"${root(dir)}/p34_weights")
      .as[(Int, Double)].collect().toMap
    (Array.tabulate(NumFeatures)(wMap(_)), wMap(-1))
  }

  /** Newton/IRLS fit on (doc_id, bucket, cnt) ⋈ (doc_id, y). Returns
    * (weights, bias, perIterLoss). D+1 is small, so the full Hessian
    * H = Σ_d σ_d(1−σ_d)·x_d x_dᵀ is one distributed pass per step and
    * the driver solves a (D+1)² system — quadratic convergence makes ~5
    * passes enough where fixed-lr GD needed 60+.
    *
    * Layout (the m5/m11 treeAggregate-per-step shape): the corpus is
    * pre-grouped ONCE into per-doc sparse feature rows (bucket-sorted
    * arrays + label, bias as constant feature −1) and cached as an RDD;
    * each Newton step is then ONE treeAggregate over it carrying a
    * single long[] accumulator (gradient | Hessian upper triangle |
    * loss), with the weights riding a broadcast variable. Nothing
    * corpus-sized touches the driver, no shuffle happens inside the
    * loop, and — the r6 lesson — no per-step Catalyst analysis either:
    * the previous DataFrame formulation (3-branch union + self-join,
    * re-analyzed every step) paid ~1.1s/step of data-independent
    * driver work that this removes outright.
    *
    * Determinism: every per-doc contribution is quantized ONCE with
    * floor(1e6·x) (identical association order to the r6 SQL
    * expressions, so the fitted weights are bit-identical to that
    * formulation) and summed as longs — order-independent under any
    * partitioning. */
  def fit(feat: DataFrame, labels: DataFrame, iters: Int = Iters,
          numFeatures: Int = NumFeatures,
          ridge: Double = Ridge): (Array[Double], Double, Seq[Double]) = {
    val spark = feat.sparkSession
    import spark.implicits._
    // pre-group once: the only job whose plan Catalyst analyzes
    val grouped = feat
      .union(labels.select($"doc_id", lit(-1).as("bucket"), lit(1.0).as("cnt")))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"bucket", $"cnt"))).as("fs"))
      .join(labels, Seq("doc_id"))
      .select($"fs.bucket".as("bs"), $"fs.cnt".as("cs"), $"y")
      .as[(Array[Int], Array[Double], Int)]
      .rdd
      // the grouped TRAIN split is sample-sized (per-doc sparse rows),
      // but .rdd off an AQE plan keeps the 8×cpus initial shuffle
      // partitioning — at ~1 job per Newton step the per-step task
      // overhead dominated the fit (measured ~1s/step at sf0.1). A
      // core-proportional coalesce makes each step one small job.
      .coalesce(math.max(8, org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism / 4))
    Materialize.scoped(grouped)(
      fitGrouped(grouped, grouped.count().toDouble, iters, numFeatures, ridge))
  }

  /** The Newton loop itself over a pre-grouped per-doc sparse RDD
    * ((bucket-sorted feature arrays with bias slot −1), label) — exposed
    * so one-vs-rest callers (p54) group the corpus ONCE and run the loop
    * per class over cheap map()s of the shared cached parent instead of
    * re-shuffling the feature table per class. */
  def fitGrouped(grouped: org.apache.spark.rdd.RDD[(Array[Int], Array[Double], Int)],
                 n: Double, iters: Int, numFeatures: Int,
                 ridge: Double): (Array[Double], Double, Seq[Double]) = {
    val spark = org.apache.spark.sql.SparkSession.active
    // slot mapping: feature buckets 0..numFeatures−1, bias at slot
    // numFeatures (bucket −1 on the wire). numFeatures is a parameter so
    // other hashed-feature classifiers (p54 char-n-gram language ID)
    // reuse this exact Newton loop on their own bucket spaces.
    val S = numFeatures + 1
    val nTri = S * (S + 1) / 2
    val w = Array.fill(S)(0.0)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to iters) {
      val bw = spark.sparkContext.broadcast(w.clone())
      // accumulator layout: [0,S) gradient · [S, S+nTri) Hessian upper
      // triangle (slot-canonical row-major) · [S+nTri] loss — all
      // floor-micro longs, so merge order is irrelevant
      val agg = grouped.treeAggregate(new Array[Long](S + nTri + 1))(
        seqOp = (acc, doc) => {
          val (bs, cs, y) = doc
          val wv = bw.value
          val len = bs.length
          def slot(b: Int): Int = if (b == -1) numFeatures else b
          var mm = 0L
          var k = 0
          while (k < len) {
            mm += math.floor(wv(slot(bs(k))) * cs(k) * 1e6).toLong; k += 1
          }
          val m = mm / 1e6
          val p = 1.0 / (1.0 + math.exp(-m))
          val r = p - y
          val s = p * (1.0 - p)
          k = 0
          while (k < len) {
            acc(slot(bs(k))) += math.floor(r * cs(k) * 1e6).toLong; k += 1
          }
          // Hessian pairs in bucket order a ≤ b (bs is bucket-sorted, so
          // the s·ca·cb association order matches the r6 SQL exactly)
          var a = 0
          while (a < len) {
            var b = a
            while (b < len) {
              val g = math.floor(s * cs(a) * cs(b) * 1e6).toLong
              val (p1, q1) = {
                val sa = slot(bs(a)); val sb = slot(bs(b))
                if (sa <= sb) (sa, sb) else (sb, sa)
              }
              acc(S + p1 * S - p1 * (p1 - 1) / 2 + (q1 - p1)) += g
              b += 1
            }
            a += 1
          }
          val l = if (y == 1) math.log1p(math.exp(-m))
                  else math.log1p(math.exp(-m)) + m
          acc(S + nTri) += math.floor(l * 1e6).toLong
          acc
        },
        combOp = (x, yv) => {
          var k = 0
          while (k < x.length) { x(k) += yv(k); k += 1 }
          x
        })
      bw.destroy()
      val grad = Array.tabulate(S)(i => agg(i) / 1e6 / n)
      val hess = Array.ofDim[Double](S, S)
      var p1 = 0
      while (p1 < S) {
        var q1 = p1
        while (q1 < S) {
          val v = agg(S + p1 * S - p1 * (p1 - 1) / 2 + (q1 - p1)) / 1e6 / n
          hess(p1)(q1) = v; hess(q1)(p1) = v
          q1 += 1
        }
        p1 += 1
      }
      losses += agg(S + nTri) / 1e6 / n
      var k = 0
      while (k < S) { hess(k)(k) += ridge * n; k += 1 }
      val H = breeze.linalg.DenseMatrix.tabulate(S, S)((a, b) => hess(a)(b))
      val g = breeze.linalg.DenseVector(grad)
      val delta = H \ g
      var k2 = 0
      while (k2 < S) { w(k2) -= delta(k2); k2 += 1 }
    }
    (w.take(numFeatures), w(numFeatures), losses.toSeq)
  }

  // one fit per (sf dir) per JVM — Verify and Bench score the same
  // persisted model rather than re-fitting per query (m8/u10 pattern)
  private val fittedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def root(dir: String): String = graft.ml.ModelOracles.modelRoot(dir)

  /** Fit once per (JVM, dir): persist features + weights for the replay
    * oracle, keyed to the sf dir so verify/bench stay order-independent. */
  def ensureFitted(spark: SparkSession, dir: String): Unit =
    fittedDirs.synchronized {
      if (!fittedDirs.contains(dir)) {
        import spark.implicits._
        val feat = featureTable(Tables.documents(spark, dir))
        // cached: the label table is a full quality recomputation and
        // the train split is referenced by the join AND twice inside
        // fit (bias-feature union + label join) — uncached it re-ran
        // the p9 pipeline three times per fit
        val trainLbl = labelTable(spark, dir).filter($"doc_id" % 4 =!= 0)
        Materialize.scoped(feat, trainLbl) {
          val train = feat.join(trainLbl, Seq("doc_id"))
          val (w, bias, _) = fit(train.select($"doc_id", $"bucket", $"cnt"),
                                 trainLbl)
          feat.write.mode("overwrite").parquet(s"${root(dir)}/p34_features")
          val wRows = w.toSeq.zipWithIndex.map { case (v, i) => (i, v) } :+ (-1, bias)
          wRows.toDF("bucket", "w").coalesce(1)
            .write.mode("overwrite").parquet(s"${root(dir)}/p34_weights")
        }
        fittedDirs.add(dir)
      }
    }

  /** p34: score EVERY doc with the persisted model — integer-exact
    * margins, predicted keep/drop, the distilled label, and the split
    * flag. The oracle recomputes all of it from the persisted files plus
    * the raw documents table. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureFitted(spark, dir)
    val feat = spark.read.parquet(s"${root(dir)}/p34_features")
    val wt = spark.read.parquet(s"${root(dir)}/p34_weights")
    val wMap = wt.as[(Int, Double)].collect().toMap
    val w = Array.tabulate(NumFeatures)(wMap(_))
    val bias = wMap(-1)
    marginMicros(feat, w, bias)
      .join(labelTable(spark, dir), Seq("doc_id"))
      .select($"doc_id", $"margin_micros",
        ($"margin_micros" >= 0).as("pred"), $"y",
        ($"doc_id" % 4 =!= 0).as("is_train"))
      .orderBy($"doc_id")
  }

  /** DuckDB replay: margins from the persisted feature/weight files with
    * the same floor-micro quantization; labels re-derived from the raw
    * documents via the p9 formula. */
  val oracleSql: String =
    raw"""WITH f AS (
         SELECT * FROM read_parquet('$PlaceholderRoot/p34_features/*.parquet')),
       wt AS (
         SELECT * FROM read_parquet('$PlaceholderRoot/p34_weights/*.parquet')),
       m AS (
         SELECT f.doc_id,
           CAST(sum(CAST(floor(wt.w * f.cnt * 1e6) AS BIGINT)) AS BIGINT)
             + (SELECT CAST(floor(w * 1e6) AS BIGINT) FROM wt WHERE bucket = -1)
             AS margin_micros
         FROM f JOIN wt USING (bucket)
         GROUP BY f.doc_id),
       q AS (
         SELECT doc_id,
           round(0.4 * (len(list_distinct(toks)) / len(toks)) +
                 0.3 * (1.0 - len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / len(toks)) +
                 0.3 * least(1.0, len(toks) / 100.0), 6) AS quality_score
         FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents) t),
       lbl AS (
         SELECT doc_id, CASE WHEN quality_score >= 0.645 THEN 1 ELSE 0 END AS y FROM q)
       SELECT m.doc_id, m.margin_micros, m.margin_micros >= 0 AS pred,
              lbl.y, (m.doc_id % 4 != 0) AS is_train
       FROM m JOIN lbl USING (doc_id)
       ORDER BY m.doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p34_quality_clf", query, Some(oracleSql)))
}
