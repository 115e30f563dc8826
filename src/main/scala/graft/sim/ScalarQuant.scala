package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps

/** §2.3 P45: INT8 scalar quantization of embeddings — the standard
  * embedding-compression layer (4× smaller than float32, 8× smaller
  * than float64) used before shipping vectors to an ANN index or
  * serving tier; complements P7c's product quantization (codebooks)
  * with the codebook-free per-vector scheme every vector DB supports.
  *
  * Scheme: symmetric max-abs scaling — scale = max|v_i|, code_i =
  * clamp(floor(v_i/scale·127), ±127). Everything is row-local column
  * algebra (zero shuffle, scan-speed at 100 TB); the per-element
  * reconstruction error is floor-quantized to integer picounits and
  * integer-summed (the p29/q43 pattern), so the decision record is
  * bit-deterministic under any partitioning.
  *
  * The output carries an md5 over the code string, so the hash gate
  * certifies EVERY int8 code of every vector, plus the quantized scale
  * and reconstruction error — construction, clamping and dequant math
  * all replayed by DuckDB.
  */
object ScalarQuant {

  /** p45: quantize every embedding; per-vector decision record. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = VectorOps.toDoubleArray($"embedding")
    Tables.embeddings(spark, dir)
      .select($"vec_id", e.as("e"))
      .select($"vec_id", $"e",
        array_max(transform($"e", x => abs(x))).as("scale"))
      .select($"vec_id", $"e", $"scale",
        transform($"e", x =>
          when($"scale" === 0, lit(0L)).otherwise(
            greatest(lit(-127L), least(lit(127L),
              floor(x / $"scale" * 127).cast("long"))))).as("codes"))
      .select($"vec_id",
        size($"e").as("dim"),
        floor($"scale" * 1e6).cast("long").as("scale_micro"),
        aggregate($"codes", lit(0L), (a, c) => a + c).as("code_sum"),
        md5(concat_ws(",", transform($"codes", c => c.cast("string")))).as("code_md5"),
        aggregate(
          zip_with($"e", $"codes", (x, c) =>
            floor((x - c * $"scale" / 127) * (x - c * $"scale" / 127) * 1e12).cast("long")),
          lit(0L), (a, v) => a + v).as("err_pico"))
      .orderBy($"vec_id")
  }

  /** DuckDB replay: identical scaling, clamping, code string, and
    * per-element pico-quantized reconstruction error. */
  val oracleSql: String =
    """WITH v AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings),
       s AS (
         SELECT vec_id, e,
           list_max(list_transform(e, x -> abs(x))) AS scale
         FROM v),
       c AS (
         SELECT vec_id, e, scale,
           list_transform(e, x ->
             CASE WHEN scale = 0 THEN 0
                  ELSE greatest(-127, least(127, CAST(floor(x / scale * 127) AS BIGINT)))
             END) AS codes
         FROM s)
       SELECT vec_id,
         CAST(len(e) AS INT) AS dim,
         CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
         CAST(list_sum(codes) AS BIGINT) AS code_sum,
         md5(array_to_string(codes, ',')) AS code_md5,
         CAST(list_sum(list_transform(range(1, len(e) + 1), i ->
           CAST(floor((e[CAST(i AS INT)] - codes[CAST(i AS INT)] * scale / 127)
                    * (e[CAST(i AS INT)] - codes[CAST(i AS INT)] * scale / 127)
                    * 1e12) AS BIGINT))) AS BIGINT) AS err_pico
       FROM c
       ORDER BY vec_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p45_embedding_quant", query, Some(oracleSql)))
}
