package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import graft.SparkSpec

class SvmEvaluatorSpec extends SparkSpec with JobCounting {

  /** `rows` under `schema` as a local frame and as a 2-partition RDD frame. */
  private def frames(schema: StructType, rows: Seq[Row]): (DataFrame, DataFrame) = {
    val local = spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!rdd.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    (local, rdd)
  }

  private def schemaOf(label: DataType) = StructType(Seq(
    StructField("y", label), StructField("prediction", DoubleType)))

  private val cases = Seq(
    "±1 labels" -> (schemaOf(DoubleType),
      Seq((1.0, 1.0), (1.0, -1.0), (-1.0, -1.0), (-1.0, -1.0), (-1.0, 1.0), (1.0, 1.0), (1.0, 1.0))
        .map { case (y, p) => Row(y, p) }),
    "empty frame" -> (schemaOf(DoubleType), Seq.empty[Row]),
    "null labels and predictions" -> (schemaOf(DoubleType),
      Seq(Row(null, 1.0), Row(1.0, null), Row(-1.0, -1.0), Row(1.0, 1.0))),
    "NaN labels" -> (schemaOf(DoubleType),
      Seq(Row(Double.NaN, 1.0), Row(Double.NaN, -1.0), Row(-1.0, 1.0))),
    "integer labels" -> (schemaOf(IntegerType),
      Seq(Row(1, 1.0), Row(-1, 1.0), Row(-1, -1.0), Row(1, -1.0), Row(0, -1.0))),
    "one class predicted" -> (schemaOf(DoubleType),
      Seq(Row(1.0, -1.0), Row(-1.0, -1.0))))

  test("local and distributed frames evaluate to equal rows and schemas") {
    for ((name, (schema, rows)) <- cases) {
      val (local, rdd) = frames(schema, rows)
      val (l, d) = (SvmEvaluator.evaluate(local, "y"), SvmEvaluator.evaluate(rdd, "y"))
      assert(l.schema === d.schema, name)
      assert(l.collect().toSeq === d.collect().toSeq, name)
      val counts = StructField("tp", LongType, nullable = true)
      assert(l.schema.fields.head === counts, s"$name: sum's nullable long counts")
    }
    val empty = SvmEvaluator.evaluate(frames(schemaOf(DoubleType), Nil)._1, "y").head()
    assert((0 until 5).forall(empty.isNullAt), "an empty frame counts nulls, and its accuracy is null")
    assert(empty.getDouble(5) === 0.0 && empty.getDouble(7) === 0.0)
    val nan = SvmEvaluator.evaluate(frames(cases(3)._2._1, cases(3)._2._2)._1, "y").head()
    assert((nan.getLong(0), nan.getLong(1)) === (1L, 1L), "NaN sorts above 0, as Spark SQL orders it")
  }

  test("a local frame evaluates with no Spark job") {
    val (schema, rows) = cases.head._2
    val (local, rdd) = frames(schema, rows)
    val (row, jobs) = jobsDuring(SvmEvaluator.evaluate(local, "y").head())
    assert(jobs === 0, s"$jobs jobs")
    assert(row.getAs[Double]("accuracy") === 0.714286)
    val (_, distributed) = jobsDuring(SvmEvaluator.evaluate(rdd, "y").head())
    assert(distributed > 0)
  }
}
