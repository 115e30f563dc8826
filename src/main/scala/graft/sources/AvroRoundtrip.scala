package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QuerySpec

/** src6: AVRO object-container roundtrip — the one mainstream batch
  * format missing from the SRC family (real corpora and Kafka archive
  * dumps ship in it). The `spark-avro` MODULE is not on this build's
  * classpath (zero-egress container), but Avro CORE is (Spark itself
  * depends on it), so this is a from-scratch Avro source/sink on the
  * public container-file API — and deliberately shaped like a real
  * distributed one, not a driver loop:
  *
  *   WRITE: each Spark partition serializes its rows through a
  *   `DataFileWriter[GenericRecord]` into its own `part-N.avro`
  *   container (deflate codec, schema embedded in the header) inside
  *   `foreachPartition` — data never touches the driver, file count =
  *   partition count, the standard sink layout.
  *
  *   READ: the driver lists the directory (a file MANIFEST — O(files),
  *   never data), parallelizes one task per container, and each task
  *   streams its file through `DataFileReader` — projection happens
  *   per-record before the Row is built (Avro is row-oriented: schema
  *   projection is the format's native pushdown; there is no predicate
  *   pushdown to push, which is exactly the trade documented against
  *   the columnar src3/ORC row). At cluster scale the `File` handles
  *   become `FsInput` over the distributed store; the task shape is
  *   identical.
  *
  * The roundtrip is gated like src1–src5: serialize the orders slice
  * out, read it back, summarize — any loss in schema mapping, null
  * unions, string/Utf8 handling, or double fidelity hash-mismatches
  * against the parquet-derived oracle.
  */
object AvroRoundtrip {

  /** Avro schema for the orders slice: every field a nullable union,
    * matching the parquet slice's nullability. */
  private val AvroSchemaJson: String =
    """{"type":"record","name":"order","namespace":"graft","fields":[
       {"name":"o_orderkey","type":["null","long"],"default":null},
       {"name":"o_custkey","type":["null","long"],"default":null},
       {"name":"o_orderstatus","type":["null","string"],"default":null},
       {"name":"o_totalprice","type":["null","double"],"default":null},
       {"name":"o_orderpriority","type":["null","string"],"default":null}]}"""

  private def ordersSlice(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))

  /** Distributed sink: one Avro container per partition under `outDir`. */
  private[sources] def writeAvro(df: DataFrame, outDir: String): Unit = {
    val fields = df.schema.fieldNames
    df.rdd.mapPartitionsWithIndex { (pid, it) =>
      // parse per task — avro Schema is not serializable-stable across
      // closures; the JSON string is
      val schema = new Schema.Parser().parse(AvroSchemaJson)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(3))
      val f = new java.io.File(outDir, f"part-$pid%05d.avro")
      writer.create(schema, f)
      try it.foreach { row =>
        val r = new GenericData.Record(schema)
        fields.zipWithIndex.foreach { case (name, i) =>
          r.put(name, if (row.isNullAt(i)) null else row.get(i))
        }
        writer.append(r)
      } finally writer.close()
      Iterator.empty
    }.count() // force the distributed write
  }

  /** Distributed source: one read task per container file; Utf8 →
    * String at the record boundary (the classic avro-core footgun). */
  private[sources] def readAvro(spark: SparkSession, inDir: String,
                                sparkSchema: StructType): DataFrame = {
    val files = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"src6: no avro containers under $inDir")
    val rows = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.length)
      .flatMap { path =>
        val reader = new DataFileReader[GenericRecord](
          new java.io.File(path), new GenericDatumReader[GenericRecord]())
        new Iterator[Row] {
          def hasNext: Boolean = { val h = reader.hasNext; if (!h) reader.close(); h }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(sparkSchema.fieldNames.toIndexedSeq.map { f =>
              rec.get(f) match {
                case u: org.apache.avro.util.Utf8 => u.toString
                case v => v
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, sparkSchema)
  }

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("o_custkey")).as("n_custs"),
           round(sum(col("o_totalprice")), 2).as("sum_price"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))

  /** src6: orders → avro containers → read back → summary (hash-gated
    * against the same parquet-side oracle as src1–src3/src5). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSlice(spark, dir)
    graft.Scratch.collected("avro") { tmp =>
      writeAvro(o, tmp)
      val back = readAvro(spark, tmp, o.schema)
      summarize(back)
    }
  }

  // src6: Avro container roundtrip (hand-rolled on avro-core — the
  // spark-avro module is absent from this classpath); same oracle
  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("src6_avro_roundtrip", query, Some(SourceRoundtrips.ordersSummarySql)))
}
