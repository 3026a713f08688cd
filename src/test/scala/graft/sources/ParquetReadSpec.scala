package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

/** `Tables.readParquet` reads the schema Spark's own inference reads, and
  * `EventTs` reads the legacy TIMESTAMP(NANOS) events layout. */
class ParquetReadSpec extends SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def sameSchema(path: String,
      options: Map[String, String] = Map.empty): Unit =
    assert(Tables.readParquet(spark, path, options).schema ==
      spark.read.options(options).parquet(path).schema, path)

  test("readParquet schema == Spark's inferred schema on every testdata " +
      "table") {
    for (sfName <- Seq("sf0.001", "sf0.01"); t <- tables)
      sameSchema(s"${sf(sfName)}/$t.parquet")
  }

  test("readParquet schema == Spark's inferred schema on Spark-written " +
      "part-file directories") {
    val docs = Tables(spark, sf("sf0.001")).documents
    val base = Files.createTempDirectory("read_parquet").toString
    // several part files, a _SUCCESS marker and .crc files
    docs.repartition(3).write.parquet(s"$base/parts")
    sameSchema(s"$base/parts")
    // hive-partitioned: the partition column joins the data schema
    docs.write.partitionBy("lang").parquet(s"$base/by_lang")
    sameSchema(s"$base/by_lang")
    // two layouts under one root: merged only when asked
    docs.select(col("doc_id"), col("n_chars"))
      .write.parquet(s"$base/evo/shard=old")
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.parquet(s"$base/evo/shard=new")
    sameSchema(s"$base/evo")
    sameSchema(s"$base/evo", Map("mergeSchema" -> "true"))
    assert(Tables.readParquet(spark, s"$base/evo",
      Map("mergeSchema" -> "true")).columns.contains("lang"))
  }

  test("GraphStore.load reads the schema Spark infers") {
    val dir = Files.createTempDirectory("graph_store_schema").toString
    GraphStore.save(pipeFixture, dir)
    val g = GraphStore.load(spark, dir)
    assert(g.vertices.schema == spark.read.parquet(s"$dir/vertices").schema)
    assert(g.edges.schema == spark.read.parquet(s"$dir/edges").schema)
  }

  test("EventTs reads the legacy TIMESTAMP(NANOS) layout: lazy " +
      "nanosAsLong flip, microsecond normalization") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    val dir = Files.createTempDirectory("events_nanos").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("event_type")
      .required(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("props")
      .named("events")
    // nanos since the epoch, with and without a sub-microsecond part
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000000123456000L,
      3L -> 999L)
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, "part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.foreach { case (id, ts) =>
      writer.write(rows.newGroup().append("event_id", id)
        .append("ts", ts).append("user_id", 7L)
        .append("event_type", "view").append("value", 1.5))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    assert(s.conf.get(key) == "false")
    val ev = EventTs.readBatch(s, dir)
    assert(s.conf.get(key) == "true") // flipped only after the nanos probe
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == nanos.map { case (id, ts) => id -> ts / 1000 }.toMap)

    // the current timestamp[us] layout never flips the conf
    val current = spark.newSession()
    current.conf.set("spark.sql.session.timeZone", "UTC")
    assert(Tables(current, sf("sf0.001")).events.schema("ts").dataType ==
      TimestampType)
    assert(current.conf.get(key) == "false")
  }
}
