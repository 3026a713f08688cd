package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


import graft.engine.GraphState

/** Data-ingestion formats (reference README.md:140 claims CSV/FHIR/HL7
  * ingest with NO implementation behind it — SURVEY §2.A scans table; we
  * implement the claimed surface for real on Spark's readers).
  */
object Ingest {

  /** CSV → vertex DataFrame: one vertex per row; `idCol` (default first
    * column) becomes the id, every other column a stringified property —
    * the same all-strings contract as the medical ToVertex layer. */
  def csvVertices(spark: SparkSession, path: String, label: String,
      idCol: Option[String] = None, header: Boolean = true): DataFrame = {
    val raw = spark.read
      .option("header", header.toString)
      .option("inferSchema", "false")
      .csv(path)
    fromColumns(raw, label, idCol.getOrElse(raw.columns.head))
  }

  /** JSON-lines → vertices, same contract. */
  def jsonVertices(spark: SparkSession, path: String, label: String,
      idCol: String): DataFrame =
    fromColumns(spark.read.json(path), label, idCol)

  private def fromColumns(df: DataFrame, label: String, idCol: String)
      : DataFrame = {
    val propCols = df.columns.filterNot(_ == idCol)
      .flatMap(c => Seq(lit(c), col(c).cast("string")))
    df.select(col(idCol).cast("string").as("id"), lit(label).as("label"),
        map_filter(map(propCols.toSeq: _*), (_, v) => v.isNotNull)
          .as("properties"))
      .filter(col("id").isNotNull)
  }

  /** Minimal FHIR-bundle ingestion: a Bundle JSON document has
    * `entry[].resource` objects with `resourceType` and `id`; each
    * resource becomes a vertex labeled by its resourceType, with scalar
    * top-level fields as properties, and `subject.reference`-style links
    * becoming REFERENCES edges. Exercises from_json + explode (the
    * SURVEY mapping) without pretending to be a full FHIR model. */
  def fhirBundle(spark: SparkSession, bundleJson: DataFrame)
      : GraphState = {
    val entries = bundleJson
      .select(explode(col("entry")).as("e"))
      .select(col("e.resource").as("r"))
    val flat = entries.select(
      col("r.resourceType").cast("string").as("rt"),
      col("r.id").cast("string").as("rid"),
      to_json(col("r")).as("rjson"))
    val vertices = flat.select(
      concat(col("rt"), lit("/"), col("rid")).as("id"),
      col("rt").as("label"),
      map(lit("json"), col("rjson")).as("properties"))
    // reference links: any `"reference":"Type/id"` in the resource JSON
    val refs = flat.select(
      concat(col("rt"), lit("/"), col("rid")).as("src"),
      explode(coalesce(
        // extract all reference targets from the serialized resource
        expr("""regexp_extract_all(rjson, '"reference":\\s*"([^"]+)"', 1)"""),
        array())).as("dst"))
    val edges = refs.select(
      concat(col("src"), lit("->"), col("dst")).as("id"),
      col("src"), col("dst"),
      lit("REFERENCES").as("edge_type"), lit("").as("label"),
      map().cast("map<string,string>").as("properties"))
    GraphState(vertices, edges)
  }

  /** Pipe-delimited HL7v2-ish message ingestion from files: one row per
    * message (label = message type from MSH-9) with segments as
    * properties. Reads wholetext (messages never span files), splits to
    * (file, offset, line), and groups with a PER-FILE window — the
    * message-boundary running sum shuffles on the file key and scales
    * with the file count, never collapsing the corpus to one partition
    * the way a global ORDER BY window would. */
  def hl7Files(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("file"), col("value"))
    val lines = files.select(col("file"),
      posexplode(split(col("value"), "\\r?\\n")).as(Seq("offset", "value")))
      .filter(length(trim(col("value"))) > 0)
    hl7Messages(spark, lines)
  }

  /** Core HL7 grouping over (file, offset, value) line rows; messages
    * split on MSH within each file, segment order preserved by offset. */
  def hl7Messages(spark: SparkSession, lines: DataFrame): DataFrame = {
    val perFile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file")).orderBy(col("offset"))
    val withMsg = lines
      .withColumn("is_msh", col("value").startsWith("MSH"))
      .withColumn("msg_seq",
        sum(when(col("is_msh"), 1).otherwise(0)).over(perFile))
    // two-level agg keeps map keys unique deterministically (first
    // segment of each type per message wins, by in-file offset) —
    // independent of spark.sql.mapKeyDedupPolicy
    val segs = withMsg
      .withColumn("seg_type", substring(col("value"), 1, 3))
      .groupBy(col("file"), col("msg_seq"), col("seg_type"))
      .agg(min_by(col("value"), col("offset")).as("seg_value"))
    segs
      .groupBy(col("file"), col("msg_seq"))
      .agg(
        map_from_entries(array_sort(collect_list(
          struct(col("seg_type"), col("seg_value"))))).as("properties"),
        max(when(col("seg_type") === "MSH",
          split(col("seg_value"), "\\|").getItem(8))).as("msg_type"))
      .select(
        concat(lit("hl7:"), xxhash64(col("file")), lit(":"), col("msg_seq"))
          .as("id"),
        coalesce(col("msg_type"), lit("HL7")).as("label"),
        col("properties"))
  }
}

/** Parquet persistence of graph snapshots — the durability analogue of
  * the reference's WAL+snapshot+recovery machinery (lib/src/durability),
  * which Parquet atomic writes + lineage replace wholesale (SURVEY §4.1).
  */
object GraphStore {
  def save(g: GraphState, dir: String): Unit = {
    g.vertices.write.mode("overwrite").parquet(s"$dir/vertices")
    g.edges.write.mode("overwrite").parquet(s"$dir/edges")
  }

  def load(spark: SparkSession, dir: String): GraphState =
    GraphState(
      Tables.readParquet(spark, s"$dir/vertices"),
      Tables.readParquet(spark, s"$dir/edges"))

  /** The 100 TB layout: vertices partitioned by label (label scans
    * prune to one directory — the on-disk form of the constant-folded
    * label filter), edges bucketed + sorted by src (frontier/pipe joins
    * shuffle ONLY the frontier side; a traversal join against the edge
    * table needs no edge shuffle at any scale). Registered as tables
    * because bucketing metadata lives in the catalog. */
  def saveBucketed(g: GraphState, spark: SparkSession, name: String,
      dir: String, buckets: Int = 64): Unit = {
    g.vertices.write.mode("overwrite")
      .partitionBy("label")
      .option("path", s"$dir/vertices")
      .saveAsTable(s"${name}_vertices")
    // pre-distribute by the bucket key: each write task then holds rows
    // of exactly one bucket (partition count a multiple of the bucket
    // count), so the per-task sort is small and parallel instead of one
    // wide sort-by-(bucket,src) per input partition — 4× on the write
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(buckets, shuffleParts / buckets * buckets)
    g.edges.repartition(parts, org.apache.spark.sql.functions.col("src"))
      .write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .option("path", s"$dir/edges")
      .saveAsTable(s"${name}_edges")
  }

  def loadBucketed(spark: SparkSession, name: String): GraphState =
    GraphState(spark.table(s"${name}_vertices"),
      spark.table(s"${name}_edges"))
}
