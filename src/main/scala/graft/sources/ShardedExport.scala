package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.SamplingOps

/** Deterministic sharded training-data export — the last step of a
  * curation pipeline: write the corpus as N stable parquet shards plus a
  * manifest of per-shard row/token counts.
  *
  * Shard membership is `SamplingOps.shardKey` (md5-prefix mod N): a pure
  * function of the record id, so a re-run — on a different cluster size,
  * a different engine, or after an upstream repartition — produces
  * byte-identical shard membership. Round-robin `repartition(N)` or
  * `spark_partition_id`-derived shards are none of these.
  *
  * Scale shape: the shard column is map-side; the write shuffles once on
  * the shard key (dynamic partition insert). The manifest is a partial
  * agg over the written data (read back, so it certifies the files, not
  * the plan that produced them).
  */
object ShardedExport {

  /** Write `df` under `path` hive-partitioned by the deterministic shard
    * of `idCol`, then read the files back and return the manifest:
    * (shard, n_rows[, sum_<c> for each countCol]), one row per shard.
    * `countCols` are numeric columns to sum per shard (e.g. a token
    * count for "tokens per training shard"). */
  def write(df: DataFrame, idCol: String, nShards: Int, path: String,
      countCols: Seq[String] = Nil): DataFrame = {
    val sharded = df.withColumn("shard",
      SamplingOps.shardKey(col(idCol), nShards))
    sharded.write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(path)
    manifest(Tables.readParquet(df.sparkSession, path), countCols)
  }

  /** Per-shard manifest of an already-sharded DataFrame. */
  def manifest(sharded: DataFrame, countCols: Seq[String] = Nil)
      : DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      countCols.map(c => sum(col(c).cast("long")).as(s"sum_$c"))
    sharded.groupBy(col("shard").cast("int").as("shard"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("shard"))
  }
}
