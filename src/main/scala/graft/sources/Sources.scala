package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY §2.7 scans/sources/sinks): the reference's
  * docs exercise CSV scans (`dd.read_csv`, basic_api.ipynb); the driver
  * harness is parquet; predictions need a writable sink. All are thin,
  * schema-explicit wrappers over Spark's DataSource V2 readers so
  * predicate pushdown / column pruning / partition pruning apply
  * unchanged.
  */
object Sources {

  /** CSV scan with explicit schema (never infer at 100 TB — schema
    * inference is a full extra pass). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .schema(schema)
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet sink (snappy, the scale default). `partitionByCols` drives
    * partition pruning for downstream readers. */
  def writeParquet(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** ORC scan — the other columnar format Spark ships a vectorized V2
    * reader for; same pushdown/pruning properties as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .orc(path)
  }

  /** Line-text scan (one string column `value` per line) — the raw-corpus
    * ingestion format; pair with the text-analysis operators. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def writeText(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).text(path)

  /** Bucketed parquet table (session catalog): rows are hash-clustered
    * into `nBuckets` files per partition by `bucketCols`, and the layout
    * is recorded in the catalog. Joins/aggregations keyed on the bucket
    * columns between tables with the SAME bucket count then run with
    * ZERO exchange — the co-located-join technique that at 100 TB
    * replaces re-shuffling the fact table on every query with one
    * shuffle at write time (SortMergeJoin still sorts within buckets;
    * add `sortBy` at write to pre-sort files too). */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Sharded training-corpus sink: one parquet directory per shard
    * (`shard=N/`), each shard's rows laid down in its deterministic
    * stream order — the materialization of `Sampling.packSequences`,
    * so a downstream token-stream reader consumes each shard
    * sequentially and a rerun ships byte-identical shards.
    *
    * `repartition(shardCol)` + `sortWithinPartitions` + `partitionBy`:
    * one hash shuffle co-locates each shard, the in-partition sort
    * orders rows by the pack offsets, and the dynamic partition write
    * emits exactly one directory per shard. At 100 TB shards are
    * thousands of directories each written by one task — no global
    * sort, no driver state. */
  def writeShards(df: DataFrame, path: String, shardCol: String,
      orderCols: Seq[String], mode: String = "overwrite"): Unit = {
    require(orderCols.nonEmpty, "orderCols must be non-empty (determinism)")
    import org.apache.spark.sql.functions.col
    df.repartition(col(shardCol))
      .sortWithinPartitions((shardCol +: orderCols).map(col): _*)
      .write.mode(mode).partitionBy(shardCol).parquet(path)
  }
}
