package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take a scale-factor directory so the same plan runs at
  * sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench). At cluster
  * scale these would be external tables; the access pattern (column-pruned,
  * filter-pushed parquet scans) is identical.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema read on the driver, no Spark job (see [[GraftFooterSchema]]). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    GraftFooterSchema.infer(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Small scans (one parquet file = one split) serialize compute-heavy
    * per-row stages on a single core; spread them when the scan has fewer
    * splits than cores. A 100 TB scan already has thousands of splits, so
    * this is a no-op there — the condition, not the repartition, is the
    * scale-honest part.
    *
    * Split count is estimated from file metadata (`inputFiles` + file
    * lengths vs `spark.sql.files.maxPartitionBytes` — the same formula
    * FilePartition packing uses, ignoring openCostInBytes so the estimate
    * is a lower bound that errs toward repartitioning tiny scans).
    * Deliberately NOT `df.rdd.getNumPartitions`: that instantiates a
    * throwaway RDD lineage (full analysis + physical planning) per call
    * just to read a number. */
  def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val hconf = spark.sparkContext.hadoopConfiguration
    val splits = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val len = p.getFileSystem(hconf).getFileStatus(p).getLen
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
    if (splits < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize `ts` to a session-timezone TIMESTAMP regardless of how the
    * generator wrote it. Historical layouts seen from the driver:
    *   - TIMESTAMP(NANOS): rejected by Spark's reader, so it arrives as a
    *     raw nanos-epoch long under `nanosAsLong` — convert with INTEGER
    *     division (`/` on a long column is double division, and epoch
    *     nanos ~1.7e18 exceed double's 53-bit mantissa — measured 1.6% of
    *     events off by 1 µs via the float path);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ — cast to TIMESTAMP (identical instant under the
    *     UTC session timezone every graft entrypoint pins);
    *   - TIMESTAMP: already canonical. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Monotonic per-session reader-conf init: enable `nanosAsLong` the
    * first time a graft events reader touches the session and never
    * flip it back, so parquet-reader semantics are CONSTANT for the
    * session's lifetime instead of depending on which query ran last.
    * The flag only changes how a NANOS-typed `ts` is INFERRED (long
    * instead of a reader error); micros/NTZ layouts are unaffected,
    * and [[normalizeTs]] canonicalizes all three. GraftSession/Bench
    * set it at build time, making this a no-op there; it exists for
    * externally-built sessions handed to the query maps. */
  def ensureLegacyNanos(s: SparkSession): Unit =
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** events.parquet: read and normalize `ts` (see [[normalizeTs]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    ensureLegacyNanos(s)
    normalizeTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
