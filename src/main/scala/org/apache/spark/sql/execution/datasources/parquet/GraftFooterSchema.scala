package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema inference for a plain (non-merging) read.
  *
  * `spark.read.parquet(path)` without a schema infers one through
  * `ParquetUtils.inferSchema` → `mergeSchemasInParallel`, which submits
  * a one-task Spark job to read a SINGLE footer whenever schema merging
  * is off. This reads that same footer on the driver instead, so opening
  * a table costs a file-system listing and one footer read, not a job.
  *
  * Exactness argument: with merging off Spark touches exactly one file —
  * `_common_metadata` if present, else `_metadata`, else the first data
  * file in path order — and converts its footer with
  * `readSchemaFromFooter` and a converter built from the session SQLConf.
  * This picks the same file from the same filtered listing and runs the
  * same two calls with the same converter arguments, so `nanosAsLong`,
  * NTZ inference, binary-as-string and `ignoreCorruptFiles` behave as
  * they do in Spark's own inference. The relation Spark then builds
  * (`asNullable` data schema) is the same for an inferred and a supplied
  * schema.
  *
  * `None` means "let Spark infer": schema merging on, a glob, a missing
  * path, a nested (partitioned) directory whose partition columns come
  * from the path, no data file, or any footer-read failure — in every
  * such case Spark's own inference runs and raises its own error. Nothing
  * is cached: each call reads the footer, so a rewritten file is seen. */
object GraftFooterSchema {
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val p = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(p)) return None
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) return None
      val root = fs.getFileStatus(p)
      val leaves = (if (root.isDirectory) fs.listStatus(p).toSeq else Seq(root))
        .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
      if (leaves.exists(_.isDirectory)) return None
      val sorted = leaves.sortBy(_.getPath.toString)
      val common = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
      val meta = ParquetFileWriter.PARQUET_METADATA_FILE
      def named(n: String) = sorted.find(_.getPath.getName == n)
      val touch = named(common).orElse(named(meta))
        .orElse(sorted.find(f => f.getPath.getName != common && f.getPath.getName != meta))
      touch.flatMap { f =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readParquetFootersInParallel(hconf, Seq(f), conf.ignoreCorruptFiles)
          .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      }
    } catch { case NonFatal(_) => None }
  }
}
