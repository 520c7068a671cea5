package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Djb2, MinHashFns, TopKAgg, VectorFns}

/** Expression ladder: rows per second of each native `graft.functions`
  * expression over seeded synthetic rows, once with code generation and
  * once interpreted (`_eval`). The input is cached before timing, so a
  * step measures the expression and the scan of cached rows, nothing
  * upstream of them; each step runs once untimed first, so the timed run
  * excludes code generation and JIT warm-up. */
object Ladder {
  val rows = 100000L

  private def input(s: SparkSession, seed: Long): DataFrame = {
    def h(i: Column) = xxhash64(col("id"), i, lit(seed))
    def arr(n: Int)(f: Column => Column) = transform(sequence(lit(1), lit(n)), f)
    s.range(rows).select(
      concat(lit("w"), pmod(xxhash64(col("id"), lit(seed)), lit(100000L)).cast("string")).as("w"),
      arr(32)(i => concat(lit("t"), pmod(h(i), lit(5000L)).cast("string"))).as("toks"),
      arr(64)(i => (pmod(h(i), lit(2000L)) - 1000) / 1000.0).as("a"),
      arr(64)(i => (pmod(h(i + 64), lit(2000L)) - 1000) / 1000.0).as("b"),
      array_sort(array_distinct(arr(32)(i => pmod(h(i), lit(200L))))).as("sa"),
      array_sort(array_distinct(arr(32)(i => pmod(h(i + 32), lit(200L))))).as("sb"),
      pmod(col("id"), lit(1000L)).as("g"),
      (pmod(h(lit(0)), lit(100000L)) / 100.0).as("v"))
      .withColumn("sig", MinHashFns.minhash_sig(col("toks")))
      .cache()
  }

  val steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "djb2" -> (_.select(Djb2.djb2_hash(col("w")))),
    "djb2_partition" -> (_.select(Djb2.djb2_partition(col("w"), 10))),
    "minhash_sig" -> (_.select(MinHashFns.minhash_sig(col("toks")))),
    "band_hashes" -> (_.select(MinHashFns.band_hashes(col("sig"), 4))),
    "simhash64" -> (_.select(MinHashFns.simhash64(col("toks")))),
    "dot_product" -> (_.select(VectorFns.dot_product(col("a"), col("b")))),
    "sorted_jaccard" -> (_.select(MinHashFns.sorted_jaccard(col("sa"), col("sb")))),
    "topk_agg" -> (_.groupBy("g").agg(TopKAgg.topk(col("v"), 10))))

  /** Runs every step in both modes, each on its own session, recording a
    * `ladder` span per step under `parent`. Both sessions read the same
    * cached input (the cache is shared by plan across sessions). */
  def run(base: SparkSession, seed: Long, rec: Recorder, parent: Span): Unit = {
    val cached = input(base.newSession(), seed)
    cached.write.format("noop").mode("overwrite").save()
    Seq(false, true).foreach { interpreted =>
      val s = base.newSession()
      if (interpreted) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      val in = input(s, seed)
      steps.foreach { case (fn, step) =>
        // the first run compiles and JITs the step; the second is timed
        step(in).write.format("noop").mode("overwrite").save()
        val span = rec.open("ladder", parent)
        step(in).write.format("noop").mode("overwrite").save()
        span.set("fn" -> fn, "eval" -> interpreted, "rows" -> rows)
        span.end()
      }
    }
    cached.unpersist(blocking = true)
  }
}
