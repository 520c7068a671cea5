package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one run of one workload.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out DIR --warehouse DIR --loadavg1 L --fork-us EPOCH_MICROS
  * (graftbench/run.py builds this command line).
  *
  * A run is: set-up three times (the first from JVM fork); for `--seconds`,
  * one cold pass in listed order and then warm passes in a seeded order;
  * an untimed check pass that writes every result for the DuckDB oracle;
  * and, traced, the expression ladder. One closed-loop client: one
  * operation at a time on `local[nproc]`. JIT compilation keeps converging
  * for many passes, so only warm passes that start in the second half of
  * the window are counted (`counted` on the pass span), at least
  * [[minWarm]] of them.
  *
  * Every pass runs on a fresh `spark.newSession()` of the one
  * SparkContext: JIT and codegen caches stay warm, while `Shared.memo`
  * (keyed by session identity) cannot serve a warm pass from the cold
  * pass's tables. Reuse across passes would time a different program:
  * t_bpe_apply measured 4.83 s cold and 0.64 s steady when passes shared
  * one session. Sharing within a pass stays, because a user's session
  * has it. Traced runs alternate untraced and traced warm passes, so
  * tracing overhead is measured inside one JVM.
  *
  * Writes `trace.jsonl` (every span and count, the only source of the
  * reported metrics), the results and `oracle_sql.json` to `--out`. */
object Main {
  val minWarm = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val rec = new Recorder
    val cpus = Runtime.getRuntime.availableProcessors
    rec.record("host", "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "gc" -> Jvm.gcNames, "loadavg1" -> opt("loadavg1").toDouble)

    val ops = Workloads.ops(workload)
    val shuffled = new scala.util.Random(seed).shuffle(ops)
    val spark = setUp(rec, cpus, data, opt("fork-us").toLong, opt("warehouse"))
    val root = rec.open("workload")
    root.set("workload" -> workload, "seed" -> seed)
    val sparkMeter = new SparkMeter
    val streamMeter = new StreamMeter(rec)

    def pass(i: Int, tracedPass: Boolean, counted: Boolean): Unit = {
      val s = spark.newSession()
      if (tracedPass) {
        spark.sparkContext.addSparkListener(sparkMeter)
        s.streams.addListener(streamMeter)
      }
      val span = rec.open("pass", root)
      val jvm0 = Jvm.snapshot()
      val m0 = if (tracedPass) sparkMeter.snapshot(spark.sparkContext) else Map.empty[String, Long]
      streamMeter.pass = i
      (if (i == 0) ops else shuffled).foreach { op =>
        streamMeter.query = op.name
        runOp(rec, span, s, op, data, tracedPass, sparkMeter, s"$workload pass $i seed $seed")
      }
      val jvm1 = Jvm.snapshot()
      span.set("pass" -> i, "traced" -> tracedPass, "counted" -> counted,
        "jvm" -> jvm1.map { case (k, v) => k -> (if (k == "codecache_mb") v else v - jvm0(k)) })
      if (tracedPass) {
        span.set("spark" -> SparkMeter.delta(m0, sparkMeter.snapshot(spark.sparkContext)))
        s.streams.removeListener(streamMeter)
        spark.sparkContext.removeSparkListener(sparkMeter)
      }
      span.end()
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    pass(0, traced, counted = false)
    var i = 1
    var counted = 0
    // traced runs alternate traced and untraced counted passes, so they
    // need at least two of each
    val least = if (traced) minWarm + 1 else minWarm
    while (counted < least || elapsed < seconds) {
      val count = elapsed >= seconds / 2
      pass(i, traced && count && counted % 2 == 0, count)
      if (count) counted += 1
      i += 1
    }
    checkPass(rec, root, spark.newSession(), ops, data, out, s"$workload check seed $seed")
    if (traced && workload == "engine_sf001") Ladder.run(spark, seed, rec, root)
    root.end()
    rec.record("rss", "peak_mb" -> Jvm.rssPeakMb())
    rec.write(s"$out/trace.jsonl")
    spark.stop()
  }

  /** Session build plus the `Tables.load` warm-up (every table scanned
    * once), three times; the first is timed from the JVM's fork. */
  private def setUp(rec: Recorder, cpus: Int, data: String, forkUs: Long,
      warehouse: String): SparkSession = {
    def nowUs(): Long = {
      val t = java.time.Instant.now()
      t.getEpochSecond * 1000000L + t.getNano / 1000
    }
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) forkUs else nowUs()
      spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val w0 = System.nanoTime()
      graft.Tables.all.foreach(t => graft.Tables.load(spark, data, t).count())
      val warmup = (System.nanoTime() - w0) / 1e9
      rec.record("setup", "i" -> i, "s" -> (nowUs() - t0) / 1e6, "warmup_s" -> warmup)
    }
    spark
  }

  /** One operation: build, then the timed digest action. A failure is
    * recorded with workload, pass, query and seed, and never stops the
    * pass. Between operations the session is reset the way `graft.Bench`
    * resets it, so no operation inherits another's cached blocks, views
    * or running streams. */
  private def runOp(rec: Recorder, parent: Span, s: SparkSession, op: Op,
      data: String, traced: Boolean, meter: SparkMeter, where: String): Unit = {
    val span = rec.open("query", parent)
    span.set("query" -> op.name, "family" -> op.family)
    val m0 = if (traced) meter.snapshot(s.sparkContext) else null
    try {
      val b = rec.open("build", span)
      val df = op.build(s, data)
      b.end()
      val a = rec.open("action", span)
      val d = Digest.of(df)
      a.end()
      span.set("ok" -> true, "rows" -> d.rows, "digest" -> d.hex)
    } catch {
      case e: Exception =>
        span.set("ok" -> false, "error" -> s"$where query ${op.name}: $e")
    } finally reset(s)
    if (traced) span.set("spark" -> SparkMeter.delta(m0, meter.snapshot(s.sparkContext)))
    span.end()
  }

  private def reset(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    s.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => s.catalog.dropTempView(t.name))
  }

  /** Untimed: writes each result as parquet for `tools/check.py` and
    * records the digest of what was written, which every timed pass's
    * digest must equal. */
  private def checkPass(rec: Recorder, parent: Span, s: SparkSession, ops: Seq[Op],
      data: String, out: String, where: String): Unit = {
    val span = rec.open("check", parent)
    ops.foreach { op =>
      val path = s"$out/results/${op.name}"
      try {
        op.build(s, data).write.mode("overwrite").parquet(path)
        val d = Digest.of(s.read.parquet(path))
        rec.record("checked", "query" -> op.name, "rows" -> d.rows, "digest" -> d.hex)
      } catch {
        case e: Exception =>
          rec.record("checked", "query" -> op.name, "error" -> s"$where query ${op.name}: $e")
      } finally reset(s)
    }
    val sql = ops.flatMap(op => Workloads.oracleSql(op.name).map(op.name -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/results/oracle_sql.json"),
      Json.value(sql))
    span.end()
  }
}
