package graft

import graft.streaming.EventStream

class SessionizeStreamSpec extends SparkSpec {

  test("streaming flatMapGroupsWithState sessionization matches batch for closed sessions") {
    val streamed = EventStream.sessionizeStream(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toSet
    val batchAll = EventStream.sessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    // sessions closed by an in-batch gap always emit; each user's final
    // session emits only if the event-time timeout (end + 30min) fell
    // behind the watermark — so bracket: closedByGap ⊆ streamed ⊆ all
    val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val closedByGap = batchAll
      .filterNot { case (u, sid, _, _, _, _) => lastPerUser(u) == sid }
      .map { case (u, _, st, en, n, v) => (u, st, en, n, v) }
      .toSet
    val all = batchAll.map { case (u, _, st, en, n, v) => (u, st, en, n, v) }.toSet
    assert(streamed.nonEmpty, "streaming query emitted no closed sessions")
    assert(closedByGap.subsetOf(streamed),
      s"missing gap-closed sessions: ${(closedByGap -- streamed).take(3)}")
    assert(streamed.subsetOf(all),
      s"streamed sessions not in batch result: ${(streamed -- all).take(3)}")
  }

  test("timeout slice equals final sessions behind the end-of-stream watermark (driver contract)") {
    import org.apache.spark.sql.functions._
    val timedOut = EventStream.sessionizeStreamFinal(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toSet
    assert(timedOut.nonEmpty, "expected timeout-closed sessions")
    // replay the timeout arithmetic: final watermark = max event ms - 60s;
    // a final session times out iff end_ms + gap_ms + 1 < watermark (the
    // strict comparison Spark applies to setTimeoutTimestamp values)
    val maxUs = Tables.events(spark, sf)
      .select(max(unix_micros(col("ts")))).first().getLong(0)
    val wmMs = maxUs / 1000 - 60000
    // the final session's end is the user's max event time — take it in
    // MICROS from the raw events (session_end strings are second-
    // resolution, too coarse for the ms-exact timeout inequality)
    val userMaxUs = Tables.events(spark, sf)
      .groupBy("user_id").agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchAll = EventStream.sessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batchAll
      .filter { case (u, sid, _, _, _, _) => lastPerUser(u) == sid }
      .filter { case (u, _, _, _, _, _) => userMaxUs(u) / 1000 + 1800001 < wmMs }
      .map { case (u, _, st, en, n, v) => (u, st, en, n, v) }
      .toSet
    assert(timedOut == expected,
      s"timeout slice drifted: extra=${(timedOut -- expected).take(3)} missing=${(expected -- timedOut).take(3)}")
  }

  test("gap-closed slice equals the batch non-final sessions exactly (driver contract)") {
    val closed = EventStream.sessionizeStreamClosed(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toSet
    val batchAll = EventStream.sessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    val lastPerUser = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val nonFinal = batchAll
      .filterNot { case (u, sid, _, _, _, _) => lastPerUser(u) == sid }
      .map { case (u, _, st, en, n, v) => (u, st, en, n, v) }
      .toSet
    assert(closed == nonFinal,
      s"gap-closed slice drifted: extra=${(closed -- nonFinal).take(3)} missing=${(nonFinal -- closed).take(3)}")
  }

  test("throttle: decisions replay from an in-memory (user, day) rank; cap actually fires") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val dayUs = 86400L * 1000 * 1000
    val cap = GraftConf.throttleCapPerDay
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = events.toSeq
      .groupBy { case (u, _, t) => (u, math.floorDiv(t, dayUs)) }
      .toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e._3, e._2)).zipWithIndex.map { case ((u, id, _), i) =>
          (u, id) -> ((i + 1).toLong, (i + 1).toLong <= cap)
        }
      }
    val got = EventStream.throttle(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        ((r.getAs[Long]("rnk"), r.getAs[Boolean]("admitted")))).toMap
    assert(got.size == events.length, "one decision row per event")
    assert(got == expected.toMap,
      s"throttle diverges: ${got.toSet.diff(expected.toSet).take(3)}")
    assert(got.values.exists(!_._2), "fixture has user-days over the cap; drops expected")
    assert(got.values.count(_._2) > got.values.count(!_._2), "most events admitted")
  }

  test("late_data: stragglers behind the even-half watermark are dropped; accounting balances") {
    import graft.streaming.EventStream
    val rows = EventStream.lateData(spark, sf).collect()
    val evTotal = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_total")).sum == evTotal,
      "per-window totals must tile the whole table")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_late_dropped")
        == r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("n_kept") >= 0 && r.getAs[Long]("n_late_dropped") >= 0)
    }
    // the straggler batch sits far behind max(even ts) - 10min: real drops must occur
    assert(rows.map(_.getAs[Long]("n_late_dropped")).sum > 0,
      "no late rows were dropped - the watermark never took effect")
    // and the even half plus the tick row always survives
    val keptSum = rows.map(_.getAs[Long]("n_kept")).sum
    val evens = Tables.events(spark, sf).filter(org.apache.spark.sql.functions.expr("event_id % 2 = 0")).count()
    assert(keptSum >= evens + 1, s"kept $keptSum < evens+tick ${evens + 1}")
  }

  test("restart_recovery: a new query on the same checkpoint neither replays nor skips") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions._
    val got = EventStream.restartRecovery(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_distinct_events"))).toSeq
    val want = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("nd"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("nd"))).sortBy(_._1).toSeq
    assert(got == want,
      s"recovered sink diverges from batch (replay doubles, skip loses): $got vs $want")
  }

  test("session_window: native operator tiles all events; at least as many sessions as islands") {
    import graft.streaming.EventStream
    val rows = EventStream.sessionWindowAgg(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sf).count(),
      "session windows must tile every event exactly once")
    // the >= break can only split more finely than the islands' > break
    val perUserNative = rows.groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length)
    val perUserIslands = EventStream.sessionize(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length)
    perUserIslands.foreach { case (u, n) =>
      assert(perUserNative(u) >= n, s"user $u: native ${perUserNative(u)} < islands $n")
    }
  }

  test("foreach_upsert: merged state equals the batch argmax; one row per user") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions._
    val got = EventStream.foreachUpsert(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"))).toSeq
    val want = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(struct(unix_micros(col("ts")), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want, s"upsert state diverges: ${got.take(3)} vs ${want.take(3)}")
    assert(got.map(_._1).distinct.length == got.length, "state must hold one row per user")
  }

  test("tws_ledger: RocksDB state merges across batches to the exact batch aggregate") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions._
    val got = EventStream.twsLedger(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("total_us"))).toSeq
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * lit(1000000L)).cast("long")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want, s"ledger diverges: ${got.take(3)} vs ${want.take(3)}")
    // the provider conf must not leak into the session after the query
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass").isEmpty
      || !spark.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"),
      "state-store provider conf leaked out of twsLedger")
  }

  test("sessionize drain: the memo directory holds several part files and reads back the drained rows") {
    // a fresh session is a fresh memo key; four stream shuffle partitions
    // make the append drain write more than one part file
    val s2 = spark.newSession()
    s2.conf.set(GraftConf.streamShuffleKey, "4")
    val dir = EventStream.sessionDrain(s2, sf)
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length > 1, s"expected several part files in $dir")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "start_us", "end_us", "n_events", "total_value", "closed_by")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val sink = "graft_drain_reference"
    val q = EventStream.sessionFsmStream(s2, sf).writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    try {
      val back = rows(Tables.readParquet(s2, dir.toString))
      assert(back.nonEmpty && back == rows(s2.table(sink)))
    } finally s2.catalog.dropTempView(sink)
    // both consumers read the same drained directory
    assert(EventStream.sessionDrain(s2, sf) == dir)
    def slice(ss: org.apache.spark.sql.SparkSession) =
      (EventStream.sessionizeStreamClosed(ss, sf).collect().toSeq,
        EventStream.sessionizeStreamFinal(ss, sf).collect().toSeq)
    assert(slice(s2) == slice(spark))
  }

  test("file-sink drain deletes its streaming checkpoint directory") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts() = Option(tmp.list()).map(_.filter(_.startsWith("graft-fsink-ckpt-")).toSet)
      .getOrElse(Set.empty[String])
    val before = ckpts()
    val out = java.nio.file.Files.createTempDirectory("graft_fsink_out_").toString
    try {
      EventStream.runToFileSink(spark, sf, EventStream.eventStream(spark, sf).select("event_id"),
        "append", s"$out/t")
      assert(new java.io.File(s"$out/t").list().exists(_.endsWith(".parquet")))
      assert((ckpts() -- before).isEmpty, s"leaked: ${ckpts() -- before}")
    } finally Scratch.rmTree(out)
  }
}
