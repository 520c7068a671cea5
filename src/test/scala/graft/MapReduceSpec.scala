package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.functions._

import graft.functions.Djb2
import graft.mapreduce.MapReduce
import graft.operators.MapReduceQueries

class MapReduceSpec extends SparkSpec {

  test("djb2 matches the C reference on known values") {
    // h("a") = 5381*33 + 'a' = 177670; empty string = seed
    assert(Djb2.hash("a".getBytes("UTF-8")) == 177670L)
    assert(Djb2.hash(Array.emptyByteArray) == 5381L)
    // partition of long keys uses unsigned modulo
    val longKey = "a-rather-long-token-overflowing-63-bits".getBytes("UTF-8")
    val p = Djb2.partition(longKey, 10)
    assert(p >= 0 && p < 10)
    assert(p == java.lang.Long.remainderUnsigned(Djb2.hash(longKey), 10L).toInt)
    // known answers computed with C semantics: chars promote as SIGNED
    // (é is 0xC3 0xA9, folded as -61, -87; unsigned chars give another value)
    assert(Djb2.hash("é".getBytes(UTF_8)) == 5857809L)
    assert(Djb2.hash("spark".getBytes(UTF_8)) == 210728065094L)
    assert(Djb2.partition("spark".getBytes(UTF_8), 7) == 1)
    // the long key sets the sign bit: C's unsigned modulo gives 2 where
    // Java's signed % would give -4
    assert(java.lang.Long.toUnsignedString(Djb2.hash(longKey)) == "17876224124281019352")
    assert(p == 2)
    assert(Djb2.hash(longKey) % 10 == -4L)
  }

  test("distwc tokenization: split on space/tab/newline/CR, empties dropped") {
    import spark.implicits._
    val line = " a\t\tb\r\nc  "
    // the facade mappers' form and the declarative queries' form
    assert(line.split("[ \t\n\r]+").iterator.filter(_.nonEmpty).toList == List("a", "b", "c"))
    val viaSql = Seq(line).toDF("text")
      .select(explode(split(col("text"), "[ \t\n\r]+")).as("token"))
      .filter(col("token") =!= "")
      .as[String].collect().toList
    assert(viaSql == List("a", "b", "c"))
  }

  test("partitioner hash stops at the first NUL byte like C's while((c=*key++))") {
    assert(Djb2.hashC("a\u0000b".getBytes("UTF-8")) == Djb2.hashC("a".getBytes("UTF-8")))
    assert(Djb2.hashC("\u0000anything".getBytes("UTF-8")) == 5381L)
    assert(Djb2.partition("a\u0000b".getBytes("UTF-8"), 10)
      == Djb2.partition("a".getBytes("UTF-8"), 10))
    // the sketch/base hash consumes every byte — its SQL oracles do too
    assert(Djb2.hash("a\u0000b".getBytes("UTF-8")) != Djb2.hash("a".getBytes("UTF-8")))
    assert(Djb2.hashC("plain".getBytes("UTF-8")) == Djb2.hash("plain".getBytes("UTF-8")))
  }

  test("djb2 expression (codegen) agrees with the Scala implementation") {
    import spark.implicits._
    val words = Seq("spark", "join", "a", "windowwindowwindow").toDF("w")
    val rows = words.select(col("w"), Djb2.djb2_hash(col("w")).as("h"),
      Djb2.djb2_partition(col("w"), 7).as("p")).collect()
    rows.foreach { r =>
      val b = r.getString(0).getBytes("UTF-8")
      assert(r.getLong(1) == Djb2.hash(b))
      assert(r.getInt(2) == Djb2.partition(b, 7))
    }
  }

  test("facade wordcount equals the declarative wordcount") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("text").as[String]
    val viaFacade = MapReduce.run[String, String, Int, (String, Long)](
      docs.rdd,
      mapper = line => line.split("[ \t\n\r]+").iterator.filter(_.nonEmpty).map((_, 1)),
      reducer = (k, vs) => (k, vs.size.toLong),
      numParts = 10)
      .collect().toMap
    val declarative = MapReduceQueries.wordcount(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaFacade == declarative)
  }

  test("chained facade jobs: freq-of-freq equals the declarative double aggregate") {
    val viaChain = MapReduceQueries.freqOfFreq(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = MapReduceQueries.wordcount(spark, sf)
      .groupBy("cnt").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaChain == declarative)
    // a frequency distribution conserves the vocabulary
    assert(viaChain.values.sum == MapReduceQueries.wordcount(spark, sf).count())
  }

  test("facade honors the djb2 partition layout") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("text").as[String]
    val parts = MapReduce.run[String, String, Int, (String, Int)](
      docs.rdd,
      mapper = line => line.split("[ \t\n\r]+").iterator.filter(_.nonEmpty).map((_, 1)),
      reducer = (k, vs) => (k, org.apache.spark.TaskContext.getPartitionId()),
      numParts = 10)
      .collect()
    parts.foreach { case (token, pid) =>
      assert(pid == Djb2.partition(token.getBytes("UTF-8"), 10), s"token $token in wrong partition")
    }
  }

  test("combiner run equals the no-combiner run") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("text").as[String]
    def mapper(line: String) = line.split("[ \t\n\r]+").iterator.filter(_.nonEmpty).map((_, 1L))
    val combined = MapReduce.runCombined[String, String, Long](
      docs.rdd, mapper, _ + _, numParts = 10).collect().toMap
    val plain = MapReduce.run[String, String, Long, (String, Long)](
      docs.rdd, mapper, (k, vs) => (k, vs.sum), numParts = 10).collect().toMap
    assert(combined == plain)
  }

  test("hot key: run() materializes one key's run and still reduces; runCombined shrinks it") {
    // skew contract (GroupedRunIterator scaladoc): a hot key's values are
    // buffered in memory during its reduce — here 200k values on one key
    // among 1k cold keys — while runCombined's map-side merge is the
    // skew-safe path (the hot key crosses the shuffle once per partition)
    val n = 200000
    val input = spark.sparkContext.parallelize(1 to n, 16)
    def mapper(i: Int) = Iterator.single((if (i % 2 == 0) "hot" else s"cold_${i % 1000}", 1L))
    val plain = MapReduce.run[Int, String, Long, (String, Long)](
      input, mapper, (k, vs) => (k, vs.sum), numParts = 4).collect().toMap
    assert(plain("hot") == n / 2)
    assert(plain.size == 501 && plain("cold_1") == 100L * 2)
    val combined = MapReduce.runCombined[Int, String, Long](
      input, mapper, _ + _, numParts = 4).collect().toMap
    assert(combined == plain)
  }

  test("secondary sort delivers values ordered within each key") {
    import spark.implicits._
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
    // per customer: first order id when ordered by orderkey
    val firsts = MapReduce.runSorted[(Long, Long, Double), Long, Long, Long, (Long, Long)](
      orders.rdd,
      mapper = { case (c, o, _) => Iterator.single((c, (o, o))) },
      reducer = (c, os) => (c, os.next()),
      numParts = 8).collect().toMap
    val expected = orders.rdd.map { case (c, o, _) => (c, o) }.reduceByKey(math.min).collect().toMap
    assert(firsts == expected)
  }

  test("null values are dropped like MR_Emit (mapreduce.c:205)") {
    val input = spark.sparkContext.parallelize(Seq("a", "b", "a"))
    // mapper emits one real and one null-valued pair per record, plus
    // null/empty keys — only the real pairs may reach the reducer
    val out = MapReduce.run[String, String, String, (String, Long)](
      input,
      mapper = k => Iterator((k, "1"), (k, null), (null, "1"), ("", "1")),
      reducer = (k, vs) => (k, vs.size.toLong),
      numParts = 4).collect().toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
    val combined = MapReduce.runCombined[String, String, java.lang.Long](
      input,
      mapper = k => Iterator((k, java.lang.Long.valueOf(1L)), (k, null)),
      merge = (a, b) => a + b,
      numParts = 4)
    assert(combined.collect().map { case (k, v) => (k, v.longValue) }.toMap
      == Map("a" -> 2L, "b" -> 1L))
  }

  test("mr queries all return rows") {
    MapReduceQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name empty")
    }
  }

  test("mr_sort: bucket-offset two-phase rank is exactly the global sort order") {
    val rows = MapReduceQueries.sortRank(spark, sf).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("rank")).toSet == (1L to n).toSet, "rank is not a permutation")
    val sorted = rows.sortBy(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
    sorted.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rank") == i + 1,
        s"doc ${r.getAs[Long]("doc_id")} ranked ${r.getAs[Long]("rank")}, expected ${i + 1}")
    }
  }
  test("mr_first_last: matches a declarative window first/last on the same ordering") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = graft.operators.MapReduceQueries.firstLast(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3)))).toMap
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")), col("event_id"))
    val expected = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        first("event_type").over(w).as("f"),
        last("event_type").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("l"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
      .groupBy("user_id").agg(first("f").as("f"), first("l").as("l"), first("n").as("n"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  test("mr_join: equals the declarative join+groupBy bit-for-bit") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.MapReduceQueries.mrJoin(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val expected = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count("o_custkey").as("n"),
        coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L)).as("cents"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  /** Shuffle bytes written by the jobs `body` runs. Bytes are attributed
    * through a job group -> stage-id filter, so concurrent jobs on the
    * shared SparkContext (parallel suites, background streams) can never
    * bleed their shuffle writes into the window. */
  private def shuffleBytesWritten(body: => Unit): Long = {
    import java.util.concurrent.atomic.LongAdder
    val groupId = s"graft-shuffle-measure-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            groupId == js.properties.getProperty("spark.jobGroup.id"))
          js.stageIds.foreach(id => stages.add(id))
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && stages.contains(te.stageId))
          written.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    def flush(): Unit =
      try org.apache.spark.graft.ListenerFlush.waitUntilEmpty(sc)
      catch { case _: Throwable => () }
    flush()
    sc.addSparkListener(listener)
    sc.setJobGroup(groupId, "shuffle byte measurement")
    try {
      body
      flush()
      written.sum
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def documentLines = Tables.documents(spark, sf).select("text").rdd.map(_.getString(0))

  /** (run bytes, runCombined bytes) of a word count over `lines`. */
  private def wordcountShuffleBytes(lines: RDD[String]): (Long, Long) = {
    import MapReduceSpec.tokenPairs
    val plain = shuffleBytesWritten {
      MapReduce.run[String, String, Long, (String, Long)](
        lines, tokenPairs, (k, vs) => k -> vs.sum, numParts = 10).count(); ()
    }
    val combined = shuffleBytesWritten {
      MapReduce.runCombined[String, String, Long](
        lines, tokenPairs, _ + _, numParts = 10).count(); ()
    }
    assert(plain > 0 && combined > 0, s"both paths must shuffle: $plain / $combined")
    (plain, combined)
  }

  test("combiner MEASURABLY shrinks the shuffle: runCombined moves fewer bytes than run") {
    // the input already has defaultParallelism splits and sits in the
    // cache, so the map phase is not widened and the window measures the
    // pair shuffle alone
    val lines = documentLines.repartition(spark.sparkContext.defaultParallelism).persist()
    try {
      lines.count()
      val (plain, combined) = wordcountShuffleBytes(lines)
      // corpus >> vocabulary: the combiner must cut shuffle volume hard
      assert(combined * 2 < plain,
        s"combiner should at least halve shuffle bytes: $combined vs $plain")
    } finally lines.unpersist()
  }

  test("combiner shrinks total shuffle bytes on a 1-split input (widening spread included)") {
    // both paths pay the same text spread; the pair shuffle still decides
    val lines = documentLines.coalesce(1)
    assert(lines.getNumPartitions == 1)
    val (plain, combined) = wordcountShuffleBytes(lines)
    assert(combined < plain, s"combiner should shrink total shuffle bytes: $combined vs $plain")
  }

  /** Ids of every shuffle in `rdd`'s lineage. */
  private def shuffleIds(rdd: RDD[_]): Set[Int] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => shuffleIds(s.rdd) + s.shuffleId
      case d => shuffleIds(d.rdd)
    }.toSet

  /** The three facade paths, each reducing to an order-free comparable form
    * (run sums, runCombined merges, runSorted lists values in secondary order). */
  private def facadePaths(input: RDD[Int]): Seq[(String, RDD[(String, String)])] = Seq(
    "run" -> MapReduce.run[Int, String, Long, (String, String)](
      input, i => Iterator.single((s"k${i % 97}", i.toLong)),
      (k, vs) => (k, vs.sum.toString), numParts = 5),
    "runCombined" -> MapReduce.runCombined[Int, String, Long](
      input, i => Iterator.single((s"k${i % 97}", i.toLong)), _ + _, numParts = 5)
      .mapValues(_.toString),
    "runSorted" -> MapReduce.runSorted[Int, String, Int, Int, (String, String)](
      input, i => Iterator.single((s"k${i % 97}", (-i, i))),
      (k, vs) => (k, vs.mkString(",")), numParts = 5))

  test("map phase: inputs below defaultParallelism gain exactly one spread shuffle") {
    val sc = spark.sparkContext
    val width = sc.defaultParallelism
    Seq(1 -> 1, width - 1 -> 1, width -> 0, width + 3 -> 0).foreach { case (splits, extra) =>
      facadePaths(sc.parallelize(1 to 1000, splits)).foreach { case (name, out) =>
        assert(shuffleIds(out).size == 1 + extra, s"$name on $splits splits")
      }
    }
    // the widened map side runs defaultParallelism tasks, and the grouping
    // shuffle is Kryo-encoded
    facadePaths(sc.parallelize(1 to 1000, 1)).foreach { case (name, out) =>
      // every path ends in one narrow step over its grouping shuffle
      val grouping = out.dependencies.head.rdd.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]]
      assert(grouping.rdd.getNumPartitions == width, name)
      assert(grouping.serializer.isInstanceOf[KryoSerializer], name)
    }
  }

  test("run, runCombined and runSorted give identical results on 1 and 16 splits") {
    val sc = spark.sparkContext
    val narrow = facadePaths(sc.parallelize(1 to 20000, 1))
    val wide = facadePaths(sc.parallelize(1 to 20000, 16))
    narrow.zip(wide).foreach { case ((name, a), (_, b)) =>
      val got = a.collect().toMap
      assert(got.size == 97, name)
      assert(got == b.collect().toMap, name)
    }
    // runSorted's values arrive in secondary (-i) order: descending i
    assert(narrow.last._2.collect().toMap.apply("k1").split(',').map(_.toInt).toSeq
      == (1 to 20000).filter(_ % 97 == 1).reverse)
  }

  test("Kryo round-trips case-class, Option, Array and nested-tuple values through run and runSorted") {
    type Value = (MrPayload, Option[String], Array[Int], ((Int, String), Long))
    def value(i: Int): Value =
      (MrPayload(s"p$i", if (i % 3 == 0) None else Some(i.toLong)),
        if (i % 2 == 0) Some(s"o$i") else None, Array(i, -i), ((i, s"t$i"), i * 7L))
    def render(v: Value): String = v match {
      case (p, o, a, ((i, t), l)) => s"$p|$o|${a.mkString(":")}|$i|$t|$l"
    }
    val input = spark.sparkContext.parallelize(1 to 300, 1)
    val expected = (1 to 300).groupBy(i => s"k${i % 7}").map { case (k, is) => k -> is.sorted.map(i => render(value(i))) }
    val viaRun = MapReduce.run[Int, String, Value, (String, Seq[String])](
      input, i => Iterator.single((s"k${i % 7}", value(i))),
      (k, vs) => (k, vs.map(render).toSeq.sorted), numParts = 3).collect().toMap
    assert(viaRun == expected.map { case (k, vs) => k -> vs.sorted })
    val viaSorted = MapReduce.runSorted[Int, String, (Int, String), Value, (String, Seq[String])](
      input, i => Iterator.single((s"k${i % 7}", ((i, s"s$i"), value(i)))),
      (k, vs) => (k, vs.map(render).toSeq), numParts = 3).collect().toMap
    assert(viaSorted == expected)
  }

  test("runCombined output is laid out by an equal Djb2Partitioner: no re-shuffle") {
    val input = spark.sparkContext.parallelize(1 to 1000, 4)
    val counts = MapReduce.runCombined[Int, String, Long](
      input, i => Iterator.single((s"k${i % 13}", 1L)), _ + _, numParts = 6)
    val again = counts.reduceByKey(new MapReduce.Djb2Partitioner(6), _ + _)
    assert(shuffleIds(again) == shuffleIds(counts))
    assert(again.collect().toMap == counts.collect().toMap)
    assert(MapReduce.Djb2PrimaryKeyPartitioner(6) == MapReduce.Djb2PrimaryKeyPartitioner(6))
    assert(MapReduce.Djb2PrimaryKeyPartitioner(6) != MapReduce.Djb2Partitioner(6))
    assert(MapReduce.Djb2Partitioner(6) != MapReduce.Djb2Partitioner(7))
  }
}

object MapReduceSpec {
  /** distwc word-count mapper; outside the suite so closures never capture it. */
  def tokenPairs(l: String): Iterator[(String, Long)] =
    l.split("[ \t\n\r]+").iterator.filter(_.nonEmpty).map(_ -> 1L)
}

/** A case-class facade value; top level, so Kryo sees no outer instance. */
final case class MrPayload(name: String, tag: Option[Long])
