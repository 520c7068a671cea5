package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._

/** [[Tables.readParquet]] takes its schema from one footer read on the
  * driver instead of Spark's one-task inference job. The contract pinned
  * here: the schema always equals `spark.read.parquet(path).schema`, the
  * open starts no Spark job, and every case the helper declines (missing
  * path, schema merging) behaves exactly as Spark's own read. */
class FooterSchemaSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft_footer_").toString

  private def sameSchema(path: String): Unit = {
    val ours = Tables.readParquet(spark, path).schema
    val sparks = spark.read.parquet(path).schema
    assert(ours == sparks, s"$path:\n  footer $ours\n  spark  $sparks")
  }

  test("every testdata table: the footer schema equals Spark's inferred schema") {
    Tables.all.foreach(t =>
      assert(Tables.load(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t))
  }

  test("Spark-written directory with _SUCCESS and several part files: same schema, same rows") {
    val dir = tmpDir()
    try {
      spark.range(0, 200, 1, 4)
        .selectExpr("id", "cast(id % 7 as int) AS k", "concat('v', id) AS s",
          "array(id, id + 1) AS a", "named_struct('x', id * 0.5d) AS st")
        .write.mode("overwrite").parquet(dir)
      val names = new java.io.File(dir).list()
      assert(names.contains("_SUCCESS"))
      assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) > 1, names.mkString(","))
      sameSchema(dir)
      val rows = (p: org.apache.spark.sql.DataFrame) => p.orderBy("id").collect().toSeq
      assert(rows(Tables.readParquet(spark, dir)) == rows(spark.read.parquet(dir)))
    } finally Scratch.rmTree(dir)
  }

  test("summary files win in Spark's order: _common_metadata, then _metadata, then the first part file") {
    val dir = tmpDir()
    val aux = tmpDir()
    try {
      spark.range(0, 10, 1, 2).toDF("id").write.mode("overwrite").parquet(dir)
      def single(df: org.apache.spark.sql.DataFrame, name: String, as: String): Unit = {
        val out = s"$aux/$name"
        df.coalesce(1).write.mode("overwrite").parquet(out)
        val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, Paths.get(dir, as), StandardCopyOption.REPLACE_EXISTING)
      }
      single(spark.range(1).selectExpr("id", "'m' AS from_metadata"), "m", "_metadata")
      single(spark.range(1).selectExpr("id", "'c' AS from_common"), "c", "_common_metadata")
      sameSchema(dir)
      assert(Tables.readParquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "from_common"))
      Files.delete(Paths.get(dir, "_common_metadata"))
      sameSchema(dir)
      assert(Tables.readParquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "from_metadata"))
      Files.delete(Paths.get(dir, "_metadata"))
      sameSchema(dir)
      assert(Tables.readParquet(spark, dir).schema.fieldNames.toSeq == Seq("id"))
    } finally { Scratch.rmTree(dir); Scratch.rmTree(aux) }
  }

  test("TIMESTAMP(NANOS) footer: long under nanosAsLong, Spark's own error without it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val file = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L)
      .append("ts", 1_755_000_123_456_789_000L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      sameSchema(file)
      assert(Tables.readParquet(spark, file).schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      // the footer helper declines and Spark's inference job fails as before
      val theirs = intercept[Exception](spark.read.parquet(file).schema)
      val ours = intercept[Exception](Tables.readParquet(spark, file).schema)
      assert(ours.getClass == theirs.getClass, s"$ours vs $theirs")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
      Scratch.rmTree(dir)
    }
  }

  test("opening the ten testdata tables starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def jobsDuring(body: => Unit): Int = {
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      jobs.set(0)
      body
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(jobsDuring(Tables.all.foreach(t => Tables.load(spark, sf, t).schema)) == 0)
      // the listener sees the inference job Spark's own open runs
      assert(jobsDuring(spark.read.parquet(s"$sf/region.parquet").schema) >= 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a missing path raises the same exception as spark.read.parquet") {
    val dir = tmpDir()
    val path = s"$dir/absent.parquet"
    try {
      val theirs = intercept[Exception](spark.read.parquet(path))
      val ours = intercept[Exception](Tables.readParquet(spark, path))
      assert(ours.getClass == theirs.getClass && ours.getMessage == theirs.getMessage)
    } finally Scratch.rmTree(dir)
  }

  test("mergeSchema=true still merges; without it both reads take the first part file's schema") {
    val dir = tmpDir()
    try {
      spark.range(3).selectExpr("id", "id AS a").write.mode("append").parquet(dir)
      spark.range(3).selectExpr("id", "id AS b").write.mode("append").parquet(dir)
      sameSchema(dir)
      assert(Tables.readParquet(spark, dir).schema.fieldNames.length == 2)
      val key = "spark.sql.parquet.mergeSchema"
      spark.conf.set(key, "true")
      try {
        sameSchema(dir)
        assert(Tables.readParquet(spark, dir).schema.fieldNames.toSet == Set("id", "a", "b"))
      } finally spark.conf.unset(key)
    } finally Scratch.rmTree(dir)
  }
}
