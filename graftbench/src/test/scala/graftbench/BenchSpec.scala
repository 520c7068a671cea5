package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rows = Seq((1L, "a", 1.5), (2L, "b", -0.0), (3L, null, 2.25), (3L, null, 2.25))

  test("digest ignores row order and partitioning") {
    import spark.implicits._
    val df = rows.toDF("k", "s", "v")
    val d = Digest.of(df)
    assert(d.rows == 4)
    assert(Digest.of(df.orderBy($"k".desc)) == d)
    assert(Digest.of(df.repartition(3)) == d)
    assert(Digest.of(rows.reverse.toDF("k", "s", "v").coalesce(1)) == d)
  }

  test("digest changes with any changed cell, dropped row or duplicate") {
    import spark.implicits._
    val d = Digest.of(rows.toDF("k", "s", "v"))
    val variants = Seq(
      rows.updated(0, (1L, "a", 1.5000001)),
      rows.updated(1, (2L, "c", -0.0)),
      rows.updated(2, (3L, "", 2.25)),
      rows.updated(3, (4L, null, 2.25)),
      rows.init,
      rows :+ rows.head)
    variants.foreach(v => assert(Digest.of(v.toDF("k", "s", "v")) != d, v.toString))
  }

  test("every workload's query list resolves against SparkEntry.queries") {
    Workloads.names.foreach { w =>
      val names = Workloads.queryNames(w)
      assert(names.nonEmpty, w)
      assert(names.forall(graft.SparkEntry.queries.contains), w)
      assert(Workloads.ops(w).map(_.name).toSet.size == Workloads.ops(w).size)
    }
    assert(intercept[IllegalArgumentException](Workloads.queryNames("nope")).getMessage
      .contains("nope"))
  }

  test("facade operations are checked against their declarative twins' oracles") {
    Facade.ops.foreach(op => assert(Workloads.oracleSql(op.name).isDefined, op.name))
  }
}
