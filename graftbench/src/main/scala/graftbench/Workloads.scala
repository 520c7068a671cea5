package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` is everything the caller does before the
  * timed action (query functions may run eager actions and streams here);
  * the action is always [[Digest.of]] on the frame it returns. */
final case class Op(name: String, family: String, build: (SparkSession, String) => DataFrame)

/** The benchmark's workloads. Query keys are resolved against
  * `SparkEntry.queries` eagerly, so a renamed key fails the run (and
  * BenchSpec) instead of silently shrinking a workload. */
object Workloads {
  /** Family of a query key: its prefix before the first `_`, with the
    * numbered relational queries folded into `q`. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q[0-9]+")) "q" else p
  }

  /** Operations per workload. Each set is sized so that a run (three
    * set-ups, 28 s of cold and warm passes, and the check pass) takes
    * about 50 s on a 4-core host. */
  def queryNames(workload: String): Seq[String] = workload match {
    // the facade calls do the corpus work; mr_wordcount is their declarative twin
    case "mr_corpus" => Seq("mr_wordcount")
    // a micro-batch stream with per-user state (state store, WAL, commit
    // log) and the AllPairs set-similarity join on graft.functions
    case "engine_sf001" => Seq("st_sessionize_stream", "d_setsim_join")
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("mr_corpus", "engine_sf001")

  /** The workload's operations in listed order. The cold pass runs them
    * so, because with few operations the order decides which one pays for
    * shared JIT warm-up; warm passes run a seeded permutation of them. */
  def ops(workload: String): Seq[Op] = {
    val all = graft.SparkEntry.queries
    val missing = queryNames(workload).filterNot(all.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"workload $workload names unknown queries: ${missing.mkString(", ")}")
    val queries = queryNames(workload).map(n => Op(n, family(n), all(n)))
    val facade = if (workload == "mr_corpus") Facade.ops else Nil
    queries ++ facade
  }

  /** Oracle SQL for an operation: the query's own, or for a facade
    * operation the declarative twin it must equal. */
  def oracleSql(op: String): Option[String] =
    graft.SparkEntry.oracleSql.get(Facade.twin.getOrElse(op, op))
}
