package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.mapreduce.MapReduce

/** Direct calls of the reference-compatible MapReduce facade over the
  * corpus: distwc's word count through `run` (every emitted pair is
  * shuffled) and `runCombined` (map-side combine), and the inverted index
  * through `runSorted` (doc ids arrive in order, no per-key sort). Each
  * returns the schema of its declarative twin, so its result is checked
  * against that twin's oracle and digest; neither check depends on row
  * order, so no final sort adds a shuffle to the facade's own. */
object Facade {
  /** distwc.c tokenization: strtok on " \t\n\r", empty tokens dropped. */
  def tokens(line: String): Iterator[String] =
    line.split("[ \t\n\r]+").iterator.filter(_.nonEmpty)

  private def numParts(s: SparkSession): Int = s.sparkContext.defaultParallelism

  def runWordcount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val text = graft.Tables.documents(s, d).select(col("text")).as[String].rdd
    MapReduce.run[String, String, Long, (String, Long)](
      text, line => tokens(line).map(_ -> 1L), (k, vs) => (k, vs.sum), numParts(s))
      .toDF("token", "cnt")
  }

  def runCombinedWordcount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val text = graft.Tables.documents(s, d).select(col("text")).as[String].rdd
    MapReduce.runCombined[String, String, Long](
      text, line => tokens(line).map(_ -> 1L), _ + _, numParts(s))
      .toDF("token", "cnt")
  }

  def runSortedPostings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)].rdd
    MapReduce.runSorted[(Long, String), String, Long, Long, (String, String)](
      docs,
      { case (id, text) => tokens(text).map(t => (t, (id, id))) },
      { (k, ids) =>
        val sb = new StringBuilder
        var last = -1L
        ids.foreach { id =>
          if (id != last) { if (sb.nonEmpty) sb.append(','); sb.append(id); last = id }
        }
        (k, sb.toString)
      },
      numParts(s))
      .toDF("token", "docs")
  }

  val ops: Seq[Op] = Seq(
    Op("facade_run_wordcount", "mr", runWordcount),
    Op("facade_run_combined_wordcount", "mr", runCombinedWordcount),
    Op("facade_run_sorted_postings", "mr", runSortedPostings))

  /** Declarative twin whose oracle and digest each facade call must equal. */
  val twin: Map[String, String] = Map(
    "facade_run_wordcount" -> "mr_wordcount",
    "facade_run_combined_wordcount" -> "mr_wordcount",
    "facade_run_sorted_postings" -> "mr_inverted_index")
}
