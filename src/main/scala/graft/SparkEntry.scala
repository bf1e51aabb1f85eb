package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `entries` is every declared [[graft.queries.Entry]]: the operators from
  * SURVEY.md §2, the LLM-pipeline extension operators (graft.llm) and the
  * source/sink/session surface (Io). `queries` maps each name to its
  * (spark, sfDir) => DataFrame; `oracleSql` maps it to the DuckDB SQL of the
  * driver's differential check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("tpch_q1")(spark, "/root/testdata/sf0.001")

  /** `entries`, after checking that no name is declared twice. */
  def registry(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"entry names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  val entries: Seq[Entry] = registry(
    Tpch.entries ++ Windows.entries ++ Relational.entries ++
      Llm.entries ++ Io.entries ++ Ops.entries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracle).toMap
}
