package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `entries` is every declared [[graft.queries.Entry]]: the operators from
  * SURVEY.md §2, the LLM-pipeline extension operators (graft.llm) and the
  * source/sink/session surface (Io). `queries` maps each name to its
  * [[graft.queries.Entry.run]]; `oracleSql` maps it to the DuckDB SQL of the
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

  private val byName: Map[String, Entry] = entries.map(e => e.name -> e).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, e) => n -> (e.run _) }

  /** The entries a main runs: the named ones in the order given, or every
    * entry when `names` is empty. Fails, naming each unknown name, before
    * the main starts a session or stages a fixture.
    */
  def select(names: Seq[String]): Seq[Entry] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    if (names.isEmpty) entries else names.distinct.map(byName)
  }

  val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracle).toMap
}
