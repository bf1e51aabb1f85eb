package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** One declared query: how Spark runs it over a fixture dir, and the DuckDB
  * SQL that checks its rows (the role the reference's `LocalValidator`
  * plays, reference `src/util.rs:413-484`). Alias output columns
  * identically on both sides and end both with a total ORDER BY.
  *
  * The body reads fixture tables by name only (`spark.table` or SQL):
  * [[run]] registers the dir first, as the reference registers each table
  * once on its `SessionContext` (reference `src/context.rs:57-67`). It
  * uses the dir itself only for what it does not read as a table, such as
  * [[graft.Tables.stream]].
  *
  * @param mutatesSession set when the body reaches state shared by every
  *   query of the session or its context, directly or through a helper: a
  *   SQL conf set for a scope by `graft.Session.withConf` (the
  *   `Streams.run*` and `Streams.replay` helpers set
  *   `spark.sql.shuffle.partitions`, an entry's `Streams.rocksDb` the state
  *   store, `Compact` the scan-split confs), or a catalog table or function. `graft.Verify` runs such
  *   entries one at a time after the concurrent pool. Temp views with
  *   entry-unique names and files under the entry's own directory do not
  *   count.
  */
final case class Entry(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: String,
    mutatesSession: Boolean = false) {

  /** The body over `dir`'s fixture tables: registers them first, a no-op
    * when the session's views already point at `dir`.
    */
  def run(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir); body(spark, dir)
  }
}

object Entry {

  /** An entry that runs `text` in Spark and the same text in DuckDB. */
  def sql(name: String, text: String): Entry = sql(name, text, text)

  /** An entry whose Spark and DuckDB spellings differ. `text` is built
    * when the declaring object initializes, so every `val` it interpolates
    * must be declared above that object's `entries`.
    */
  def sql(name: String, text: String, oracle: String): Entry =
    Entry(name, (spark, _) => spark.sql(text), oracle)
}
