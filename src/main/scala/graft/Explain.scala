package graft

/** Plan-inspection harness: `runMain graft.Explain <sfDir> <query...>`
  * prints each declared query's final ADAPTIVE executed plan (after a
  * real run, so AQE re-plans and exchange reuse are visible), every
  * entry's when no query is named — the local
  * counterpart of the reference's `stages()`/`display_execution_plan`
  * introspection (reference `src/dataframe.rs:224-238`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.drop(1).toSeq)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local("graft-explain")
    try selected.foreach(e => Shared.scope(spark) {
      val df = e.run(spark, dir)
      // drive THIS QueryExecution without materializing rows on the driver
      // (collect() would pull a multi-million-row candidate set into the
      // tool; a noop write would execute a different QueryExecution whose
      // final plan we couldn't render)
      df.queryExecution.toRdd.count()
      println(s"==== ${e.name} ====")
      println(df.queryExecution.executedPlan.toString)
    }) finally spark.stop()
  }
}
