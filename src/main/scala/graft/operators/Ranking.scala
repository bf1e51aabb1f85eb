package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Shared

/** Pairwise-preference ranking — the Bradley–Terry model that reward
  * modeling / RLHF preference pipelines and match-making systems fit
  * over "A beat B" counts. Strength estimates come from the classic MM
  * (minorization–maximization) update run for a FIXED number of rounds
  * (the kCore / lloydLoop / rake replay discipline: the differential
  * oracle chains the identical rounds as CTEs):
  *
  *   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)
  *
  * with W_i = total wins of i and n_ij = comparisons between i and j.
  *
  * Scale shape: the corpus-scale work is whatever builds the pairwise
  * count matrix (the caller's one aggregate); the MM iterations run on
  * the |players|² count table — metadata scale — with per-player
  * denominators folding over opponents in player order (never a bare
  * double SUM), each round localCheckpointed so the plan stays linear
  * (the rake lesson: naive chaining doubles the upstream plan per
  * round).
  */
object Ranking {

  /** `matches`: (winner, loser, n BIGINT) aggregated comparison counts
    * (one row per ordered pair that occurred). Returns one row per
    * player: (player, wins, n_matches, rating) after `iters` MM rounds
    * from a flat start, ratings ROUND-6 at the edge only.
    */
  def bradleyTerry(matches: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one MM round")
    // n>0 up front (r15 ADVICE): with zero-count rows dropped, every edge
    // (i,j) in `sym` comes from a match one of them WON, so after round 1
    // max(p_i, p_j) > 0 on every edge and the denominator p_i + p_j can
    // never reach 0 — the update never divides by zero and nothing relies
    // on IEEE Inf propagation matching between Spark and DuckDB (DuckDB
    // only Inf-propagates while ieee_floating_point_ops stays on).
    val nonEmpty = matches.filter(col("n") > 0)
    // symmetrized opponent table n_ij and per-player win totals
    val sym = Shared.cut(nonEmpty.selectExpr("winner AS i", "loser AS j", "n")
      .unionByName(nonEmpty.selectExpr("loser AS i", "winner AS j", "n"))
      .groupBy("i", "j").agg(sum("n").as("nij")))
    val wins = nonEmpty.groupBy(col("winner").as("i"))
      .agg(sum("n").as("w"))
    val players = sym.select(col("i")).distinct()
    var p = Shared.cut(players
      .join(wins, Seq("i"), "left")
      .select(col("i"), coalesce(col("w"), lit(0L)).as("w"),
        lit(1.0d).as("p")))
    for (_ <- 1 to iters) {
      val den = sym
        .join(p.select(col("i"), col("p").as("pi")), Seq("i"))
        .join(p.select(col("i").as("j"), col("p").as("pj")), Seq("j"))
        .groupBy("i")
        .agg(expr(
          """aggregate(transform(array_sort(collect_list(
            |  struct(j, CAST(nij AS DOUBLE) / (pi + pj) AS t))), x -> x.t),
            |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin).as("den"))
      p = Shared.cut(p.join(den, Seq("i"))
        .select(col("i"), col("w"),
          expr("CAST(w AS DOUBLE) / den").as("p")))
    }
    val totals = sym.groupBy("i").agg(sum("nij").as("n_matches"))
    p.join(totals, Seq("i"))
      .select(col("i").as("player"), col("w").as("wins"),
        col("n_matches"),
        expr("CAST(ROUND(p, 6) AS DOUBLE)").as("rating"))
  }
}
