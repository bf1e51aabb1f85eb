package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Exact global order statistics WITHOUT a global sort — the 100 TB way
  * to answer "what is the exact p99 of this column". A naive
  * `ORDER BY v` materializes and range-shuffles the whole corpus to rank
  * one row; `percentile()` buffers every value in one aggregation state.
  * Histogram narrowing does neither: one pass for (min, max, count), one
  * pass for a fixed-width `bins`-bucket histogram (shuffles `bins` rows,
  * not corpus rows), then only the single bucket that contains the target
  * rank is re-scanned and locally ranked — expected `n / bins` rows per
  * requested quantile. All three passes are plain scans + hash
  * aggregations; the only sort touches the target buckets.
  *
  * Definition pinned cross-engine: the value whose zero-based global rank
  * (ascending, nulls excluded) equals floor(p * (n - 1)) — the discrete
  * lower quantile, recomputed independently by the DuckDB oracle as a
  * flat row_number over the sorted column.
  */
object OrderStats {

  /** (p, value) for each requested quantile of `valueCol` (cast to
    * double). `bins` trades pass-2 shuffle width against pass-3 scan
    * selectivity: at 100 TB raise it so n/bins fits one task comfortably.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                     bins: Int = 4096): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be in [0, 1]")
    require(bins > 0, "bins must be positive")
    val data = df.select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    // localCheckpoint the 1-row stats (r16 opt): every lazy consumer of
    // `binned` re-derived this aggregate — a full input scan each — so
    // the documented 3-pass shape actually ran 5+ passes (agg_winsorize
    // plan: extra lineitem scans under each crossJoin). Materializing
    // one row costs nothing and pins pass-1 to exactly one scan.
    val stats = Shared.cut(data.agg(min("__v").as("__min"), max("__v").as("__max"),
      count(lit(1)).as("__n")))

    // pass 2: fixed-width histogram; zero-width (constant column) folds
    // every row into bin 0. Equal values share a bin by construction, so
    // a rank inside a bin is well-defined under ties.
    val width = (col("__max") - col("__min")) / lit(bins.toDouble)
    val binOf = when(col("__max") === col("__min"), lit(0L))
      .otherwise(least(floor((col("__v") - col("__min")) / width),
        lit(bins.toLong - 1L)).cast("long"))
    val binned = data.crossJoin(broadcast(stats))
      .withColumn("__bin", binOf)
    val hist = binned.groupBy("__bin").agg(count(lit(1)).as("__cnt"))
    // cumulating the histogram is a window over at most `bins` rows —
    // metadata-scale, like TrainOrder's per-bucket offset window
    val cum = hist.withColumn("__cum",
      sum("__cnt").over(Window.orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", col("__cum") - col("__cnt"))

    // target rank per requested p, from the same stats row
    val ranks = stats.select(explode(array(ps.map(p =>
      struct(lit(p).as("p"),
        floor(lit(p) * (col("__n") - 1).cast("double")).cast("long")
          .as("__r"))): _*)).as("pr"))
      .select(col("pr.p").as("p"), col("pr.__r").as("__r"))
    // localCheckpoint (r16 opt): `targets` is ≤|ps| rows but its lineage
    // carries the histogram pass — without the cut, pass 3's broadcast
    // build re-ran pass 2 (and pass 1 again under it)
    val targets = Shared.cut(ranks.join(cum,
      col("__r") >= col("__prev") && col("__r") < col("__cum"))
      .select(col("p"), col("__r"), col("__bin"), col("__prev")))

    // pass 3: rescan only the target bins; rank locally within each
    binned.join(broadcast(targets), Seq("__bin"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("p").orderBy("__v")).cast("long") - 1L)
      .where(col("__rn") === col("__r") - col("__prev"))
      .select(col("p"), col("__v").as("value"))
  }

  /** Per-GROUP exact quantiles by the same histogram narrowing — the
    * scale path for grouped percentiles: Spark's `percentile()` buffers
    * every value of a group inside one aggregation state, so a
    * mega-group OOMs an executor at 100 TB. Here every pass is a hash
    * aggregation keyed by (group[, bin]) — per-group state is `bins`
    * counters regardless of group size — and the only sort ranks the
    * target bins' rows (expected n_g/bins per group per quantile). The
    * cumulative-histogram window runs over at most `bins` rows per
    * group; the final rank window over target-bin populations, never a
    * whole group. Groups with no non-null values emit no rows.
    * Output: (group, p, value); same pinned floor(p*(n-1)) definition.
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
                            valueCol: String, ps: Seq[Double],
                            bins: Int = 4096): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be in [0, 1]")
    require(bins > 0, "bins must be positive")
    val data = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    // localCheckpoint: group-count rows; same 3-pass pinning as the
    // global form above
    val stats = Shared.cut(data.groupBy("__g").agg(min("__v").as("__min"),
      max("__v").as("__max"), count(lit(1)).as("__n")))

    val width = (col("__max") - col("__min")) / lit(bins.toDouble)
    val binOf = when(col("__max") === col("__min"), lit(0L))
      .otherwise(least(floor((col("__v") - col("__min")) / width),
        lit(bins.toLong - 1L)).cast("long"))
    val binned = data.join(stats, "__g").withColumn("__bin", binOf)
    val hist = binned.groupBy("__g", "__bin").agg(count(lit(1)).as("__cnt"))
    val cum = hist.withColumn("__cum",
      sum("__cnt").over(Window.partitionBy("__g").orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", col("__cum") - col("__cnt"))

    val ranks = stats.select(col("__g"), explode(array(ps.map(p =>
      struct(lit(p).as("p"),
        floor(lit(p) * (col("__n") - 1).cast("double")).cast("long")
          .as("__r"))): _*)).as("pr"))
      .select(col("__g"), col("pr.p").as("p"), col("pr.__r").as("__r"))
    val targets = Shared.cut(ranks.join(cum, Seq("__g"))
      .where(col("__r") >= col("__prev") && col("__r") < col("__cum"))
      .select(col("__g"), col("p"), col("__r"), col("__bin"), col("__prev")))

    binned.join(broadcast(targets), Seq("__g", "__bin"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__g", "p").orderBy("__v")).cast("long") - 1L)
      .where(col("__rn") === col("__r") - col("__prev"))
      .select(col("__g").as(groupCol), col("p"), col("__v").as("value"))
  }
}
