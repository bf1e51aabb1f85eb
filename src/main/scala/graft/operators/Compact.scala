package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — rewrite a directory of many small parquet
  * files into few files of ~`targetBytes` each, WITHOUT a shuffle.
  * (Extension family: the reference's shuffle writer emits one file per
  * partition, `src/shuffle.rs` — a long-lived pipeline accumulates
  * exactly the small-file debris this operator cleans up.)
  *
  * Mechanism: Spark's own scan-side file packing IS a distributed
  * bin-packer — `FilePartition.getFilePartitions` sorts files by size
  * and greedily packs them into splits of at most
  * `spark.sql.files.maxPartitionBytes`. Setting that to `targetBytes`
  * (and `openCostInBytes` to 0 so tiny files aren't padded to 4 MB
  * phantoms) makes each scan partition hold ~targetBytes of input, and a
  * straight write emits one output file per partition. No repartition,
  * no exchange, no driver-side listing loop — the packing happens in the
  * scan planner and scales to millions of files because it never reads
  * data to decide placement.
  */
object Compact {

  /** Compact `inDir` (parquet) into `outDir` targeting `targetBytes` per
    * output file. Returns the number of parquet files written.
    */
  def parquetDir(spark: SparkSession, inDir: String, outDir: String,
                 targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    graft.Session.withConf(spark, Map(
        "spark.sql.files.maxPartitionBytes" -> targetBytes.toString,
        "spark.sql.files.openCostInBytes" -> "0",
        // without this, bytes/defaultParallelism caps the split size and
        // the packer re-fragments to one split per core — the opposite of
        // compaction
        "spark.sql.files.minPartitionNum" -> "1")) {
      // scan partitions == the bin-packed file groups; plain write keeps
      // the mapping one task → one output file, so no shuffle anywhere
      spark.read.parquet(inDir).write.mode("overwrite").parquet(outDir)
    }
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(out)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }
}
