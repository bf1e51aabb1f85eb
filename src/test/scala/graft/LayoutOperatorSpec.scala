package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compact, Hilbert, ZOrder}

/** Compact (small-file rewrite) + ZOrder (Morton layout) mechanics.
  * The `sink_compact_small_files` / `layout_zorder` differential entries
  * prove losslessness / cross-engine bit-identity; these tests pin the
  * parts an oracle cannot see — file counts, plan shape (no exchange),
  * and the spatial locality the layout exists to buy.
  */
class LayoutOperatorSpec extends SparkSpec {
  import spark.implicits._

  test("zvalue matches the plain-Scala bit interleave") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(512) { _ =>
      (rnd.nextLong().abs % (1L << ZOrder.Bits),
        rnd.nextLong().abs % (1L << ZOrder.Bits))
    } ++ Seq((0L, 0L), (1L, 0L), (0L, 1L),
      ((1L << ZOrder.Bits) - 1, (1L << ZOrder.Bits) - 1))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zvalue(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == ZOrder.zvalueRef(a, b), s"interleave($a,$b)")
    }
  }

  test("geohash: canonical vector and SQL-vs-reference agreement") {
    // the textbook example: geohash(57.64911, 10.40744) = u4pruy
    assert(ZOrder.geohashRef(57.64911, 10.40744) == "u4pruy")
    assert(ZOrder.geohashRef(0.0, 0.0).startsWith("s00"))
    // the SQL expression (centi-degree integer path) matches the
    // reference loop on centi-degree-exact coordinates
    // 9000/18000 are the exact +90°/+180° boundary: quantization hits
    // 32768 unclamped (bit 15, aliases the opposite extreme) — pins the
    // LEAST(..., 32767) clamp matching geohashRef's min
    val pts = Seq((5764L, 1040L), (0L, 0L), (-9000L, -18000L),
      (8999L, 17999L), (4075L, -7400L), (9000L, 18000L), (9000L, -18000L))
    val got = pts.toDF("lat_c", "lon_c")
      .selectExpr(s"${ZOrder.geohashSql("lat_c", "lon_c")} AS gh")
      .collect().map(_.getString(0))
    val want = pts.map { case (la, lo) =>
      ZOrder.geohashRef(la / 100.0, lo / 100.0)
    }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
  }

  test("hilbertIndex: bijective on the grid, matches the reference loop") {
    val bits = 4
    val n = 1 << bits
    val grid = for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong)
    val got = Hilbert.hilbertIndex(grid.toDF("x", "y"), "x", "y", bits)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (x, y) =>
      assert(got((x, y)) == Hilbert.hilbertRef(bits, x, y),
        s"unrolled vs reference at ($x,$y)")
    }
    // bijective: all n^2 indexes distinct and exactly 0..n^2-1
    assert(got.values.toSet == (0L until n.toLong * n).toSet,
      "Hilbert index must be a bijection on the grid")
  }

  test("hilbert locality: consecutive indexes are always grid neighbors (z-order is not)") {
    val bits = 5
    val n = 1 << bits
    val byD = (for (x <- 0L until n; y <- 0L until n)
      yield Hilbert.hilbertRef(bits, x, y) -> ((x, y))).sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between d-neighbors ($x1,$y1)->($x2,$y2)")
    }
    // the property Morton lacks: its quadrant seams jump
    val zJumps = (for (x <- 0L until n; y <- 0L until n)
      yield ZOrder.zvalueRef(x, y) -> ((x, y))).sortBy(_._1).map(_._2)
      .sliding(2).count { case Seq((x1, y1), (x2, y2)) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) > 1
      }
    assert(zJumps > 0, "sanity: Morton should have seam jumps")
  }

  test("zvalue is monotone on each dimension within the other fixed") {
    // z-order's pruning power rests on: fixing one key, z grows with the
    // other — so a file's [min_z, max_z] bounds both dimensions
    val zs = Seq.tabulate(100)(i => ZOrder.zvalueRef(i.toLong, 42L))
    assert(zs == zs.sorted)
    val zsB = Seq.tabulate(100)(i => ZOrder.zvalueRef(42L, i.toLong))
    assert(zsB == zsB.sorted)
  }

  test("z-sorted chunks are square-ish; row-major chunks are stripes") {
    // 64x64 grid, 64 chunks of 64 points: z-order yields exact 8x8 dyadic
    // blocks (max extent 8 per side); key-major sorting yields 64x1
    // stripes. This IS the locality the layout buys — a predicate on
    // EITHER key prunes z-chunks, only one key prunes stripes.
    val pts = for (a <- 0 until 64; b <- 0 until 64) yield (a, b)
    def maxExtent(sorted: Seq[(Int, Int)]): Int =
      sorted.grouped(64).map { chunk =>
        val as = chunk.map(_._1); val bs = chunk.map(_._2)
        math.max(as.max - as.min, bs.max - bs.min)
      }.max
    val zSorted = pts.sortBy { case (a, b) => ZOrder.zvalueRef(a, b) }
    assert(maxExtent(zSorted) == 7, "z chunks are 8x8 blocks")
    val rowMajor = pts.sortBy(identity)
    assert(maxExtent(rowMajor) == 63, "key-major chunks are full stripes")
  }

  test("writeClustered bounds both keys per file; random layout bounds neither") {
    val dir = Session.scratch(spark, "zwrite")
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    ZOrder.writeClustered(grid, "a", "b", s"$dir/z", numFiles = 16)
    // a deliberately scattered layout: round-robin by id
    grid.repartition(16).write.mode("overwrite").parquet(s"$dir/rand")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def filesTouching(sub: String, lo: Long, hi: Long): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .count { f =>
          val r = spark.read.parquet(f.getPath.toString)
            .agg(min("a"), max("a")).collect()(0)
          r.getLong(1) >= lo && r.getLong(0) <= hi
        }
    // file-footer min/max is what a scan prunes on: a predicate over
    // ONE eighth of `a`'s range must skip most z-clustered files but
    // can skip nothing in the scattered layout
    assert(filesTouching("z", 0, 7) <= 6,
      "z files do not bound the a dimension")
    assert(filesTouching("rand", 0, 7) == 16,
      "baseline unexpectedly clustered — test fixture broken")
  }

  test("compact bin-packs small files to the byte target without a shuffle") {
    val dir = Session.scratch(spark, "compact")
    val df = spark.range(0, 20000).select(
      col("id"), md5(col("id").cast("string")).as("payload"))
    df.repartition(32).write.mode("overwrite").parquet(s"$dir/in")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def files(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(files(s"$dir/in").length == 32)
    val totalIn = files(s"$dir/in").map(_.getLen).sum

    // generous target -> everything fits one file
    val nOne = Compact.parquetDir(spark, s"$dir/in", s"$dir/one",
      targetBytes = 256L * 1024 * 1024)
    assert(nOne == 1 && files(s"$dir/one").length == 1)

    // target ~ quarter of the corpus -> a handful of files, each below
    // target + one input file of slack (greedy packing closes a bin
    // only after it overflows)
    val target = totalIn / 4
    val nFew = Compact.parquetDir(spark, s"$dir/in", s"$dir/few", target)
    assert(nFew == files(s"$dir/few").length)
    assert(nFew > 1 && nFew < 32, s"packed 32 -> $nFew")
    val maxIn = files(s"$dir/in").map(_.getLen).max
    files(s"$dir/few").foreach(f =>
      assert(f.getLen <= target + maxIn + (totalIn / 10),
        s"${f.getPath.getName} overshoots the byte target"))

    // lossless: same rows back, and conf restored after the rewrite
    assert(spark.read.parquet(s"$dir/few").except(df).isEmpty &&
      df.except(spark.read.parquet(s"$dir/few")).isEmpty)
    assert(spark.conf.get("spark.sql.files.openCostInBytes") != "0")

    // no exchange anywhere in the rewrite's read side
    val plan = staticPlan(spark.read.parquet(s"$dir/few"))
    assert(!plan.contains("Exchange"))
  }

  test("hilbert clustered write: footer min/max stats prune files a box predicate never reads") {
    // the round-12 verdict #9 gate: layout_hilbert proves seam-freedom,
    // this proves the PAYOFF — after Hilbert.writeClustered, the per-file
    // (x, y) min/max boxes are tight enough that a corner box predicate
    // intersects only a few files, while the same data written round-
    // robin leaves every file's box spanning the whole grid (zero
    // skipping). The intersect count computed here from the real parquet
    // footers is exactly what any min/max pruner (Spark's row-group
    // filter, a lakehouse file index) consumes.
    import scala.jdk.CollectionConverters._
    val dir = Session.scratch(spark, "hilbert_skip")
    val nFiles = 16
    val df = spark.range(0, 65536).select(
      (col("id") % 256).as("x"),
      (expr("(id * 2654435761) % 256")).as("y"),
      col("id").as("payload"))
    Hilbert.writeClustered(df, "x", "y", bits = 8, s"$dir/clustered", nFiles)
    df.repartition(nFiles)
      .write.mode("overwrite").parquet(s"$dir/roundrobin")
    // per-file [min, max] of both keys straight from the footers
    def boxes(p: String): Seq[((Long, Long), (Long, Long))] =
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toString),
              spark.sparkContext.hadoopConfiguration))
          try {
            def mm(name: String): (Long, Long) = {
              val stats = reader.getFooter.getBlocks.asScala.map(
                _.getColumns.asScala.find(_.getPath.toDotString == name)
                  .get.getStatistics)
              (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
                stats.map(_.genericGetMax.asInstanceOf[Long]).max)
            }
            (mm("x"), mm("y"))
          } finally reader.close()
        }
    // corner box x<=31 AND y<=31: 1/64 of the grid area
    def intersecting(p: String): Int = boxes(p).count {
      case ((xmin, _), (ymin, _)) => xmin <= 31 && ymin <= 31
    }
    val clustered = intersecting(s"$dir/clustered")
    val rr = intersecting(s"$dir/roundrobin")
    assert(boxes(s"$dir/clustered").size == nFiles)
    assert(rr == nFiles,
      s"round-robin control should have zero skipping, got $rr/$nFiles")
    // the corner box is a contiguous stretch of the curve: at most a
    // couple of the 16 h-range files may touch it
    assert(clustered <= 3,
      s"clustered layout prunes too little: $clustered/$nFiles files intersect")
    // lossless: the clustered copy holds the same rows
    assert(spark.read.parquet(s"$dir/clustered").except(df).isEmpty &&
      df.except(spark.read.parquet(s"$dir/clustered")).isEmpty)
  }

  test("parquet bloom write: footer carries the bloom, membership answers") {
    import scala.jdk.CollectionConverters._
    val dir = Session.scratch(spark, "bloom")
    Seq.tabulate(5000)(i => (i.toLong * 17, s"v$i"))
      .toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "5000")
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val kChunk = cols.find(_.getPath.toDotString == "k").get
      // the bloom rides in the footer for the enabled column only
      assert(kChunk.getBloomFilterOffset > 0,
        "no bloom filter written for the enabled column")
      assert(cols.find(_.getPath.toDotString == "v").get
        .getBloomFilterOffset <= 0,
        "bloom written for a column it was not enabled on")
      val bf = reader.readBloomFilter(kChunk)
      // every present key answers yes (blooms have no false negatives)
      Seq(0L, 17L, 4999L * 17).foreach(k =>
        assert(bf.findHash(bf.hash(k.asInstanceOf[Object])),
          s"present key $k missing from the bloom"))
      // absent keys mostly answer no — that miss IS the row-group skip
      val misses = (1 to 1000)
        .count(i => !bf.findHash(bf.hash((i.toLong * 17 + 1).asInstanceOf[Object])))
      assert(misses > 950, s"bloom rejects only $misses/1000 absent keys")
    } finally reader.close()
  }
}
