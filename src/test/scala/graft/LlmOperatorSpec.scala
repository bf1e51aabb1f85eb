package graft

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Per-operator unit tests for the graft.llm families on tiny in-memory
  * corpora with hand-computed expected values — the fast complement to the
  * DuckDB differential gate (scripts/check.py), which exercises the same
  * operators at sf0.01.
  */
class LlmOperatorSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def emb(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("coverageSelect: greedy picks maximize NEW shingle coverage with min-id ties") {
    // doc 1 covers {a b c, b c d} (2), doc 2 covers {a b c} (subset),
    // doc 3 covers {x y z, y z w} (2 disjoint). Round 1 must take doc 1
    // (ties at gain 2 break to min id), round 2 doc 3 (doc 2 adds 0 new)
    val out = TextAnalysis.coverageSelect(
        docs(1L -> "a b c d", 2L -> "a b c", 3L -> "x y z w"), k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList.sortBy(_._1)
    assert(out == List((1, 1L, 2L, 2L), (2, 3L, 2L, 4L)), s"got $out")
  }

  test("vadSegments: frames, runs and peaks match a hand-built signal") {
    import spark.implicits._
    // 96 samples = 3 frames of 32: frame peaks |30000|, |100|, |30000|
    // -> active, silent, active = 2 one-frame segments
    val pcm: Array[Int] = Array.tabulate(96) { i =>
      if (i == 5 || i == 70) 30000 else if (i < 64) 100 - (i % 3) else -100
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bytes = new Array[Byte](192)
    pcm.zipWithIndex.foreach { case (s, i) =>
      bytes(i * 2) = (s & 0xff).toByte
      bytes(i * 2 + 1) = ((s >> 8) & 0xff).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, 96L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val ds = Seq(Multimodal.AudioBlob(7L, out.toByteArray)).toDS()
    val got = Multimodal.vadSegments(ds, frameLen = 32, threshold = 24576)
      .collect().head
    assert((got.doc_id, got.n_frames, got.n_active, got.n_segments,
      got.max_run) == ((7L, 3L, 2L, 2L, 1L)), s"got $got")
  }

  test("AudioSynth.encodeWav is byte-identical to AudioSystem.write; WavCodec matches the JDK decoder") {
    for (id <- Seq(0L, 1L, 13L, 509L)) {
      val ours = Multimodal.AudioSynth.encodeWav(id)
      // reference encoding through the JDK codec
      val n = Multimodal.AudioSynth.nSamples(id)
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val s = Multimodal.AudioSynth.sample(id, i)
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ref = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, ref)
      assert(java.util.Arrays.equals(ours, ref.toByteArray),
        s"hand-rolled WAV header diverges from AudioSystem.write for id=$id")
      // and the spec walker decodes the JDK bytes to the JDK's own answer
      val (rate, bytes) = Multimodal.WavCodec.decode(ref.toByteArray, id)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(ref.toByteArray))
      val jdkBytes = try ais.readAllBytes() finally ais.close()
      assert(rate == 8000 && java.util.Arrays.equals(bytes, jdkBytes),
        s"WavCodec decode diverges from the JDK decoder for id=$id")
    }
    // fail-loudly contract: stereo input is rejected, not filtered
    val stereoFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val stereo = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](32)), stereoFmt, 8L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, stereo)
    assertThrows[IllegalArgumentException](
      Multimodal.WavCodec.decode(stereo.toByteArray, 99L))
  }

  test("histogramImages: bins sum to the pixel count and match the formula") {
    import spark.implicits._
    val id = 11L
    val ds = Seq(Multimodal.ImageBlob(id,
      Multimodal.ImageSynth.encodePng(id))).toDS()
    val got = Multimodal.histogramImages(ds).collect()
      .map(b => b.bin -> b.n_pixels).toMap
    val (w, h) = (Multimodal.ImageSynth.width(id), Multimodal.ImageSynth.height(id))
    val want = (for (y <- 0 until h; x <- 0 until w)
      yield Multimodal.ImageSynth.r(id, x, y) / 16)
      .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    assert(got == want, s"got $got want $want")
    assert(got.values.sum == w.toLong * h)
  }

  test("convolveImages: flat raster has zero edges/Laplacian; formula image matches a direct recompute") {
    import spark.implicits._
    // hand-built 5x4 constant-color PNG: every gradient and Laplacian
    // must be exactly zero after the real decode
    val flat = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 5) flat.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(flat, "png", bos)
    val f = Multimodal.convolveImages(
      Seq(Multimodal.ImageBlob(1L, bos.toByteArray)).toDS(), 200000L)
      .collect()(0)
    assert((f.n_interior, f.n_edge, f.sum_gabs, f.sum_lap, f.sum_lap2) ==
      ((3L * 2L, 0L, 0L, 0L, 0L)))
    // synth image vs an independent Scala recompute of the kernels
    val id = 7L
    val got = Multimodal.convolveImages(
      Seq(Multimodal.ImageBlob(id, Multimodal.ImageSynth.encodePng(id)))
        .toDS(), 200000L).collect()(0)
    val (w, h) = (Multimodal.ImageSynth.width(id), Multimodal.ImageSynth.height(id))
    def lum(x: Int, y: Int): Long =
      299L * Multimodal.ImageSynth.r(id, x, y) +
        587L * Multimodal.ImageSynth.g(id, x, y) +
        114L * Multimodal.ImageSynth.b(id, x, y)
    var (nE, sG, sL, sL2) = (0L, 0L, 0L, 0L)
    for (y <- 1 until h - 1; x <- 1 until w - 1) {
      val gx = (lum(x + 1, y - 1) + 2 * lum(x + 1, y) + lum(x + 1, y + 1)) -
        (lum(x - 1, y - 1) + 2 * lum(x - 1, y) + lum(x - 1, y + 1))
      val gy = (lum(x - 1, y + 1) + 2 * lum(x, y + 1) + lum(x + 1, y + 1)) -
        (lum(x - 1, y - 1) + 2 * lum(x, y - 1) + lum(x + 1, y - 1))
      val lap = 4 * lum(x, y) - lum(x - 1, y) - lum(x + 1, y) -
        lum(x, y - 1) - lum(x, y + 1)
      if (math.abs(gx) + math.abs(gy) >= 200000L) nE += 1
      sG += math.abs(gx) + math.abs(gy); sL += lap; sL2 += lap * lap
    }
    assert((got.n_interior, got.n_edge, got.sum_gabs, got.sum_lap, got.sum_lap2)
      == (((w - 2).toLong * (h - 2), nE, sG, sL, sL2)))
  }

  test("audioQc: clip runs and zero crossings match a direct sample walk") {
    import spark.implicits._
    val id = 13L
    val got = Multimodal.audioQc(
      Seq(Multimodal.AudioBlob(id, Multimodal.AudioSynth.encodeWav(id)))
        .toDS()).collect()(0)
    val n = Multimodal.AudioSynth.nSamples(id)
    val vs = (0 until n).map(Multimodal.AudioSynth.sample(id, _))
    val clip = vs.map(v => math.abs(v) >= 32000)
    val runs = clip.foldLeft(List.empty[Int]) {
      case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
      case (acc, true) => 1 :: acc
      case (acc, false) => 0 :: acc
    }.filter(_ > 0)
    val nCross = vs.sliding(2).count {
      case Seq(a, b) => (a >= 0 && b < 0) || (a < 0 && b >= 0)
      case _ => false
    }
    assert(got.n_samples == n.toLong)
    assert(got.n_clipped == clip.count(identity).toLong)
    assert(got.n_clip_runs == runs.size.toLong)
    assert(got.max_clip_run == (if (runs.isEmpty) 0L else runs.max.toLong))
    assert(got.n_zero_cross == nCross.toLong)
  }

  test("werEval: edit bounds hold and the metric is deterministic") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "a b c d e f g h i j k l m n o p q r s t u v w x y z aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt")
    val out = TextAnalysis.werEval(d).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (nRef, nHyp, edits, wer) = (r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_hyp"), r.getAs[Long]("n_edits"),
        r.getAs[Double]("wer"))
      assert(nRef >= nHyp, "hypothesis only drops words")
      assert(edits >= nRef - nHyp, "each drop costs at least one edit")
      assert(edits <= nRef, "drops+typos can never exceed n_ref edits")
      assert(wer >= 0.0 && wer <= 1.0)
    }
    // the 40-word cap binds on the 46-word doc
    assert(out.map(r => r.getAs[Long]("n_ref")).max == 40L)
    val again = TextAnalysis.werEval(d).collect().map(_.toSeq).toSet
    assert(again == out.map(_.toSeq).toSet)
  }

  test("exact dedup merges case/whitespace variants, keeps min doc_id") {
    val out = Dedup.exact(docs(1L -> "Hello  World", 2L -> "hello world", 3L -> "different"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("shingles are distinct word n-grams; short docs drop out") {
    val sh = Dedup.shingles(docs(1L -> "a b c d", 2L -> "x y"), n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("jaccard computes exact n-gram overlap on given candidate pairs") {
    import spark.implicits._
    // shingles(1) = {a b c, b c d, c d e}; shingles(2) = {a b c, b c d, c d f}
    // intersection 2, union 4 => 0.5
    val j = Dedup.jaccard(
      docs(1L -> "a b c d e", 2L -> "a b c d f"),
      Seq((1L, 2L)).toDF("doc_a", "doc_b")).collect()
    assert(j.length == 1 && j(0).getDouble(2) == 0.5)
  }

  test("LSH candidates: identical docs agree on all bands, strangers on none") {
    val cands = Dedup.lshCandidates(docs(
      1L -> "the quick brown fox jumps over dogs",
      2L -> "the quick brown fox jumps over dogs",
      3L -> "completely unrelated text about spark plans")).collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 4L)))
  }

  test("packShards: budget boundaries land where the prefix sum says") {
    // tokens: doc0=3, doc1=4, doc2=2, doc3=5; budget 6, bucket size 2
    // (forces the two-phase stitch: docs 0-1 in bucket 0, 2-3 in bucket 1)
    // starts: 0,3,7,9 -> shards 0,0,1,1
    val out = TextAnalysis.packShards(docs(
      0L -> "a b c", 1L -> "d e f g", 2L -> "h i", 3L -> "j k l m n"),
      tokensPerShard = 6, bucketDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((0L, 3L, 3L, 0L), (1L, 4L, 7L, 0L),
      (2L, 2L, 9L, 1L), (3L, 5L, 14L, 1L)))
  }

  test("repetition: top 2-gram share and duplicate ratio, hand-computed") {
    // "a b a b a" -> grams (a b, b a, a b, b a): top "a b" (count tie
    // broken by gram asc), 2/4 share, dup_ratio 1 - 2/4 = 0.5
    // "x y z" -> grams (x y, y z): all unique, dup_ratio 0
    val out = TextAnalysis.repetition(docs(1L -> "a b a b a", 2L -> "x y z"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(out == Set(
      (1L, "a b", 2L, 4L, 2L, 0.5, 0.5),
      (2L, "x y", 1L, 2L, 2L, 0.5, 0.0)))
  }

  test("dupClusters groups chains transitively to the component minimum") {
    import spark.implicits._
    // chain 1~2~3 (no direct 1~3 edge), separate pair 7~9, long path
    // 10~11~12~13~14 — pointer jumping must still land every node on the
    // component min, and 7/9 must not leak into either component
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
  }

  test("dupClusters with a durable checkpointDir converges to the same labels") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("doc_a", "doc_b")
    val dir = Session.scratch(spark, "cc_ckpt")
    val clustered = Dedup.dupClusters(pairs, checkpointDir = Some(dir))
    val out = clustered.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
    // the cluster-deployment property the option buys: reliable
    // checkpoint files exist under the durable dir (a lost executor
    // replays one round from them), and the returned plan's lineage is
    // truncated at a scan of those files rather than reaching the
    // original pairs input
    val rddDirs = new java.io.File(dir).listFiles()
    assert(rddDirs != null && rddDirs.exists(d =>
      d.isDirectory && d.listFiles().exists(_.getName.startsWith("rdd-"))))
    val plan = clustered.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"))
  }

  test("dedupeClustered keeps one representative per near-dup component") {
    // a/b/c chain-similar (a~b, b~c share most shingles), d unrelated:
    // transitive closure keeps only doc 1 and the singleton 4
    val out = Dedup.dedupeClustered(docs(
      1L -> "one two three four five six seven eight",
      2L -> "one two three four five six seven nine",
      3L -> "zero two three four five six seven nine",
      4L -> "totally different content with no overlap at all"),
      jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L))
  }

  test("dedupeByQuality keeps the cleanest cluster member, not the min id") {
    // docs 1-3 are one near-dup cluster; doc 2 is the punctuation-free
    // (highest alnum ratio) member, so it wins over min-id doc 1; the
    // singleton 4 survives untouched
    val out = Dedup.dedupeByQuality(docs(
      1L -> "one two three four five six seven eight !!! ###",
      2L -> "one two three four five six seven eight",
      3L -> "one two three four five six seven eight ... ???",
      4L -> "totally different content with no overlap at all"),
      jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L))
  }

  test("dedupeByQuality quality tie falls back to token count then min id") {
    // equal alnum ratios: doc 6 is longer (more tokens) than near-dup 5,
    // so it wins; survivor COUNT always equals dedupeClustered's
    val d = docs(
      5L -> "one two three four five six seven eight",
      6L -> "one two three four five six seven eight nine",
      7L -> "totally different content with no overlap at all")
    val out = Dedup.dedupeByQuality(d, jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(6L, 7L))
    val nClustered = Dedup.dedupeClustered(d, jaccardThreshold = 0.5).count()
    assert(out.size.toLong == nClustered)
  }

  test("simhash: identical docs collide; candidates carry hamming 0") {
    val pairs = Dedup.simhashCandidates(docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "no shared vocabulary whatsoever in here"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashCandidates rejects parameters that break the recall guarantee") {
    // 15-bit bands => 4 bands; maxHamming 8 >= 4 could silently drop
    // in-threshold pairs (round-2 ADVICE) — must throw, not run.
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs(1L -> "x y z"), bandBits = 15, maxHamming = 8)
    }
  }

  test("brute-force cosine top-k: known geometry, deterministic ranks") {
    val e = emb(
      0L -> Array(1f, 0f), 1L -> Array(0f, 1f),
      2L -> Array(1f, 1f), 3L -> Array(-1f, 0f))
    val top = Similarity.bruteForceTopK(e.where("vec_id = 0"), e, 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // cos(e0,e2)=1/sqrt(2)=0.707107 ; cos(e0,e1)=0 ; cos(e0,e3)=-1
    assert(top.toSeq == Seq((2L, 0.707107, 1), (1L, 0.0, 2)))
  }

  test("LSH top-k finds an identical vector (same bucket by construction)") {
    val e = emb(0L -> Array(0.5f, 2f), 1L -> Array(0.5f, 2f), 2L -> Array(3f, -1f))
    val top = Similarity.lshTopK(e.where("vec_id = 0"), e, k = 1, planes = 4, dims = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("hyperplane components are stable constants") {
    // pinned values: changing them silently re-buckets every stored corpus
    assert(Similarity.planeComponent(0, 0) == Similarity.planeComponent(0, 0))
    assert(Similarity.planeVector(3, 16).length == 16)
    assert(Similarity.planeVector(0, 4) != Similarity.planeVector(1, 4))
  }

  test("text stats: hand-computed ratios; empty doc yields NULL not error") {
    val rows = TextAnalysis.stats(docs(1L -> "Ab c!", 2L -> ""))
      .orderBy("doc_id").collect()
    val r1 = rows(0)
    assert(r1.getLong(1) == 5L)        // n_chars
    assert(r1.getLong(2) == 2L)        // n_tokens: [Ab, c!]
    assert(r1.getDouble(3) == 0.8)     // alnum: "Ab c" / 5
    assert(r1.getDouble(4) == 0.2)     // one space / 5
    assert(r1.getDouble(5) == 2.5)     // len("ab c!")=5 over 2 tokens
    val r2 = rows(1)                   // ANSI mode: NULL, not DIVIDE_BY_ZERO
    assert(r2.isNullAt(3) && r2.isNullAt(4))
  }

  test("token counts: BPE-ish pieces and unique words") {
    val r = TextAnalysis.tokenCounts(docs(1L -> "Hello, world! hello")).collect()(0)
    assert(r.getLong(1) == 5L) // hello , world ! hello
    assert(r.getLong(2) == 2L) // {hello, world}
  }

  test("language ID votes on marker words; no markers => und") {
    val out = TextAnalysis.langId(docs(1L -> "the cat and the dog", 2L -> "zzz qqq"))
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("en", 2L), ("und", 0L)))
  }

  test("fingerprint: k-bounded, deterministic, equal for equal content") {
    val fp = TextAnalysis.fingerprint(docs(
      1L -> "some document text here", 2L -> "some document text here"), k = 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L).split(",").length <= 4)
  }

  test("dedupe pipeline: exact dups collapse, near-dups drop, uniques survive") {
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "patient crane watches every move from the tall green tree near the river"
    val d = docs(
      1L -> base,
      2L -> ("  " + base.toUpperCase + " "), // exact dup after normalization
      3L -> (base + " tonight"),             // near dup: one appended word
      4L -> "completely different text about spark physical plans")
    val survivors = Dedup.dedupe(d, jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 2 collapses into 1 (exact); 3 drops against 1 (J = 22/24, so the
    // banded LSH cannot plausibly miss it); 1 keeps the minimum id;
    // 4 is untouched
    assert(survivors.toSeq == Seq(1L, 4L))
  }

  test("approx_count_distinct tracks exact distinct within its error bound") {
    Tables.register(spark, sfSmoke)
    val r = spark.sql(
      """SELECT approx_count_distinct(o_custkey, 0.02) AS approx,
        |       count(DISTINCT o_custkey) AS exact
        |FROM orders""".stripMargin).collect()(0)
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    // HLL++ at rsd=0.02: allow 3 sigma
    assert(math.abs(approx - exact).toDouble / exact <= 0.06,
      s"approx=$approx exact=$exact")
  }

  test("multimodal resize preserves aspect ratio within the bounding box") {
    val d = Multimodal.decode(Multimodal.attach(docs(1L -> "hello world of pixels")))
    val r = Multimodal.resize(d, maxSide = 10).collect()(0)
    val o = d.collect()(0)
    assert(math.max(r.width, r.height) <= 10)
    if (math.max(o.width, o.height) > 10) {
      // scaled by the same integer factor, floor semantics
      val long = math.max(o.width, o.height)
      assert(r.width == math.max(1, o.width * 10 / long))
      assert(r.height == math.max(1, o.height * 10 / long))
    }
  }

  test("frame sampling splits the payload into contiguous exact ranges") {
    val fs = Multimodal.frameSample(
      Multimodal.attach(docs(1L -> "abcdefghij")), nFrames = 4)
      .orderBy("frame_idx").collect()
    assert(fs.length == 4)
    assert(fs.map(_.frame_bytes).sum == 10L) // ranges tile the payload
    // 10 bytes over 4 frames: |2|3|2|3| (floor boundaries)
    assert(fs.map(_.frame_bytes).toSeq == Seq(2L, 3L, 2L, 3L))
    // frame 0 = md5("ab")
    assert(fs(0).frame_md5 == Multimodal.FakeDecoder.md5Hex("ab".getBytes("UTF-8")))
  }

  test("multimodal decode derives metadata from payload md5 (stub contract)") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592
    val d = Multimodal.decode(Multimodal.attach(docs(1L -> "hello"))).collect()(0)
    assert(d.n_bytes == 5L)
    assert(d.content_md5 == "5d41402abc4b2a76b9719d911017c592")
    assert(d.width == 1 + (0x5d41 % 64))   // 2
    assert(d.height == 1 + (0x402a % 64))  // 43
    assert(d.feature(0) == 0x5d / 255.0)
    assert(d.feature.length == 8)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("lshTopKBanded with one band is exactly lshTopK; more bands only add") {
    val vecs = Tables.load(spark, sfSmoke, "embeddings")
    val probes = vecs.where("vec_id < 16")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "cand_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val one = keyed(Similarity.lshTopK(probes, vecs, 3, planes = 8))
    val oneBanded = keyed(
      Similarity.lshTopKBanded(probes, vecs, 3, bands = 1, planesPerBand = 8))
    assert(oneBanded == one)
    // band 0 of the 4-band index IS the one-band bucket, so the banded
    // candidate set is a superset: per-probe hit count cannot decrease
    val exact = Similarity.bruteForceTopK(probes, vecs, 3)
    def recallByProbe(approx: org.apache.spark.sql.DataFrame) =
      Similarity.annRecall(exact, approx).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val r1 = recallByProbe(Similarity.lshTopK(probes, vecs, 3, planes = 8))
    val r4 = recallByProbe(
      Similarity.lshTopKBanded(probes, vecs, 3, bands = 4, planesPerBand = 8))
    r1.foreach { case (p, hits1) =>
      assert(r4(p) >= hits1, s"probe $p lost hits going one-band -> banded")
    }
  }

  test("randomProject signs match lshBucket bits (shared hyperplanes)") {
    val vecs = Tables.load(spark, sfSmoke, "embeddings")
    val rows = Similarity.randomProject(vecs, outDims = 8)
      .withColumn("bucket", Similarity.lshBucket("embedding", planes = 8))
      .select("projected", "bucket").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val proj = r.getSeq[Double](0)
      val bucket = r.getLong(1)
      (0 until 8).foreach { j =>
        assert((proj(j) > 0) == ((bucket & (1L << j)) != 0),
          s"sign/bit mismatch at plane $j: proj=${proj(j)} bucket=$bucket")
      }
    }
  }

  test("scrubDupSpans removes duplicated spans everywhere but the first-occurrence doc") {
    val shared = "one two three four five"
    val out = Dedup.scrubDupSpans(docs(
      1L -> s"alpha $shared beta",
      2L -> s"gamma delta $shared epsilon zeta",
      3L -> "totally unrelated text with no duplication here"),
      gramTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is the minimum holder: untouched (7 tokens kept of 7)
    assert(out(1L)._1 == 7L && out(1L)._2 == 7L)
    assert(out(1L)._3 == md5Hex(s"alpha $shared beta"))
    // doc 2 loses exactly the 5 shared tokens, keeps the rest in order
    assert(out(2L)._1 == 9L && out(2L)._2 == 4L)
    assert(out(2L)._3 == md5Hex("gamma delta epsilon zeta"))
    // doc 3 passes through whole
    assert(out(3L)._2 == 7L)
    assert(out(3L)._3 == md5Hex("totally unrelated text with no duplication here"))
  }

  test("dedupeIncremental drops batch docs duplicating the corpus, keeps the rest") {
    val existing = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten")
    val incoming = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // exact dup of 1
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda", // near dup of 1
      12L -> "completely different content with no overlap whatsoever at all", // fresh
      13L -> "within batch duplicate text that is not in the corpus",
      14L -> "within batch duplicate text that is not in the corpus") // within-batch: BOTH survive
    val out = Dedup.dedupeIncremental(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(12L, 13L, 14L), s"got ${out.toSeq}")
    // re-running on the survivors is a no-op (idempotent ingest filter)
    val again = Dedup.dedupeIncremental(existing, incoming.where("doc_id >= 12"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again.toSeq == Seq(12L, 13L, 14L))
    // the contract only requires (doc_id, text): extra user columns —
    // even one named "fp" — must pass through, not break the join with
    // an ambiguous-reference error (round-6 ADVICE)
    import org.apache.spark.sql.functions.lit
    val withFp = Dedup.dedupeIncremental(
      existing.withColumn("fp", lit("user-data")),
      incoming.withColumn("fp", lit("user-data")))
    assert(withFp.columns.toSeq == Seq("doc_id", "text", "fp"))
    assert(withFp.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(12L, 13L, 14L))
  }

  test("containmentBloom is bit-identical to containment, even at absurd fpp") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "a completely different document about database engines",
      3L -> "the quick brown fox jumps over something else entirely",
      4L -> "unrelated filler text with no shared shingles anywhere here")
    val probes = docs(
      100L -> "the quick brown fox jumps",
      101L -> "database engines")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "probe_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val exact = rows(Dedup.containment(corpus, probes))
    assert(exact.nonEmpty)
    // the confirm join must erase every bloom false positive: fpp 0.5
    // floods the prefilter with FPs yet the result cannot change
    assert(rows(Dedup.containmentBloom(corpus, probes)) == exact)
    assert(rows(Dedup.containmentBloom(corpus, probes, fpp = 0.5)) == exact)
  }

  test("graft_bloom_might_contain: codegen probe matches the sketch, null key is null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, expr, lit}
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(bf.putLong)
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  bf.writeTo(bos); bos.toByteArray }
    val out = Seq[java.lang.Long](1L, 2L, 3L, 1000L, null)
      .toDF("k")
      .select(expr("k"), call_function("graft_bloom_might_contain",
        expr("k"), lit(bytes)).as("hit"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toMap
    assert(out(Some(1L)) == Some(true))
    assert(out(Some(2L)) == Some(true))
    assert(out(Some(3L)) == Some(true))
    // no false-negative guarantee exists for absent keys in general, but
    // 1000 missing at fpp 0.01 over 3 keys is deterministic for the
    // fixed sketch seed; null key must yield null, not false
    assert(out(Some(1000L)) == Some(false))
    assert(out(None) == None)
  }

  test("sketch expressions compare by sketch content, so semanticEquals can fire") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(1L)
    val bBytes = { val bos = new java.io.ByteArrayOutputStream()
                   bf.writeTo(bos); bos.toByteArray }
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.99, 1)
    cms.add(java.lang.Long.valueOf(7L))
    val cBytes = { val bos = new java.io.ByteArrayOutputStream()
                   cms.writeTo(bos); bos.toByteArray }
    // two probes built from DISTINCT but equal byte arrays: the default
    // case-class equality compares Array[Byte] by reference and would
    // return false here, making subexpression elimination and exchange
    // reuse silently miss identical probes
    val b1 = graft.functions.BloomMightContain(Literal(42L), bBytes)
    val b2 = graft.functions.BloomMightContain(Literal(42L), bBytes.clone())
    assert(b1 == b2 && b1.hashCode == b2.hashCode && b1.semanticEquals(b2))
    val c1 = graft.functions.CmsEstimate(Literal(42L), cBytes)
    val c2 = graft.functions.CmsEstimate(Literal(42L), cBytes.clone())
    assert(c1 == c2 && c1.hashCode == c2.hashCode && c1.semanticEquals(c2))
    // different sketch content must still distinguish the probes
    val other = { val f = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
                  f.putLong(2L)
                  val bos = new java.io.ByteArrayOutputStream()
                  f.writeTo(bos); bos.toByteArray }
    assert(b1 != graft.functions.BloomMightContain(Literal(42L), other))
  }

  test("simhashNearGroups pair_count accounts for every expanded doc pair") {
    // docs 1/2/3 identical (one fingerprint, 3 members), 4 a near-dup
    // text, 5 unrelated — exercises intra rows, cross rows and absences
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "ALPHA beta GAMMA delta epsilon zeta eta theta", // same normalized
      4L -> "alpha beta gamma delta epsilon zeta eta iota",
      5L -> "completely unrelated words nothing shared here at all")
    val expanded = Dedup.simhashCandidates(corpus).collect()
    val grouped = Dedup.simhashNearGroups(corpus).collect()
    // total mass must match exactly: every doc pair the expanded form
    // emits is counted by exactly one group row
    assert(grouped.map(_.getLong(5)).sum == expanded.length.toLong)
    // the identical-fingerprint trio appears as one intra row with C(3,2)
    val intra = grouped.filter(r => r.getLong(0) == r.getLong(1))
    assert(intra.length == 1 && intra.head.getLong(5) == 3L
      && intra.head.getInt(2) == 0)
    // and groups never materialize member lists (schema is counts only)
    assert(Dedup.simhashNearGroups(corpus).schema.fields
      .forall(!_.dataType.typeName.contains("array")))
  }

  test("simhashPipeline pair_count mass equals the expanded form on the full corpus") {
    // docs 1/2/3 normalized-identical (one exact class, keep 1), 4 a
    // near-dup text, 5 unrelated — copies share their representative's
    // fingerprint, so banding decisions are unchanged by the collapse
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "ALPHA beta GAMMA delta epsilon zeta eta theta",
      4L -> "alpha beta gamma delta epsilon zeta eta iota",
      5L -> "completely unrelated words nothing shared here at all")
    val expanded = Dedup.simhashCandidates(corpus).collect()
    val out = Dedup.simhashPipeline(corpus).collect()
    // every doc pair the expanded form emits is counted by exactly one
    // pipeline row
    assert(out.map(_.getLong(5)).sum == expanded.length.toLong)
    // the exact class reports its own C(3,2) mass on the representative
    val intra = out.filter(r => r.getLong(0) == r.getLong(1))
    assert(intra.length == 1 && intra.head.getLong(0) == 1L
      && intra.head.getLong(5) == 3L && intra.head.getInt(2) == 0)
    // the survivor near-dup pair (1, 4) expands by the copy counts 3 x 1
    val cross = out.filter(r => r.getLong(0) != r.getLong(1))
    assert(cross.map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSet == Set((1L, 4L, 3L, 1L, 3L)))
  }

  test("tokenDiversity: Simpson and effective vocabulary, hand-computed") {
    // doc 1 "a a b": counts {a:2, b:1}, n=3, s2=5 -> simpson = 1 - 5/9,
    // eff_vocab = 9/5; doc 2 "a b c": uniform -> 1 - 3/9, eff = 3
    val out = TextAnalysis.tokenDiversity(docs(1L -> "a a b", 2L -> "a b c"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, 0.444444, 1.8), (2L, 3L, 3L, 0.666667, 3.0)))
  }

  test("novelty scores rare-shingle fraction; short docs get NULL ratio") {
    // shingle dfs: "a b c" = 3 docs (common), "b c d" = 2, "b c x" = 1;
    // with maxDf = 2 both docs 1/2 score 1-of-2 rare, doc 3 likewise;
    // doc 4 is too short to shingle -> 0/0/NULL
    val out = TextAnalysis.novelty(docs(
      1L -> "a b c d",
      2L -> "a b c d",
      3L -> "a b c x",
      4L -> "x y"), n = 3, maxDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 1L, 0.5),
      (4L, 0L, 0L, null)))
  }

  test("heavyHitters is exactly GROUP BY ... HAVING, even with a tiny noisy sketch") {
    val corpus = docs(
      1L -> "spark and flink and trino walk into a bar",
      2L -> "spark and flink are engines",
      3L -> "spark and flink again here",
      4L -> "nothing in common whatsoever")
    // true df: "spark and" = 3, "and flink" = 3, everything else < 3
    def expect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shingle").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = expect(TextAnalysis.heavyHitters(corpus, minDf = 3L))
    assert(exact == Seq(("and flink", 3L), ("spark and", 3L)))
    // a deliberately terrible sketch (eps 0.5 on a 4-doc corpus) floods
    // the candidate set with over-estimates; the exact confirm must
    // still produce the identical result
    assert(expect(TextAnalysis.heavyHitters(corpus, minDf = 3L, eps = 0.5,
      confidence = 0.5)) == exact)
  }

  test("graft_cms_estimate: codegen probe never under-estimates, null key is null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, expr, lit}
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42)
    Seq(7L, 7L, 7L, 9L).foreach(cms.addLong)
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  cms.writeTo(bos); bos.toByteArray }
    val out = Seq[java.lang.Long](7L, 9L, null).toDF("k")
      .select(expr("k"), call_function("graft_cms_estimate",
        expr("k"), lit(bytes)).as("est"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toMap
    assert(out(Some(7L)).exists(_.asInstanceOf[Long] >= 3L))
    assert(out(Some(9L)).exists(_.asInstanceOf[Long] >= 1L))
    assert(out(None) == None)
  }

  test("bm25 matches the hand-computed Okapi/Lucene formula") {
    val corpus = docs(
      1L -> "spark spark spark engine",  // tf(spark)=3, dl=4
      2L -> "spark flink",               // tf(spark)=1, dl=2
      3L -> "duckdb only here")          // no match: absent from output
    val out = TextAnalysis.bm25(corpus, Seq("spark"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // N=3, tot=9, avgdl=3; df(spark)=2; idf=ln((3-2+0.5)/(2+0.5)+1)=ln(1.6)
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def c(tf: Double, dl: Double) = BigDecimal(
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out.map(_._2) == Seq(1L, 1L))
    assert(out(0)._3 == c(3, 4) && out(1)._3 == c(1, 2),
      s"got ${out.map(_._3).toSeq}, want ${Seq(c(3, 4), c(1, 2))}")
  }

  test("sketch functions work from plain SQL text with X'...' binary literals") {
    // the registry builder path (fromChildren): a session configured with
    // GraftExtensions can call the sketch probes from SQL strings alone
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bf.putLong(42L)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val hex = bos.toByteArray.map("%02X".format(_)).mkString
    val row = spark.sql(
      s"""SELECT graft_bloom_might_contain(CAST(42 AS BIGINT), X'$hex') AS hit,
         |       graft_bloom_might_contain(CAST(9999 AS BIGINT), X'$hex') AS miss
         |""".stripMargin).collect()(0)
    assert(row.getBoolean(0) && !row.getBoolean(1))
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 1)
    cms.addLong(7L); cms.addLong(7L)
    val cbos = new java.io.ByteArrayOutputStream(); cms.writeTo(cbos)
    val chex = cbos.toByteArray.map("%02X".format(_)).mkString
    val est = spark.sql(
      s"SELECT graft_cms_estimate(CAST(7 AS BIGINT), X'$chex') AS e")
      .collect()(0).getLong(0)
    assert(est >= 2L)
    // a non-literal filter argument must be rejected with the contract
    // message, not a ClassCastException deep in execution
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bloom_might_contain(CAST(1 AS BIGINT), " +
        "CAST(CONCAT(rand(), 'x') AS BINARY))").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("domainCap keeps at most N per key, best alnum first, doc_id tie-break") {
    import spark.implicits._
    val d = Seq(
      (1L, "clean alnum text here", "a"),
      (2L, "!!!! ???? ,,,, ....", "a"),       // low alnum: capped out
      (3L, "another clean document", "a"),
      (4L, "solo doc in its domain", "b"),
      (5L, null.asInstanceOf[String], "b")    // NULL ratio ranks last
    ).toDF("doc_id", "text", "source")
    val kept = TextAnalysis.domainCap(d, maxPerKey = 2, keyCol = "source")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L),
      s"expected punctuation doc 2 capped out, got $kept")
    // schema passes through untouched
    assert(TextAnalysis.domainCap(d, 2).columns.toSeq ==
      Seq("doc_id", "text", "source"))
  }

  test("image decode recovers the synthesized geometry and exact pixel sums") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 46L, 123L, 4999L)
    val dec = Multimodal.decodeImages(
      Multimodal.synthesizeImages(ids.toDF("doc_id")))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- ids) {
      val (w, h) = (Multimodal.ImageSynth.width(id), Multimodal.ImageSynth.height(id))
      val px = for { x <- 0 until w; y <- 0 until h } yield
        (Multimodal.ImageSynth.r(id, x, y).toLong,
          Multimodal.ImageSynth.g(id, x, y).toLong,
          Multimodal.ImageSynth.b(id, x, y).toLong)
      val d = dec(id)
      assert((d.width, d.height) == (w, h))
      assert((d.sum_r, d.sum_g, d.sum_b) ==
        (px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum))
    }
  }

  test("dHash matches the direct formula and is invariant to the doc_id shift") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 46L, 123L, 4999L, 1739L)
    val hashed = Multimodal.dhashImages(
      Multimodal.synthesizeImages(ids.toDF("doc_id")))
      .collect().map(d => d.doc_id -> d.dhash).toMap
    // independent recompute straight from the synthesis formulas
    def expected(id: Long): Long = {
      val (w, h) = (Multimodal.ImageSynth.width(id), Multimodal.ImageSynth.height(id))
      def luma(x: Int, y: Int): Int = {
        val (sx, sy) = (x * w / 11, y * h / 6)
        299 * Multimodal.ImageSynth.r(id, sx, sy) +
          587 * Multimodal.ImageSynth.g(id, sx, sy) +
          114 * Multimodal.ImageSynth.b(id, sx, sy)
      }
      (for { y <- 0 until 6; x <- 0 until 10 if luma(x + 1, y) > luma(x, y) }
        yield 1L << (y * 10 + x)).sum
    }
    ids.foreach(id => assert(hashed(id) == expected(id), s"doc $id"))
    // the id term cancels in adjacent-luma DIFFERENCES only when no mod-256
    // wrap moves: ids 0 and 1739 share (w, h) = (1, 1) geometry -> the 1x1
    // raster upsamples to a constant thumbnail, all bits 0, identical hash
    assert(hashed(0L) == hashed(1739L) && hashed(0L) == 0L)
    // 60-bit range
    assert(hashed.values.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("fingerprintNearGroups banding equals the all-pairs Hamming join") {
    import spark.implicits._
    val fps = Seq(5L, 5L, 6L, 1L << 59, (1L << 59) | 7L, 1024L)
      .zipWithIndex.map { case (f, i) => (i.toLong, f) }
      .toDF("doc_id", "simhash")
    val got = Dedup.fingerprintNearGroups(fps)
      .select("sim_a", "sim_b", "hamming", "docs_a", "docs_b", "pair_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val counts = Seq(5L -> 2L, 6L -> 1L, (1L << 59) -> 1L,
      ((1L << 59) | 7L) -> 1L, 1024L -> 1L).toMap
    val cross = for {
      a <- counts.keys; b <- counts.keys
      if a < b && java.lang.Long.bitCount(a ^ b) <= 3
    } yield (a, b, java.lang.Long.bitCount(a ^ b), counts(a), counts(b),
      counts(a) * counts(b))
    val intra = Set((5L, 5L, 0, 2L, 2L, 1L))
    assert(got == cross.toSet ++ intra)
  }

  test("fingerprintNearGroups equals brute force on random 60-bit fingerprints") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(40)(rnd.nextLong() & ((1L << 60) - 1))
    // seed genuine near pairs: <=3-bit perturbations of existing prints
    val fps = base ++ base.take(10).map { f =>
      (0 until 1 + rnd.nextInt(3)).foldLeft(f)((a, _) => a ^ (1L << rnd.nextInt(60)))
    } ++ base.take(5) // and exact duplicates
    val df = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      .toDF("doc_id", "simhash")
    val got = Dedup.fingerprintNearGroups(df)
      .select("sim_a", "sim_b", "hamming", "pair_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val counts = fps.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cross = for {
      a <- counts.keys; b <- counts.keys
      if a < b && java.lang.Long.bitCount(a ^ b) <= 3
    } yield (a, b, java.lang.Long.bitCount(a ^ b), counts(a) * counts(b))
    val intra = counts.collect { case (f, n) if n > 1 =>
      (f, f, 0, n * (n - 1) / 2) }
    assert(got == cross.toSet ++ intra,
      "banded result diverged from the all-pairs Hamming join")
    assert(cross.nonEmpty, "fixture produced no cross pairs — test is vacuous")
  }

  test("labelPropagation: plurality spread, min-label ties, seeds clamped") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val seeds = Seq((1L, "a"), (4L, "b"), (5L, "x")).toDF("doc_id", "label")
    val got = Dedup.labelPropagation(pairs, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // round 1: 2<-a (from 1), 3<-b (from 4), 6<-x; round 2: 2 sees
    // {a, b} -> tie -> min label a; 3 sees {a, b} -> a; seeds never move
    assert(got == Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b",
      5L -> "x", 6L -> "x"))
    // a component with no seed stays unlabeled
    val lonely = Dedup.labelPropagation(
      Seq((7L, 8L)).toDF("doc_a", "doc_b"),
      Seq((1L, "a")).toDF("doc_id", "label"), iters = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(lonely == Map(7L -> None, 8L -> None))
  }

  test("audio decode recovers the synthesized PCM samples exactly") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 63L, 511L, 4999L)
    val dec = Multimodal.decodeAudio(
      Multimodal.synthesizeAudio(ids.toDF("doc_id")))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- ids) {
      val n = Multimodal.AudioSynth.nSamples(id)
      val samples = (0 until n).map(Multimodal.AudioSynth.sample(id, _))
      val d = dec(id)
      assert(d.sample_rate == 8000 && d.n_samples == n.toLong)
      assert(d.sum_val == samples.map(_.toLong).sum)
      assert(d.sum_abs == samples.map(s => math.abs(s).toLong).sum)
      assert(d.peak_abs == samples.map(math.abs).max)
      assert(d.energy == samples.map(s => s.toLong * s).sum)
    }
    // the WAV bytes really are a parseable RIFF/WAVE container
    val wav = Multimodal.AudioSynth.encodeWav(1L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
  }

  test("video decode recovers frames, sums and motion from the AVI bytes") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 8L, 62L, 4999L)
    val dec = Multimodal.decodeVideo(
      Multimodal.synthesizeVideo(ids.toDF("doc_id")))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- ids) {
      val (n, w, h) = (Multimodal.VideoSynth.nFrames(id),
        Multimodal.VideoSynth.width(id), Multimodal.VideoSynth.height(id))
      val px = for { f <- 0 until n; x <- 0 until w; y <- 0 until h } yield
        (Multimodal.VideoSynth.r(id, f, x, y).toLong,
          Multimodal.VideoSynth.g(id, f, x, y).toLong,
          Multimodal.VideoSynth.b(id, f, x, y).toLong)
      val motion = (for { f <- 1 until n; x <- 0 until w; y <- 0 until h }
        yield math.abs(Multimodal.VideoSynth.b(id, f, x, y)
          - Multimodal.VideoSynth.b(id, f - 1, x, y)).toLong).sum
      val d = dec(id)
      assert((d.n_frames, d.width, d.height) == (n, w, h))
      assert((d.sum_r, d.sum_g, d.sum_b) ==
        (px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum))
      assert(d.motion_b == motion)
    }
    // the container really is RIFF/AVI, and corruption fails loudly
    val avi = Multimodal.VideoSynth.encodeAvi(1L)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF" &&
      new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val broken = avi.clone(); broken(9) = 'X'.toByte
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideo(Seq(Multimodal.VideoBlob(1L, broken)).toDS())
        .collect()
    }
    assert(ex.getMessage.contains("not a RIFF/AVI"),
      s"corruption must fail loudly, got: ${ex.getMessage.take(200)}")
  }

  test("image resize resamples the real raster with the nearest-neighbor map") {
    import spark.implicits._
    val id = 123L // 30x object: width 1+123%47=30, height 1+369%37=37 -> resize triggers
    val d = Multimodal.resizeImages(
      Multimodal.synthesizeImages(Seq(id).toDF("doc_id")), maxSide = 24)
      .collect()(0)
    val (w, h) = (Multimodal.ImageSynth.width(id), Multimodal.ImageSynth.height(id))
    val long = math.max(w, h)
    assert(long > 24, "fixture must actually trigger the resize branch")
    val (w2, h2) = (math.max(1, w * 24 / long), math.max(1, h * 24 / long))
    assert((d.width, d.height) == (w2, h2))
    val px = for { x <- 0 until w2; y <- 0 until h2 } yield {
      val (sx, sy) = (x * w / w2, y * h / h2)
      (Multimodal.ImageSynth.r(id, sx, sy).toLong,
        Multimodal.ImageSynth.g(id, sx, sy).toLong,
        Multimodal.ImageSynth.b(id, sx, sy).toLong)
    }
    assert((d.sum_r, d.sum_g, d.sum_b) ==
      (px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum))
  }

  test("image decode fails loudly on an undecodable payload") {
    import spark.implicits._
    val bad = Seq(Multimodal.ImageBlob(7L, Array[Byte](1, 2, 3))).toDS()
    val e = intercept[Exception] {
      Multimodal.decodeImages(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("undecodable")), msgs(e).mkString(" | "))
  }

  test("lineDedup strips lines recurring across docs, keeps originals' order") {
    val out = TextAnalysis.lineDedup(docs(
      1L -> "Header\nunique one\nFooter",
      2L -> "header\nanother thing\nfooter", // case-variant header/footer: same key
      3L -> "solo line"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, md5Hex("unique one")),
      (2L, 3L, 1L, md5Hex("another thing")),
      (3L, 1L, 1L, md5Hex("solo line"))))
  }

  test("lineDedup never counts blank lines as boilerplate") {
    val out = TextAnalysis.lineDedup(docs(
      1L -> "shared\n\nkeep me", 2L -> "shared\n\nme too"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // 'shared' recurs -> stripped; the blank line recurs too but is kept
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, md5Hex("\nkeep me")),
      (2L, 3L, 2L, md5Hex("\nme too"))))
  }

  test("piiScrub counts and redacts sequentially; repeats all scrubbed") {
    val r = TextAnalysis.piiScrub(docs(
      1L -> "write user@test.com or 555-1234 at 10.0.0.1 twice user@test.com"))
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L)))
    assert(r.getString(4) ==
      md5Hex("write <EMAIL> or <PHONE> at <IP> twice <EMAIL>"))
  }

  test("piiScrub leaves near-miss patterns untouched") {
    // no boundary before 555 (digit prefix), version string is not an IP
    val r = TextAnalysis.piiScrub(docs(1L -> "id 1555-1234 rev 1.2.3.4000"))
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 0L, 0L)))
    assert(r.getString(4) == md5Hex("id 1555-1234 rev 1.2.3.4000"))
  }

  test("dupSpans merges overlapping grams into one span, exact union size") {
    // docs 1/2 share 5-grams at positions 0 and 1 -> ONE span of 6 tokens
    val out = Dedup.dupSpans(docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f z1 z2 z3 z4",
      3L -> "q r s t u v w x y z5"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 10L, 1L, 6L, 0.6),
      (2L, 10L, 1L, 6L, 0.6)))
  }

  test("dupSpans splits spans separated by more than the gram width") {
    // dup positions 0 and 11: gap > 5 -> two disjoint 5-token spans
    val out = Dedup.dupSpans(docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e x1 x2 x3 x4 x5 x6 f g h i j"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // doc1: grams at 0..5; dup grams "a b c d e" (pos 0) and "f g h i j"
    // (pos 5) -> 5-0 <= 5 merges into one span covering all 10 tokens
    assert(out.toSeq == Seq(
      (1L, 10L, 1L, 10L, 1.0),
      (2L, 16L, 2L, 10L, 0.625)))
  }

  test("bpeMergeStep: argmax pair collapses, counts move to the merged symbol") {
    // words: aab (wc 2), ab (wc 1); pairs before: 'a b' -> 3, 'a a' -> 2
    // best = 'a b'; merged seqs: 'a ab' (x2), 'ab' -> 'a b' count drops
    // to 0, 'a a' is consumed by the merge too (its right 'a' fused)
    val out = TextAnalysis.bpeMergeStep(docs(1L -> "aab aab ab")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("a b", 3L, 0L), ("a a", 2L, 0L)), s"got $out")
  }

  test("dupTriangles enumerates each ordered triangle exactly once") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (1,4), plus a dangling chain 5-6-7:
    // triangles are (1,2,3), (2,3,4) and nothing from the chain
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupTriangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == Seq((1L, 2L, 3L), (2L, 3L, 4L)))
  }

  test("tokenBudgetMix meets each quota with < one doc of overshoot") {
    import spark.implicits._
    val d = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(1 + i % 5)("tok").mkString(" "), s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val weights = Map("s0" -> 1L, "s1" -> 3L)
    val budget = 200L
    val out = TextAnalysis.tokenBudgetMix(d, weights, budget, "t1")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val quotas = TextAnalysis.quotaTable(weights, budget).toMap
    quotas.foreach { case (src, q) =>
      val rows = out.filter(_._1 == src)
      val total = rows.map(_._2).sum
      val maxDoc = rows.map(_._2).max
      assert(total >= q, s"$src under-filled: $total < $q")
      assert(total < q + maxDoc, s"$src overshot by a full doc: $total vs $q")
      // cum_tokens of the selected set is exactly the running total
      assert(rows.map(_._3).max == total)
    }
  }

  test("groupSimilarity: content-identical sources agree on all permutations") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "A"),
      (2L, "pack my box with five dozen liquor jugs", "A"),
      (3L, "the quick brown fox jumps over the lazy dog", "B"),
      (4L, "pack my box with five dozen liquor jugs", "B"),
      (5L, "completely unrelated filler content sits in this third source", "C")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.groupSimilarity(d, "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // A and B hold the same shingle union -> identical signatures
    assert(rows(("A", "B")) == ((8L, 1.0)))
    // C shares no shingle with A: agreement only by 28-bit hash accident
    assert(rows(("A", "C"))._1 == 0L)
    assert(rows.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
  }

  test("groupSimilarity signature is the union signature (doc split invariant)") {
    import spark.implicits._
    // one source holding both texts vs the same content as ONE concatenated
    // doc: min over docs == min over the union shingle set, so pairing the
    // two layouts agrees everywhere
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "split"),
      (2L, "eta theta iota kappa lambda mu", "split"),
      (3L, "alpha beta gamma delta epsilon zeta", "merged"),
      (4L, "eta theta iota kappa lambda mu", "merged")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.groupSimilarity(d, "source").collect()
    assert(out.length == 1 && out.head.getLong(2) == 8L)
  }

  test("classifierScore logit equals an independent md5 recomputation") {
    val d = docs(1L -> "Hello  hello world", 2L -> "a b a", 3L -> "")
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    def weight(b: Long): Long = (b * 2654435761L) % 1001 - 500
    def logit(text: String): Long =
      text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .map(t => weight(bucket(t))).sum
    val got = TextAnalysis
      .classifierScore(d, TextAnalysis.hashedWeights(spark, 64), 64)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(1L) == ((3L, logit("hello hello world"),
      logit("hello hello world") > 0)))
    assert(got(2L) == ((3L, logit("a b a"), logit("a b a") > 0)))
    assert(!got.contains(3L), "token-free docs produce no score row")
  }

  test("pageRank: one damped step on a path graph, hand-computed") {
    import spark.implicits._
    // path 1-2-3: deg 1/2/1; after one step from pr=1:
    //   pr(1) = pr(3) = 0.85 * (1/2) + 0.15 = 0.575
    //   pr(2) = 0.85 * (1/1 + 1/1) + 0.15 = 1.85
    // duplicate + reversed edges must collapse to the same graph
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.pageRank(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(1L -> ((1L, 0.575)), 2L -> ((2L, 1.85)),
      3L -> ((1L, 0.575))))
  }

  test("pageRank conserves total rank on a regular graph") {
    import spark.implicits._
    // a 4-cycle is 2-regular: every node keeps pr = 1 exactly
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("doc_a", "doc_b")
    val prs = Dedup.pageRank(cyc, iters = 3).collect()
      .map(r => r.getDouble(2)).toSeq
    assert(prs == Seq(1.0, 1.0, 1.0, 1.0))
  }

  test("bpeEncode tokenizes docs with the learned merge table") {
    // corpus "aab aab ab": merge 1 = "a b" (n=3), merge 2 = "a ab";
    // dict then maps aab -> [aab], ab -> [ab] — every emitted symbol is
    // multi-char, so the 3 words of doc 1 yield 3 tokens, all merged
    val out = TextAnalysis.bpeEncode(docs(1L -> "aab aab ab"), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq((1L, 3L, 3L, 3L)), s"got $out")
  }

  test("distinctSketchMerged == sketching the corpus as one source") {
    import spark.implicits._
    // 3 sources with heavy vocab overlap — union < sum of per-source
    val d = Seq.tabulate(60)(i =>
      (i.toLong, s"tok${i % 25} tok${(i + 7) % 25} shared", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val merged = TextAnalysis.distinctSketchMerged(d).collect()(0)
    val single = TextAnalysis
      .distinctSketch(d.withColumn("source",
        org.apache.spark.sql.functions.lit("all"))).collect()(0)
    // merge identity: per-bucket max across shards == whole-corpus sketch
    assert(merged.getAs[Long]("harmonic_s") == single.getAs[Long]("harmonic_s"))
    assert(merged.getAs[Double]("hll_union_est") ==
      single.getAs[Double]("hll_est"))
    assert(merged.getAs[Long]("n_exact_union") == single.getAs[Long]("n_exact"))
    assert(merged.getAs[Long]("n_sources") == 3L)
    assert(merged.getAs[Long]("sum_exact_sources") >
      merged.getAs[Long]("n_exact_union"),
      "overlapping sources must make the naive sum exceed the union")
  }

  test("cdcChunks: boundaries are content-defined — a prefix insertion leaves the tail chunks intact") {
    // deterministic pseudo-random text long enough to contain boundaries
    val rnd = new scala.util.Random(11)
    val text = Seq.fill(1500)(('a' + rnd.nextInt(26)).toChar).grouped(7)
      .map(_.mkString).mkString(" ")
    val out = Dedup.cdcChunks(docs(1L -> text, 2L -> s"zq $text")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
    val a = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val b = out.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSet
    assert(a.length >= 3, s"fixture must produce several chunks, got ${a.length}")
    // fixed-width chunking would shift EVERY block; content-defined cuts
    // lose at most the chunk(s) touching the insertion point
    val surviving = a.count(b.contains)
    assert(surviving >= a.length - 2,
      s"only $surviving/${a.length} chunks survived a 3-char prefix insertion")
    // chunk geometry tiles the document exactly
    val rows = Dedup.cdcChunks(docs(1L -> text)).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(rows.head._2 == 0)
    rows.sliding(2).foreach { case Array((_, s1, l1), (_, s2, _)) =>
      assert(s1 + l1 == s2, "chunks must tile without gaps or overlap")
    case _ => }
    assert(rows.map(_._3).sum == text.length)
  }

  test("embeddingDrift: identical versions score 1, negated score -1") {
    import spark.implicits._
    def v(fs: Double*) = fs.map(_.toFloat).toArray
    val base = Seq((0L, v(1.0, 2.0)), (0L, v(3.0, 0.0)), (1L, v(0.0, 1.0)))
      .toDF("grp", "embedding")
    val same = Similarity.embeddingDrift(base, base).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(same == Map(0L -> ((2L, 2L, 1.0)), 1L -> ((1L, 1L, 1.0))))
    val neg = base.selectExpr("grp",
      "transform(embedding, x -> CAST(-x AS FLOAT)) AS embedding")
    val flipped = Similarity.embeddingDrift(base, neg).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(flipped == Map(0L -> -1.0, 1L -> -1.0))
  }

  test("mmrSelect: diversity penalty reorders an exact-duplicate result") {
    import spark.implicits._
    def v(fs: Double*) = fs.map(_.toFloat).toArray
    val q = Seq((0L, v(1.0, 0.0))).toDF("vec_id", "embedding")
    // cand 1 and 2 are identical (rel 1.0); cand 3 is orthogonal (rel 0)
    val cands = Seq((1L, v(1.0, 0.0)), (2L, v(1.0, 0.0)), (3L, v(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    // relevance-heavy lambda keeps the duplicate second...
    val hi = Similarity.mmrSelect(q, cands, k = 3, lambda = 0.7).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(hi == Seq((1, 1L, 1.0, 0.0, 0.7), (2, 2L, 1.0, 1.0, 0.4),
      (3, 3L, 0.0, 0.0, 0.0)), s"got $hi")
    // ...a diversity-heavy lambda promotes the orthogonal candidate
    val lo = Similarity.mmrSelect(q, cands, k = 3, lambda = 0.3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(lo == Seq((1, 1L), (2, 3L), (3, 2L)), s"got $lo")
  }

  test("bigramScore: hand-computed MLE transition probabilities") {
    // doc "a b a b c": bigrams (a,b)x2 then (b,a), (b,c); unigrams
    // a:2 b:2 c:1 => p = 1.0, 0.5, 1.0, 0.5 in position order;
    // avg 0.75; rare (<2 occurrences): (b,a) and (b,c)
    val out = TextAnalysis.bigramScore(docs(1L -> "a b a b c", 2L -> "x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq((1L, 4L, 2L, 0.75)), s"got $out")
  }

  test("tokenizerFertility: ratios roll up per source") {
    import spark.implicits._
    // one source, words "ab ab": 1 merge fuses ab; 2 words -> 2 tokens,
    // 4 chars => fertility 1.0, chars/token 2.0
    val d = Seq((1L, "ab ab", "s0")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.tokenizerFertility(d, iters = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(out == Seq(("s0", 1L, 2L, 2L, 1.0, 2.0)), s"got $out")
  }

  test("bpeEncode with zero effective merges counts characters") {
    // single-word corpus "ab": merge 1 fuses it; at iters=1 the dict's
    // lone word becomes one 2-char token
    val one = TextAnalysis.bpeEncode(docs(1L -> "ab ab"), iters = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(one == Seq((2L, 2L, 2L)), s"got $one")
  }

  test("linkPredict: open wedges only — closed triangles predict nothing") {
    import spark.implicits._
    // path 1-2-3 (open wedge at (1,3)); triangle 4-5-6 (all closed);
    // star 7-{8,9,10} (three open wedges among leaves)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (7L, 8L), (7L, 9L), (7L, 10L)).toDF("doc_a", "doc_b")
    val got = Dedup.linkPredict(pairs, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 3L, 1L), (8L, 9L, 1L), (8L, 10L, 1L),
      (9L, 10L, 1L)), s"got $got")
  }

  test("kCore: triangle survives k=2 peeling, pendants and pairs dissolve") {
    import spark.implicits._
    // triangle 1-2-3, pendant 3-4, isolated pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.kCore(pairs, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 2L), (3L, 2L)), s"got $got")
  }

  test("kCore peeling cascades: a chain hung off a triangle dies one hop per round") {
    import spark.implicits._
    // triangle 1-2-3 with chain 3-4-5: round 1 kills 5 (deg 1), round 2
    // kills 4 — two rounds strictly shrink, the third is the fixpoint
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val r1 = Dedup.kCore(pairs, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    val r2 = Dedup.kCore(pairs, k = 2, rounds = 2)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L, 3L, 4L), s"round 1 got $r1")
    assert(r2 == Set(1L, 2L, 3L), s"round 2 got $r2")
  }

  test("signBits + hammingTopK: XOR popcount distances, ties to min cand") {
    import spark.implicits._
    // 4-dim vectors, bits 0..3: fingerprints 0b0011, 0b0001, 0b0111, 0b1100
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f, -1.0f, -1.0f)),
      (1L, Array(1.0f, -1.0f, -1.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 1.0f, -1.0f)),
      (3L, Array(-1.0f, -1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val fps = Similarity.signBits(vecs, bits = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == Map(0L -> 3L, 1L -> 1L, 2L -> 7L, 3L -> 12L), s"got $fps")
    val top = Similarity.hammingTopK(vecs.where("vec_id = 0"), vecs, 3,
        bits = 4)
      .collect().map(r => (r.getInt(3), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(_._1)
    // distances from 0b0011: id1 -> 1 bit, id2 -> 1 bit, id3 -> 4 bits
    assert(top == Seq((1, 1L, 1), (2, 2L, 1), (3, 3L, 4)), s"got $top")
  }

  test("distinctOverlap: identical sources overlap fully, disjoint ones near zero") {
    import spark.implicits._
    val vocabA = (0 until 300).map(i => s"alpha$i").mkString(" ")
    val vocabB = (0 until 300).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, vocabA, "s1"), (2L, vocabA, "s2"), // identical vocabularies
      (3L, vocabB, "s3") // disjoint vocabulary
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.distinctOverlap(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(4), r.getDouble(5)))).toMap
    // s1 and s2 share every register -> union == each, overlap == est
    val (e12, u12, o12) = got(("s1", "s2"))
    assert(u12 == e12 && o12 == e12, s"identical sources: $e12 $u12 $o12")
    // s1 vs s3: union ~ 2x each, overlap a small sketch-noise residual
    val (e13, u13, o13) = got(("s1", "s3"))
    assert(u13 > e13 * 1.5, s"disjoint union too small: $e13 $u13")
    assert(math.abs(o13) < e13 * 0.35, s"disjoint overlap too large: $o13 vs $e13")
  }

  test("sceneCuts: SAD matches the synth formulas, threshold splits boundaries") {
    import spark.implicits._
    val ids = Seq(7L, 12L, 33L)
    val vids = ids.map(id => Multimodal.VideoBlob(id, Multimodal.VideoSynth.encodeAvi(id)))
      .toDS()
    val got = Multimodal.sceneCuts(vids).collect()
      .map(c => (c.doc_id, c.frame) -> ((c.sad_luma, c.is_cut))).toMap
    // independent recomputation straight from the synth formulas
    val want = ids.flatMap { id =>
      val n = Multimodal.VideoSynth.nFrames(id)
      val w = Multimodal.VideoSynth.width(id)
      val h = Multimodal.VideoSynth.height(id)
      (1 until n).map { f =>
        var sad = 0L
        for (x <- 0 until w; y <- 0 until h) {
          def luma(fr: Int) =
            299L * Multimodal.VideoSynth.r(id, fr, x, y) +
              587L * Multimodal.VideoSynth.g(id, fr, x, y) +
              114L * Multimodal.VideoSynth.b(id, fr, x, y)
          sad += math.abs(luma(f) - luma(f - 1))
        }
        (id, f) -> ((sad, sad >= 32000L * w * h))
      }
    }.toMap
    assert(got == want, s"got $got want $want")
    assert(got.values.exists(_._2) && got.values.exists(!_._2),
      "fixture should produce both cut and non-cut boundaries")
  }

  test("rrfFuse: rank-only fusion, doc in both lists outranks either single") {
    import spark.implicits._
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val sem = Seq((2L, 1), (3L, 2)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem), topN = 3)
      .orderBy("fused_rank")
      .collect().map(r => (r.getAs[Int]("fused_rank"), r.getAs[Long]("doc_id")))
      .toSeq
    // d2 = 1/62 + 1/61 > d1 = 1/61 > d3 = 1/62
    assert(got == Seq((1, 2L), (2, 1L), (3, 3L)), s"got $got")
    val scores = Similarity.rrfFuse(Seq("lex" -> lex, "sem" -> sem), topN = 3)
      .orderBy("fused_rank").collect().map(_.getAs[Double]("rrf"))
    assert(math.abs(scores.head - (1.0 / 62 + 1.0 / 61)) < 1e-6)
  }

  test("knnClassify: plurality vote, majority beats the single closest") {
    import spark.implicits._
    // cluster A along (1,0), cluster B along (0,1). Probe 3 (label B)'s
    // single nearest is B but its k=3 neighborhood holds two A's -> the
    // vote (2 > 1) misclassifies it; probe 0 is a clean A.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.8f, 0.2f), 0),
      (3L, Array(0.5f, 0.6f), 1),
      (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(vecs.where("vec_id IN (0, 3)"), vecs, 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got.map(x => (x._1, x._2, x._3, x._5)) ==
      Set((0L, 0, 0, 1), (3L, 1, 0, 0)), s"got $got")
  }
}
