package graft

import graft.llm.{Dedup, Similarity, TextAnalysis}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants for the LLM operators over generated corpora.
  * Uses ScalaCheck generators with a fixed seed walk (no scalatestplus
  * bridge in the offline cache) — each property checks several sampled
  * corpora, each sample a real Spark job, so sizes stay small.
  */
class LlmPropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.oneOf("spark", "data", "query", "join", "scan",
    "batch", "the", "and", "fast", "slow")
  private val doc = Gen.chooseNum(3, 12).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))
  private val corpus = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, doc))

  private def docsDF(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("dupClusters equals a reference union-find on random pair graphs") {
    val edgeGen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong); b <- Gen.chooseNum(0L, n.toLong)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    samples(edgeGen, 5).foreach { edges =>
      import spark.implicits._
      val got = Dedup.dupClusters(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // reference: path-compressed union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("clustered dedup survivors are a subset of greedy survivors") {
    // a component's minimum is never any pair's doc_b (doc_b > doc_a >=
    // min), so everything dedupeClustered keeps, dedupe keeps too — the
    // transitive closure can only drop MORE (chains collapse to one
    // representative). Dup-heavy generated corpora exercise real chains.
    samples(corpus, 3).foreach { texts =>
      val d = docsDF(texts ++ texts.take(texts.length / 2)) // force dups
      val greedy = Dedup.dedupe(d, jaccardThreshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val clustered = Dedup.dedupeClustered(d, jaccardThreshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(clustered.subsetOf(greedy),
        s"clustered kept non-greedy docs: ${clustered -- greedy}")
    }
  }

  test("exact dedup partitions the corpus: group sizes sum to corpus size") {
    samples(corpus, 5).foreach { texts =>
      val out = Dedup.exact(docsDF(texts)).collect()
      assert(out.map(_.getLong(2)).sum == texts.length)
      assert(out.map(_.getString(0)).distinct.length == out.length)
    }
  }

  test("jaccard: self-pairs score exactly 1, cross-pairs stay in [0, 1]") {
    samples(corpus, 5).foreach { texts =>
      import spark.implicits._
      val d = docsDF(texts)
      val ids = texts.indices.map(_.toLong)
      val self = Dedup.jaccard(d, ids.map(i => (i, i)).toDF("doc_a", "doc_b")).collect()
      assert(self.forall(_.getDouble(2) == 1.0))
      if (ids.length >= 2) {
        val cross = Dedup.jaccard(d,
          ids.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
            .toDF("doc_a", "doc_b")).collect()
        assert(cross.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
      }
    }
  }

  test("identical docs always agree on every LSH band") {
    samples(doc, 5).foreach { text =>
      val cands = Dedup.lshCandidates(docsDF(Seq(text, text))).collect()
      assert(cands.length == 1 && cands(0).getLong(2) == 4L, s"text: $text")
    }
  }

  test("simhash is invariant to token order (set semantics)") {
    samples(doc, 5).foreach { text =>
      val shuffled = text.split(" ").reverse.mkString(" ")
      val out = Dedup.simhash(docsDF(Seq(text, shuffled))).collect()
        .map(_.getLong(1)).distinct
      assert(out.length == 1, s"text: $text")
    }
  }

  test("chunking: window boundaries exact at n = 1, 63, 64, 65, 120, 121") {
    import spark.implicits._
    val sizes = Seq(1, 63, 64, 65, 120, 121)
    val d = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(k => s"t$k").mkString(" ")) }
      .toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.chunk(d, chunkTokens = 64, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // stride 56: n<=64 -> one chunk of n; 65..120 -> 64 + (n-56);
    // 121 -> 64, 64, 121-112=9
    assert(out(0L) == Seq(1L))
    assert(out(1L) == Seq(63L))
    assert(out(2L) == Seq(64L))
    assert(out(3L) == Seq(64L, 9L))   // tokens 57..65
    assert(out(4L) == Seq(64L, 64L))  // tokens 57..120
    assert(out(5L) == Seq(64L, 64L, 9L))
    // every token covered: last chunk reaches n
    sizes.zipWithIndex.foreach { case (n, i) =>
      val stride = 56
      val covered = stride * (out(i.toLong).length - 1) + out(i.toLong).last
      assert(covered == n, s"doc of $n tokens covers $covered")
    }
  }

  test("containment: a verbatim copy scores exactly 1; scores stay in (0, 1]") {
    samples(corpus.suchThat(_.exists(_.split(" ").length >= 3)), 5).foreach { texts =>
      import spark.implicits._
      val d = docsDF(texts)
      // probes = fresh-id copies of every doc: each probe is fully
      // contained in its original, so a 1.0 row must exist per probe
      // whose text has at least one shingle
      val probes = texts.zipWithIndex
        .map { case (t, i) => ((i + texts.length).toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.containment(d, probes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(out.forall { case (_, _, c) => c > 0.0 && c <= 1.0 })
      texts.zipWithIndex.filter(_._1.split(" ").length >= 3).foreach { case (_, i) =>
        assert(out.exists { case (doc, probe, c) =>
          doc == i.toLong && probe == (i + texts.length).toLong && c == 1.0
        }, s"copy of doc $i not flagged as contamination")
      }
    }
  }

  test("hash split: every doc exactly one split; duplicates co-assigned") {
    samples(corpus, 5).foreach { texts =>
      // duplicate the corpus under fresh doc_ids: content-hash assignment
      // must put each copy in the same split as its original
      val doubled = texts ++ texts
      val out = graft.llm.TextAnalysis.hashSplit(docsDF(doubled)).collect()
      assert(out.length == doubled.length, "split must cover every doc")
      assert(out.forall(r => Set("train", "val", "test")(r.getString(2))))
      val byText = out.map(r => r.getLong(0) -> r.getString(2)).toMap
      doubled.indices.foreach { i =>
        val twin = (i + texts.length) % doubled.length
        if (doubled(i) == doubled(twin.toInt))
          assert(byText(i.toLong) == byText(twin.toLong),
            "identical content split apart")
      }
    }
  }

  test("ngram stats: document frequency never exceeds corpus size") {
    samples(corpus, 5).foreach { texts =>
      val out = graft.llm.TextAnalysis.ngramStats(docsDF(texts), n = 2, k = 50)
        .collect()
      assert(out.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= texts.length))
      // df ordering is non-increasing down the top-k
      val dfs = out.map(_.getLong(1)).toSeq
      assert(dfs == dfs.sorted.reverse)
    }
  }

  private val vec: Gen[List[Float]] = Gen.listOfN(4,
    Gen.chooseNum(-100, 100).map(_ / 10f)).suchThat(_.exists(_ != 0f))

  test("l2Normalize: unit norm for real vectors; zero vector -> NULLs, no ANSI error") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(3f, 4f)),          // norm 5 -> (0.6, 0.8)
      (1L, Array(0f, 0f))           // zero vector: must not DIVIDE_BY_ZERO
    ).toDF("vec_id", "embedding")
    val out = Similarity.l2Normalize(e).orderBy("vec_id").collect()
    assert(out(0).getSeq[Double](2) == Seq(0.6, 0.8))
    assert(out(1).getSeq[Any](2).forall(_ == null),
      "zero vector should normalize to NULL elements")
  }

  test("quantizeCodes: symmetric, bounded, zero-preserving, extremum hits ±levels") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(0.5f, -1.0f, 0f, 0.25f)),
      (1L, Array(2.0f, 1.0f, -0.5f, 0f))   // amp = 2.0
    ).toDF("vec_id", "embedding")
    val codes = Similarity.quantizeCodes(e).orderBy("vec_id").collect()
      .map(_.getSeq[Int](2))
    // amp=2: code = round(x * 127 / 2) = round(x * 63.5)
    assert(codes(0) == Seq(32, -64, 0, 16))   // 31.75->32, -63.5->-64, 0, 15.875->16
    assert(codes(1) == Seq(127, 64, -32, 0))  // the max-|x| element hits exactly 127
    assert(codes.flatten.forall(c => c >= -127 && c <= 127))
  }

  test("quantizedTopK ranking matches float ranking when codes are lossless") {
    import spark.implicits._
    // components are exact multiples of amp/127 -> quantization is a pure
    // scale, so integer-dot order == float-dot order (unit-norm free case)
    val base = Seq(
      (0L, Array(127f, 0f)), (1L, Array(90f, 90f)),
      (2L, Array(0f, 127f)), (3L, Array(-127f, 0f)), (4L, Array(100f, 50f)))
    val e = base.toDF("vec_id", "embedding")
    val q = Similarity.quantizeCodes(e)
    val got = Similarity.quantizedTopK(q.where("vec_id = 0"), q, 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    // dot vs (127,0): v4=12700, v1=11430, v2=0, v3=-16129
    assert(got == Seq(4L, 1L, 2L, 3L))
  }

  test("curriculumOrder: tiers are contiguous and pos is a permutation") {
    import spark.implicits._
    val d = Seq.tabulate(120)(i => (i.toLong, s"doc $i", i % 3))
      .toDF("doc_id", "text", "difficulty")
    val got = graft.llm.TrainOrder
      .curriculumOrder(d, org.apache.spark.sql.functions.col("difficulty"), "c1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.map(_._3).sorted.toSeq == (0L until 120L))
    // every tier-t position precedes every tier-(t+1) position
    val maxByTier = got.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    val minByTier = got.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    assert(maxByTier(0) < minByTier(1) && maxByTier(1) < minByTier(2))
  }

  test("lshTuning: more bands can only widen the candidate set") {
    import spark.implicits._
    val d = Seq.tabulate(30)(i =>
      (i.toLong, s"alpha beta gamma delta ${i % 5} epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val rows = Dedup.lshTuning(d).orderBy("bands").collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rows(2) <= rows(4) && rows(4) <= rows(8),
      s"candidate counts not monotone in bands: $rows")
  }

  test("lshTuning counts equal per-config lshCandidates and jaccard >= 0.6 counts") {
    // the tuning report verifies every config in one tagged pass; each
    // config's counts must match its own candidate set verified alone
    samples(corpus, 3).foreach { texts =>
      val d = docsDF(texts ++ texts.take(texts.length / 2)) // force dups
      val got = Dedup.lshTuning(d).collect()
        .map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
      val want = Seq(2, 4, 8).map { bands =>
        val cands = Dedup.lshCandidates(d, 8, bands)
        bands -> (cands.count(),
          Dedup.jaccard(d, cands).where("jaccard >= 0.6").count())
      }.toMap
      assert(got == want, s"texts=$texts")
    }
  }

  test("jaccardWithZeros is jaccard plus exactly the no-shared-shingle pairs") {
    import spark.implicits._
    // reference shingle sets: normalized word 3-grams, distinct per doc
    def sh(t: String): Set[String] =
      t.trim.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    samples(corpus, 5).foreach { texts =>
      val d = docsDF(texts)
      val pairs = for (a <- texts.indices; b <- texts.indices if a < b)
        yield (a.toLong, b.toLong, a * 100L + b)
      val c = pairs.toDF("doc_a", "doc_b", "tag")
      val z = Dedup.jaccardWithZeros(d, c)
        .select("doc_a", "doc_b", "tag", "jaccard").as[(Long, Long, Long, Double)]
        .collect().toSet
      assert(z.forall { case (a, b, t, _) => t == a * 100 + b }, "tag not carried")
      val j = Dedup.jaccard(d, c).as[(Long, Long, Double)].collect().toSet
      assert(z.filter(_._4 > 0).map(r => (r._1, r._2, r._4)) == j, s"texts=$texts")
      val disjoint = pairs.collect {
        case (a, b, _) if (sh(texts(a.toInt)) & sh(texts(b.toInt))).isEmpty => (a, b)
      }.toSet
      assert(z.filter(_._4 == 0.0).map(r => (r._1, r._2)) == disjoint, s"texts=$texts")
    }
  }

  test("distinctSketch registers are bounded and consistent") {
    import spark.implicits._
    val d = Seq.tabulate(60)(i =>
      (i.toLong, s"word${i % 37} filler${i % 11} tail", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val got = graft.llm.TextAnalysis.distinctSketch(d).collect()
    got.foreach { r =>
      val (hit, s) = (r.getLong(1), r.getLong(2))
      assert(hit >= 1 && hit <= 64)
      // every register contributes at most 2^52 (rho >= 1 once hit) and
      // unseen buckets exactly 2^53
      assert(s <= 64L * (1L << 53) && s >= (64 - hit) * (1L << 53))
      assert(r.getDouble(3) > 0)
    }
  }

  test("pqCodes assigns the truly-nearest centroid per subspace") {
    import spark.implicits._
    val vecs = Seq.tabulate(6)(v =>
      (v.toLong, Array.tabulate(64)(i => ((v * 31 + i * 7) % 13 - 6) / 8.0f)))
    val e = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqCodes(e).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    for ((vid, emb) <- vecs) {
      val codes = got(vid)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
      for (m <- 0 until 8) {
        val sub = emb.slice(m * 8, m * 8 + 8).map(_.toDouble)
        def dist(j: Int): Double = {
          val c = Similarity.pqCentroid(m, j, 8)
          var acc = 0.0; var i = 0
          while (i < 8) { val t = sub(i) - c(i); acc += t * t; i += 1 }
          acc
        }
        val best = (0 until 16).minBy(j => (dist(j), j))
        assert(codes(m) == best, s"vec $vid subspace $m: ${codes(m)} != $best")
      }
    }
  }

  test("pqTopK ADC distance equals the direct code-centroid distance") {
    import spark.implicits._
    val vecs = Seq.tabulate(5)(v =>
      (v.toLong, Array.tabulate(64)(i => ((v * 17 + i * 3) % 11 - 5) / 4.0f)))
    val e = vecs.toDF("vec_id", "embedding")
    val coded = Similarity.pqCodes(e)
    val codes = coded.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val got = Similarity.pqTopK(e.where("vec_id = 0"), coded, 4)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq.size == 4)
    val probe = vecs.head._2.map(_.toDouble)
    got.foreach { r =>
      val cand = r.getLong(1)
      var exp = 0.0
      for (m <- 0 until 8) {
        val c = Similarity.pqCentroid(m, codes(cand)(m), 8)
        var i = 0
        while (i < 8) { val t = probe(m * 8 + i) - c(i); exp += t * t; i += 1 }
      }
      assert(math.abs(r.getDouble(2) - exp) < 1e-6,
        s"cand $cand: adc ${r.getDouble(2)} != direct $exp")
    }
  }

  test("pcaPower loadings are invariant under corpus duplication") {
    import spark.implicits._
    val e = Seq.tabulate(20)(v =>
      (v.toLong, Array.tabulate(64)(i => ((v * 13 + i * 5) % 9 - 4) / 4.0f)))
      .toDF("vec_id", "embedding")
    val e2 = e.union(e.selectExpr("vec_id + 100", "embedding"))
    val l1 = graft.llm.Similarity.pcaPower(e).orderBy("dim")
      .collect().map(_.getDouble(1)).toSeq
    val l2 = graft.llm.Similarity.pcaPower(e2).orderBy("dim")
      .collect().map(_.getDouble(1)).toSeq
    // integer covariance doubles exactly; the normalized direction is
    // scale-free, so the loadings must match to the ROUND(6) edge
    assert(l1 == l2, s"loadings drifted under duplication")
    assert(l1.exists(v => math.abs(v) == 1.0), "max-|w| normalization lost")
  }

  test("cosine stays in [-1, 1]; self-similarity is 1") {
    samples(Gen.listOfN(3, vec), 5).foreach { vs =>
      import spark.implicits._
      val e = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val top = Similarity.bruteForceTopK(e, e, k = vs.length).collect()
      assert(top.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
      val self = e.select(Similarity.cosine("embedding", "embedding").as("c")).collect()
      assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
    }
  }

  test("containmentBloom equals containment on random corpora at random fpp") {
    // the prefilter must be invisible at ANY fpp: false positives die in
    // the confirm join, false negatives cannot exist
    val cases = samples(for {
      texts <- corpus
      nProbe <- Gen.chooseNum(1, 3)
      fpp <- Gen.oneOf(0.01, 0.2, 0.5)
    } yield (texts, nProbe, fpp), 4)
    cases.foreach { case (texts, nProbe, fpp) =>
      val d = docsDF(texts)
      val probes = docsDF(texts.take(nProbe)) // verbatim probes => hits exist
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id", "probe_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(rows(Dedup.containmentBloom(d, probes, fpp = fpp)) ==
        rows(Dedup.containment(d, probes)),
        s"texts=$texts nProbe=$nProbe fpp=$fpp")
    }
  }

  test("heavyHitters equals GROUP BY/HAVING on random corpora at random eps") {
    val cases = samples(for {
      texts <- corpus
      minDf <- Gen.chooseNum(1L, 4L)
      eps <- Gen.oneOf(0.001, 0.1, 0.5)
    } yield (texts, minDf, eps), 4)
    cases.foreach { case (texts, minDf, eps) =>
      val d = docsDF(texts)
      val got = TextAnalysis.heavyHitters(d, minDf = minDf, eps = eps)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = Dedup.shingles(d, 2).collect()
        .map(r => r.getString(1)).groupBy(identity)
        .collect { case (g, occ) if occ.length >= minDf => g -> occ.length.toLong }
      assert(got == want.toMap, s"texts=$texts minDf=$minDf eps=$eps")
    }
  }

  test("simhashNearGroups mass equals the expanded pair count on random corpora") {
    samples(corpus, 4).foreach { texts =>
      // duplicate half the corpus so intra-group rows appear
      val d = docsDF(texts ++ texts.take(texts.length / 2))
      val expanded = Dedup.simhashCandidates(d).count()
      val mass = Dedup.simhashNearGroups(d).collect().map(_.getLong(5)).sum
      assert(mass == expanded, s"texts=$texts mass=$mass expanded=$expanded")
    }
  }

  test("scrubDupSpans equals a brute-force reference on random corpora") {
    val gram = 3
    // longer docs + tiny vocab => real cross-doc gram collisions
    val longDoc = Gen.chooseNum(4, 16).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val smallCorpus = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, longDoc))
    samples(smallCorpus, 6).foreach { texts =>
      val got = Dedup.scrubDupSpans(docsDF(texts), gramTokens = gram)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      // reference: literal re-derivation of the documented semantics
      val toks = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").toSeq
      }.toMap
      val gramsOf = toks.view.mapValues(w =>
        if (w.length < gram) Seq.empty
        else w.indices.take(w.length - gram + 1)
          .map(p => p.toLong -> w.slice(p, p + gram).mkString(" "))).toMap
      val holders = gramsOf.toSeq
        .flatMap { case (d, gs) => gs.map { case (_, g) => g -> d } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val expect = toks.map { case (d, w) =>
        val redundant = gramsOf(d).collect {
          case (p, g) if holders(g).size >= 2 && holders(g).min != d => p
        }.sorted
        // islands: positions within `gram` merge; span covers [s, e+gram-1]
        val spans = redundant.foldLeft(List.empty[(Long, Long)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p - e <= gram => (s, p) :: rest
            case _ => (p, p) :: acc
          }
        }.map { case (s, e) => (s, e + gram - 1) }
        val kept = w.indices.filterNot(i => spans.exists(sp => i >= sp._1 && i <= sp._2))
          .map(w)
        d -> ((w.length.toLong, kept.length.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(kept.mkString(" ").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString))
      }
      assert(got == expect, s"corpus=$texts")
    }
  }
}
