package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Constraints, Forecast, OrderStats}
import graft.llm.TrainOrder

/** Property tests for the incremental-pipeline operators: changelog apply
  * vs a window-based reference, snapshot diff semantics, histogram-
  * narrowed order statistics vs a flat sort, and negative-sampling
  * determinism/rejection.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random changelog: 60 keys, ~6 changes each
  private lazy val changelog = Seq.tabulate(400) { i =>
    val key = (i * 131) % 60
    val op = (i * 37) % 10 match {
      case 0 | 1 => "D"
      case 2 | 3 | 4 => "U"
      case _ => "I"
    }
    (key.toLong, i.toLong, op, i * 1.5)
  }.toDF("k", "seq", "op", "v")

  test("applyChangelog == window-based latest-change reference") {
    val got = Cdc.applyChangelog(changelog, "k", "seq", "op")
      .select("k", "seq", "op", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val ref = changelog
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("seq").desc)))
      .where(col("rn") === 1 && col("op") =!= "D")
      .select("k", "seq", "op", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == ref)
    assert(got.nonEmpty, "fixture should keep some keys")
    assert(got.size < 60, "fixture should delete some keys")
  }

  test("applyChangelog drops exactly the keys whose last change is a delete") {
    val ch = Seq(
      (1L, 1L, "I", 1.0), (1L, 2L, "D", 0.0),
      (2L, 1L, "D", 0.0), (2L, 5L, "U", 2.0),
      (3L, 9L, "I", 3.0)).toDF("k", "seq", "op", "v")
    val keys = Cdc.applyChangelog(ch, "k", "seq", "op")
      .select("k").as[Long].collect().sorted
    assert(keys.toSeq == Seq(2L, 3L))
  }

  test("latestChanges fold is batch-split invariant (tombstones carried)") {
    // the delete wins at seq 5; an OLDER insert for the same key arrives
    // in a LATER batch — without the tombstone it would resurrect key 1
    val b1 = Seq((1L, 5L, "D", 0.0)).toDF("k", "seq", "op", "v")
    val b2 = Seq((1L, 3L, "I", 1.0), (2L, 1L, "I", 2.0))
      .toDF("k", "seq", "op", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "seq", "op", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet
    val whole = Cdc.applyChangelog(b1.unionAll(b2), "k", "seq", "op")
    val folded = Cdc.latestChanges(
        Cdc.latestChanges(b1, "k", "seq").unionAll(b2), "k", "seq")
      .where(col("op") =!= "D")
    assert(rows(folded) == rows(whole))
    assert(!rows(folded).exists(_._1 == 1L),
      "tombstone must prevent resurrection by an older change")
    assert(rows(folded).exists(_._1 == 2L))
  }

  test("scd2History: tombstone closes the prior version but emits none") {
    val ch = Seq(
      (1L, 1L, "I", 10.0), (1L, 2L, "U", 11.0), (1L, 3L, "D", 0.0),
      (1L, 4L, "I", 12.0),
      (2L, 7L, "I", 20.0)).toDF("k", "seq", "op", "v")
    val got = Cdc.scd2History(ch, "k", "seq", "op")
      .select("k", "valid_from", "valid_to", "is_current").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set(
      (1L, 1L, 2L, false),   // superseded by the update
      (1L, 2L, 3L, false),   // CLOSED by the delete, which emits no row
      (1L, 4L, -1L, true),   // re-insert reopens the key
      (2L, 7L, -1L, true)))
  }

  test("scd2History current versions == applyChangelog snapshot") {
    val cur = Cdc.scd2History(changelog, "k", "seq", "op")
      .where(col("is_current"))
      .select("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val snap = Cdc.applyChangelog(changelog, "k", "seq", "op")
      .select("k", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cur == snap,
      "open SCD2 intervals must be exactly the live snapshot")
  }

  test("incrementalJoin delta refresh == full join recompute; carried rows untouched") {
    val fact0 = Seq((1L, 10L, 5.0), (2L, 20L, 6.0), (3L, 10L, 7.0))
      .toDF("fk", "ck", "amt")
    val dim0 = Seq((10L, "A"), (20L, "B"), (30L, "C")).toDF("dk", "seg")
    def view(f: org.apache.spark.sql.DataFrame, dm: org.apache.spark.sql.DataFrame) =
      f.join(dm, col("ck") === col("dk")).select("fk", "ck", "amt", "seg")
    val view0 = view(fact0, dim0)
    // fact upserts: new fact 4 on dim 30, re-priced fact 2; dim 10 renamed
    val fact1 = Seq((1L, 10L, 5.0), (2L, 20L, 9.0), (3L, 10L, 7.0),
      (4L, 30L, 8.0)).toDF("fk", "ck", "amt")
    val dim1 = Seq((10L, "A2"), (20L, "B"), (30L, "C")).toDF("dk", "seg")
    val got = Cdc.incrementalJoin(view0, fact1, dim1,
        factDeltaKeys = Seq(2L, 4L).toDF("fk"),
        dimDeltaKeys = Seq(10L).toDF("dk"),
        factKey = "fk", fkCol = "ck", dimKey = "dk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    val full = view(fact1, dim1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(got == full, s"got $got want $full")
    // facts 1 and 3 ride dim 10 (renamed) -> recomputed; fact 2 re-priced
    // -> recomputed; nothing here is carried except... none (all touched).
    // Second refresh with an empty dim delta: fact 1/3's rows must carry
    val got2 = Cdc.incrementalJoin(view(fact1, dim1), fact1, dim1,
        factDeltaKeys = Seq(2L).toDF("fk"),
        dimDeltaKeys = Seq.empty[Long].toDF("dk"),
        factKey = "fk", fkCol = "ck", dimKey = "dk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(got2 == full, s"idempotent refresh diverged: $got2")
  }

  test("blockedLink: blocking bounds candidates, weights and threshold gate matches") {
    import graft.operators.Entity
    val left = Seq((1L, "B1", "Ann Smith", "GOLD"), (2L, "B1", "Bob Jones", "SILVER"),
      (3L, "B2", "Cal Poly", "GOLD")).toDF("lid", "blk", "name", "seg")
    val right = Seq((10L, "B1", "Ann Smyth", "GOLD"), (11L, "B3", "Ann Smith", "GOLD"))
      .toDF("rid", "blk", "name", "seg")
    val got = Entity.blockedLink(left, right, Seq("blk"),
        Seq(("levenshtein(l_name, r_name) <= 1", 2), ("l_seg = r_seg", 1)),
        threshold = 3)
      .select("l_lid", "r_rid", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 1-10: lev(Smith,Smyth)=1 (2) + seg (1) = 3 -> match.
    // 2-10: same block but lev>1 -> 1 < 3. 11 is in block B3: never a
    // candidate for 1 despite the exact name — blocking recall loss is
    // the operator's documented contract, not a bug
    assert(got == Set((1L, 10L, 3)), s"got $got")
  }

  test("blockedLinkSalted: row-identical to the plain blocked join on a hot block") {
    import graft.operators.Entity
    // one hot block (80% of rows share blk=HOT) + a tail of small blocks;
    // duplicate left rows included — the content-hash-only salt trap
    val left = (1L to 200L).map(i =>
      (i, if (i % 5 != 0) "HOT" else s"B${i % 7}",
        s"name${i % 40}", if (i % 3 == 0) "GOLD" else "SILVER")).toDF(
      "lid", "blk", "name", "seg")
    val right = (1L to 60L).map(i =>
      (i + 1000, if (i % 4 != 0) "HOT" else s"B${i % 7}",
        s"name${i % 40}", "GOLD")).toDF("rid", "blk", "name", "seg")
    val agreements = Seq(("l_name = r_name", 2), ("l_seg = r_seg", 1))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2))
    val plain = Entity.blockedLink(left, right, Seq("blk"), agreements, 2)
      .select("l_lid", "r_rid", "score").collect().map(key).sorted.toSeq
    (1 to 7 by 3).foreach { salts =>
      val salted = Entity.blockedLinkSalted(left, right, Seq("blk"),
          agreements, 2, salts = salts)
        .select("l_lid", "r_rid", "score").collect().map(key).sorted.toSeq
      assert(salted == plain, s"salts=$salts diverged from plain join")
    }
    assert(plain.nonEmpty, "fixture must produce matches")
  }

  test("goldenRecords: chains fold to one entity, ordered election, singletons survive") {
    import graft.operators.Entity
    // {1,2,10} is a chain through the shared right 10; {3,11} a pair;
    // 4 is unmatched and must survive as its own entity
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("lid", "rid")
    val records = Seq(
      (1L, "a", 50L), (2L, "b", 90L), (3L, "c", 70L), (4L, "d", 10L),
      (10L, "x", 60L), (11L, "y", 999L)).toDF("id", "name", "bal")
    val got = Entity.goldenRecords(pairs, records,
        Seq(col("bal").desc, col("id").asc))
      .select("entity_id", "n_members", "id", "name", "bal")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == Set((1L, 3L, 2L, "b", 90L), (3L, 2L, 11L, "y", 999L),
      (4L, 1L, 4L, "d", 10L)), s"got $got")
  }

  test("dupClusters fails loudly when a chain outruns maxIters") {
    import graft.llm.Dedup
    // a 64-link chain: pointer jumping needs more than 2 rounds to fold
    // it, and unconverged labels would silently split the component
    val pairs = Seq.tabulate(64)(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException](
      Dedup.dupClusters(pairs, maxIters = 2).collect())
    val labels = Dedup.dupClusters(pairs)
      .collect().map(_.getLong(1)).toSet
    assert(labels == Set(0L), s"chain should fold to label 0, got $labels")
  }

  test("kaplanMeier: hand-computed curve; censoring shrinks risk sets only") {
    import graft.operators.Survival
    // durs: events at 1 (x2) and 3, one censor at 2:
    //   t=1: n=4, d=2 -> S=0.5;  t=3: n=1, d=1 -> S=0
    val spells = Seq((1L, 1), (1L, 1), (2L, 0), (3L, 1)).toDF("dur", "ev")
    val got = Survival.kaplanMeier(spells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == Set((1L, 4L, 2L, 0.5), (3L, 1L, 1L, 0.0)), s"got $got")
    // all-censored input: no event rows at all
    val none = Survival.kaplanMeier(
      Seq((5L, 0), (7L, 0)).toDF("dur", "ev"))
    assert(none.count() == 0L)
  }

  test("logRank: hand-computed two-group test") {
    import graft.operators.Survival
    // grp=true: events at 1 and 2; grp=false: event at 1, censor at 3.
    // day 1: n=4, n1=2, d=2, d1=1 -> e1=1.0, v=16/48
    // day 2: n=2, n1=1, d=1, d1=1 -> e1=0.5, v=1/4
    // O1=2, E1=1.5, V=7/12, chi2=(0.5)^2/(7/12)=3/7
    val spells = Seq((1L, 1, true), (2L, 1, true), (1L, 1, false),
      (3L, 0, false)).toDF("dur", "ev", "grp")
    val r = Survival.logRank(spells).collect()(0)
    assert(r.getAs[Long]("n_event_times") == 2L)
    assert(r.getAs[Long]("o1") == 2L)
    assert(r.getAs[Double]("e1") == 1.5)
    assert(r.getAs[Double]("v") == 0.583333)
    assert(r.getAs[Double]("chi2") == 0.428571)
    // identical groups labelled apart: O1 == E1 -> chi2 == 0
    val sym = Seq((1L, 1, true), (1L, 1, false), (2L, 1, true),
      (2L, 1, false)).toDF("dur", "ev", "grp")
    assert(Survival.logRank(sym).collect()(0).getAs[Double]("chi2") == 0.0)
  }

  test("emWeights: separable mixture recovers high-m/low-u; deterministic") {
    import graft.operators.Entity
    // 30 true-match candidates agree on both fields; 300 non-matches
    // agree on neither; 20 noise pairs agree on one field only
    val cand = (Seq.fill(30)((1, 1)) ++ Seq.fill(300)((0, 0)) ++
      Seq.fill(10)((1, 0)) ++ Seq.fill(10)((0, 1))).toDF("a0", "a1")
    val out = Entity.emWeights(cand, Seq("a0", "a1"), iters = 5)
    val rows = out.collect().map(r => ((r.getInt(0), r.getInt(1)),
      r.getAs[Double]("p_match"))).toMap
    assert(rows((1, 1)) > 0.9, s"full agreement should read match: $rows")
    assert(rows((0, 0)) < 0.1, s"no agreement should read non-match: $rows")
    val one = out.collect()(0)
    assert(one.getAs[Double]("m1") > one.getAs[Double]("u1"),
      "agreement must be likelier under match than non-match")
    // bit-identical on re-run (fixed IEEE tree, ordered folds)
    val again = Entity.emWeights(cand, Seq("a0", "a1"), iters = 5)
      .collect().map(_.toSeq).toSet
    assert(again == out.collect().map(_.toSeq).toSet)
  }

  test("diffInDiff: hand-computed 2x2 contrast") {
    import graft.operators.Causal
    val rows = Seq(
      (true, false, 10L), (true, false, 20L), (true, true, 40L),
      (false, false, 0L), (false, false, 10L), (false, true, 20L))
      .toDF("treat", "post", "cents")
    val r = Causal.diffInDiff(rows, col("treat"), col("post"), col("cents"))
      .collect()(0)
    assert(r.getAs[Double]("mean_t0") == 15.0)
    assert(r.getAs[Double]("mean_t1") == 40.0)
    assert(r.getAs[Double]("mean_c0") == 5.0)
    assert(r.getAs[Double]("mean_c1") == 20.0)
    assert(r.getAs[Double]("did") == 10.0, "did = (40-15) - (20-5)")
  }

  test("stratifiedAte: hand-computed single stratum + skipped thin stratum") {
    import graft.operators.Causal
    val rows = Seq(
      ("a", true, 10L), ("a", true, 20L),
      ("a", false, 0L), ("a", false, 10L), ("a", false, 20L),
      // stratum b has a 1-row treated arm -> excluded, counted skipped
      ("b", true, 99L), ("b", false, 1L), ("b", false, 2L))
      .toDF("strat", "treated", "y")
    val r = Causal.stratifiedAte(rows).collect()(0)
    assert(r.getAs[Long]("n_total") == 8L)
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Long]("n_strata_skipped") == 1L)
    // only stratum a contributes: weight 5/8, diff 15 - 10 = 5
    assert(math.abs(r.getAs[Double]("ate") - 5.0 / 8.0 * 5.0) < 1e-9)
    // v1 = (2*500 - 30^2)/(2*1) = 50; v0 = (3*500 - 30^2)/(3*2) = 100
    val se = math.sqrt(math.pow(5.0 / 8.0, 2) * (50.0 / 2 + 100.0 / 3))
    assert(math.abs(r.getAs[Double]("se_ate") - se) < 1e-6)
  }

  test("sesCoefficients dot product equals the direct SES recurrence") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(2, 5, 8)) {
      val (c, den) = Forecast.sesCoefficients(n)
      val xs = Vector.fill(n)(BigInt(rnd.nextInt(2000001) - 1000000))
      // direct recurrence in exact rationals scaled by 2^(n-1):
      // l_1 = x_1; l_t = (x_t + l_{t-1}) / 2 — every halving dyadic
      var num = xs.head * BigInt(2).pow(n - 1)
      for (t <- 1 until n)
        num = (xs(t) * BigInt(2).pow(n - 1) + num) / 2
      // dot-product form: (Σ c_i x_i) / den == num / 2^(n-1)
      val dot = c.zip(xs).map { case (ci, xi) => ci * xi }.sum
      assert(dot * BigInt(2).pow(n - 1) == num * den,
        s"n=$n: dot/den != direct recurrence")
    }
  }

  test("incrementalJoin converges under chained random delta batches") {
    val rnd = new scala.util.Random(13)
    // 40 facts over 12 dims; three successive upsert rounds touching
    // random key subsets on both sides
    var fact = Seq.tabulate(40)(i =>
      (i.toLong, (i % 12).toLong, i * 1.0)).toSeq
    var dim = Seq.tabulate(12)(j => (j.toLong, s"seg$j"))
    def fdf(f: Seq[(Long, Long, Double)]) = f.toDF("fk", "ck", "amt")
    def ddf(dd: Seq[(Long, String)]) = dd.toDF("dk", "seg")
    def full(f: Seq[(Long, Long, Double)], dd: Seq[(Long, String)]) =
      fdf(f).join(ddf(dd), col("ck") === col("dk"))
        .select("fk", "ck", "amt", "seg")
    var view = full(fact, dim)
    (1 to 3).foreach { round =>
      val fKeys = (0 until 40).filter(_ => rnd.nextDouble() < 0.3)
        .map(_.toLong) :+ (40L + round) // updates + one insert
      val dKeys = (0 until 12).filter(_ => rnd.nextDouble() < 0.25).map(_.toLong)
      fact = fact.filterNot(r => fKeys.contains(r._1)) ++
        fKeys.map(k => (k, (k % 12), k * 10.0 + round))
      dim = dim.map { case (k, s) =>
        if (dKeys.contains(k)) (k, s"$s-r$round") else (k, s)
      }
      view = Cdc.incrementalJoin(view, fdf(fact), ddf(dim),
        factDeltaKeys = fKeys.toDF("fk"), dimDeltaKeys = dKeys.toDF("dk"),
        factKey = "fk", fkCol = "ck", dimKey = "dk")
      val got = view.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      val want = full(fact, dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet
      assert(got == want, s"round $round diverged from the full recompute")
    }
  }

  test("holtCoefficients: unrolled dot product reproduces the recurrence") {
    val n = 8
    val (cl, cb, cf, den) = Forecast.holtCoefficients(n)
    assert(den == BigInt(16384), s"den $den")
    assert(cf == cl.zip(cb).map { case (a, b) => a + b },
      "forecast coefficients must be level + trend")
    // integer observations scaled by the denominator keep every
    // intermediate value exactly representable -> bitwise comparison
    val xs = Seq(3L, -1L, 4L, 1L, -5L, 9L, 2L, 6L).map(_.toDouble)
    var l = xs.head; var b = 0.0
    for (t <- 1 until n) {
      val ln = (xs(t) + l + b) / 2
      b = ((ln - l) + b) / 2
      l = ln
    }
    def dot(cs: Seq[BigInt]) =
      cs.zip(xs).map { case (c, x) => c.toDouble * x }.sum / den.toDouble
    assert(math.abs(dot(cl) - l) < 1e-12, s"level ${dot(cl)} vs $l")
    assert(math.abs(dot(cb) - b) < 1e-12, s"trend ${dot(cb)} vs $b")
    assert(math.abs(dot(cf) - (l + b)) < 1e-12, "forecast")
  }

  test("holtWintersCoefficients: unrolled dots reproduce the seasonal recurrence") {
    val (n, m) = (12, 4)
    val (cl, cb, cs, cf, den) = Forecast.holtWintersCoefficients(n, m)
    assert(cf == cl.lazyZip(cb).lazyZip(cs).map(_ + _ + _),
      "forecast must be level + trend + next season")
    // dyadic recurrence on small integers stays exact in Double
    val xs = Seq(3L, -1L, 4L, 1L, -5L, 9L, 2L, 6L, -3L, 5L, 7L, -2L)
      .map(_.toDouble)
    var l = xs.take(m).sum / m
    var b = 0.0
    val s = Array.tabulate(m)(i => xs(i) - l)
    for (t <- m until n) {
      val sp = s(t % m)
      val ln = ((xs(t) - sp) + l + b) / 2
      b = ((ln - l) + b) / 2
      s(t % m) = ((xs(t) - ln) + sp) / 2
      l = ln
    }
    def dot(cc: Seq[BigInt]) =
      cc.zip(xs).map { case (c, x) => c.toDouble * x }.sum / den.toDouble
    assert(math.abs(dot(cl) - l) < 1e-9, s"level ${dot(cl)} vs $l")
    assert(math.abs(dot(cb) - b) < 1e-9, s"trend ${dot(cb)} vs $b")
    assert(math.abs(dot(cs) - s(n % m)) < 1e-9, s"season ${dot(cs)} vs ${s(n % m)}")
    assert(math.abs(dot(cf) - (l + b + s(n % m))) < 1e-9, "forecast")
  }

  test("benford: digit extraction, fractions, and chi-square terms") {
    // 20 values: leading digits 1x8, 2x6, 3x6 (cents > 0 filter drops 0)
    val vals = Seq.fill(8)(123L) ++ Seq.fill(6)(234L) ++ Seq.fill(6)(345L) ++ Seq(0L)
    val got = Constraints.benford(vals.toDF("cents"), "cents")
      .orderBy("digit")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1, 8L), (2, 6L), (3, 6L)),
      s"got $got")
    assert(got.head._3 == 0.4, s"obs_frac ${got.head._3}")
    val row1 = Constraints.benford(vals.toDF("cents"), "cents")
      .where(col("digit") === 1).select("exp_frac", "chi2_term")
      .head
    val e = math.log10(2.0)
    assert(math.abs(row1.getDouble(0) - e) < 1e-6)
    val want = (8.0 - 20 * e) * (8.0 - 20 * e) / (20 * e)
    assert(math.abs(row1.getDouble(1) - want) < 1e-5,
      s"chi2 ${row1.getDouble(1)} vs $want")
  }

  test("scd2History intervals are disjoint: at most one active version per (key, t)") {
    val hist = Cdc.scd2History(changelog, "k", "seq", "op")
    Seq(0L, 50L, 199L, 399L).foreach { t =>
      val perKey = hist
        .where(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .groupBy("k").count()
        .where(col("count") > 1).count()
      assert(perKey == 0, s"overlapping versions active at t=$t")
    }
  }

  test("scd2Incremental converges to the full recompute under ANY batch split") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "seq", "op", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5),
        r.getBoolean(6))).toSet
    val full = rows(Cdc.scd2State(changelog, "k", "seq", "op"))
    val rnd = new scala.util.Random(42)
    (1 to 4).foreach { trial =>
      val nBatches = 2 + rnd.nextInt(3)
      // random row->batch assignment: batches interleave keys AND seqs,
      // including tombstone-adjacent splits (two consecutive deletes of
      // a key landing in different batches — the case a history-only
      // state cannot reconstruct)
      val tag = changelog.withColumn("b",
        pmod(expr(s"CAST(seq * 2654435761 + $trial AS BIGINT)"),
          lit(nBatches)))
      val batches = (0 until nBatches).map(i =>
        tag.where(col("b") === i).drop("b"))
      val merged = batches.tail.foldLeft(
        Cdc.scd2State(batches.head, "k", "seq", "op"))(
        (st, b) => Cdc.scd2Incremental(st, b, "k", "seq", "op"))
      assert(rows(merged) == full,
        s"trial $trial ($nBatches batches) diverged from the full recompute")
    }
  }

  test("scd2Incremental leaves untouched keys' rows bit-identical") {
    val ch = Seq(
      (1L, 1L, "I", 10.0), (1L, 2L, "U", 11.0),
      (2L, 3L, "I", 20.0), (2L, 5L, "D", 0.0),
      (3L, 4L, "I", 30.0)).toDF("k", "seq", "op", "v")
    val state = Cdc.scd2State(ch, "k", "seq", "op")
    val batch = Seq((1L, 6L, "U", 12.0)).toDF("k", "seq", "op", "v")
    val next = Cdc.scd2Incremental(state, batch, "k", "seq", "op")
    // key 1 gained a version; keys 2 and 3 (incl. the tombstone row)
    // must survive the merge untouched
    val untouched = next.where(col("k") =!= 1L)
      .orderBy("k", "seq").collect().toSeq
    val before = state.where(col("k") =!= 1L)
      .orderBy("k", "seq").collect().toSeq
    assert(untouched == before)
    val k1 = next.where(col("k") === 1L && col("op") =!= "D")
      .select("valid_from", "valid_to", "is_current")
      .orderBy("valid_from").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSeq
    assert(k1 == Seq((1L, 2L, false), (2L, 6L, false), (6L, -1L, true)))
  }

  test("dpNoisyCounts: deterministic seeded draw, bounded noise, clamped at 0") {
    val df = Seq.tabulate(40)(i => (s"s${i % 4}", i.toLong)).toDF("source", "v")
    val cum = graft.operators.Constraints.dpCumThresholds(0.5, 8)
    assert(cum.size == 16 && cum.zip(cum.tail).forall { case (a, b) => a < b }
      && cum.head > 0 && cum.last < 1, s"thresholds not a CDF: $cum")
    def run() = graft.operators.Constraints
      .dpNoisyCounts(df, Seq("source"), eps = 0.5, seed = "t1")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val a = run()
    assert(a == run(), "same seed must draw the same noise")
    assert(a.forall { case (_, n, nc) => math.abs(n) <= 8 && nc >= 0 })
    assert(a.map(_._1) == Seq("s0", "s1", "s2", "s3"))
    // a different seed decorrelates the draw (not a constant offset)
    val b = graft.operators.Constraints
      .dpNoisyCounts(df, Seq("source"), eps = 0.5, seed = "t2")
      .orderBy("source").collect().map(_.getInt(1)).toSeq
    assert(a.map(_._2) != b || a.map(_._2).distinct.size > 1)
  }

  test("importanceScore prefers docs whose grams dominate the target slice") {
    val docs = (
      Seq.tabulate(6)(i => (i.toLong, "alpha beta gamma delta", "en")) ++
      Seq.tabulate(6)(i => (10L + i, "uno dos tres cuatro", "es")) :+
      ((20L, "alpha beta gamma", "es"))).toDF("doc_id", "text", "lang")
    val sc = graft.llm.TextAnalysis
      .importanceScore(docs, col("lang") === "en", buckets = 32)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(4), r.getBoolean(5))).toMap
    // the es doc written in target-side grams scores like the target docs
    assert(sc(20L)._2, "target-like doc must be selected")
    assert(!sc(10L)._2, "raw-only doc must not be selected")
    assert(sc(20L)._1 > 1.0 && sc(10L)._1 < 1.0)
  }

  test("snapshotDiff labels added/removed/changed and drops identical rows") {
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val after = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Cdc.snapshotDiff(before, after, "doc_id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  private def checkQuantiles(values: Seq[Double], ps: Seq[Double],
                             bins: Int): Unit = {
    val df = values.toDF("v")
    val got = OrderStats.exactQuantiles(df, "v", ps, bins)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = values.sorted
    val want = ps.map(p =>
      p -> sorted(math.floor(p * (values.size - 1)).toInt)).toMap
    assert(got == want, s"bins=$bins ps=$ps")
  }

  test("exactQuantiles == flat-sort rank selection (ties, odd/even n, bin counts)") {
    val vals = Seq.tabulate(257)(i => ((i * 193) % 97).toDouble / 3.0)
    for (bins <- Seq(1, 7, 4096))
      checkQuantiles(vals, Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0), bins)
    checkQuantiles(vals.take(256), Seq(0.5, 0.95), 16)
    // heavy ties: many values share bins and ranks
    checkQuantiles(Seq.tabulate(100)(i => (i % 5).toDouble), Seq(0.5, 0.8), 8)
  }

  test("exactQuantiles on a constant column (zero histogram width)") {
    checkQuantiles(Seq.fill(40)(7.25), Seq(0.0, 0.5, 1.0), 64)
  }

  test("exactQuantiles plans no global range sort over the data") {
    val df = spark.range(1000).select((col("id") % 31).cast("double").as("v"))
    val plan = staticPlan(OrderStats.exactQuantiles(df, "v", Seq(0.5, 0.99)))
    assert(!plan.contains("rangepartitioning"),
      s"histogram narrowing must not global-sort the corpus:\n$plan")
  }

  test("exactQuantilesByGroup == per-group flat-sort reference") {
    val df = Seq.tabulate(900) { i =>
      val g = "g" + (i % 3)
      // skewed, tied, and negative values across uneven group sizes
      val v = ((i * 37) % 101) * (if (i % 3 == 0) -1.5 else 2.25)
      (g, v)
    }.toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.99, 1.0)
    for (bins <- Seq(1, 7, 512)) {
      val got = OrderStats.exactQuantilesByGroup(df, "g", "v", ps, bins)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
        .toMap
      val ref = df.withColumn("rnk", row_number().over(
          Window.partitionBy("g").orderBy("v")) - 1)
        .groupBy("g").agg(count(lit(1)).as("n"),
          collect_list(struct(col("rnk"), col("v"))).as("vs"))
        .collect().flatMap { r =>
          val g = r.getString(0); val n = r.getLong(1)
          val byRank = r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => x.getInt(0).toLong -> x.getDouble(1)).toMap
          ps.map(p => (g, p) -> byRank(math.floor(p * (n - 1)).toLong))
        }.toMap
      assert(got == ref, s"bins=$bins")
    }
  }

  test("exactQuantilesByGroup on a constant group (zero histogram width)") {
    val df = (Seq.fill(50)(("a", 3.5)) ++ Seq(("b", 1.0), ("b", 2.0)))
      .toDF("g", "v")
    val got = OrderStats.exactQuantilesByGroup(df, "g", "v", Seq(0.5), 8)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got == Map("a" -> 3.5, "b" -> 1.0))
  }

  test("exactQuantilesByGroup plans no per-group range sort over the data") {
    val df = spark.range(2000).select((col("id") % 5).cast("string").as("g"),
      (col("id") % 31).cast("double").as("v"))
    val plan = staticPlan(
      OrderStats.exactQuantilesByGroup(df, "g", "v", Seq(0.5, 0.99)))
    assert(!plan.contains("rangepartitioning"),
      s"histogram narrowing must not range-sort the corpus:\n$plan")
  }

  test("negativeSamples: deterministic, in-domain, never the anchor") {
    val docs = Seq.tabulate(300)(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    val anchors = docs.where(col("doc_id") < 40)
    val a = TrainOrder.negativeSamples(docs, anchors, k = 4, seed = "t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = TrainOrder.negativeSamples(docs, anchors, k = 4, seed = "t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b, "same seed must reproduce the same draws")
    assert(a.forall { case (anchor, _, neg) =>
      neg >= 0 && neg < 300 && neg != anchor })
    // rejection only removes self-hits: each anchor keeps nearly k draws
    val perAnchor = a.groupBy(_._1).map(_._2.size)
    assert(perAnchor.forall(n => n >= 3 && n <= 4))
    assert(a.size >= 40 * 4 - 5)
    val c = TrainOrder.negativeSamples(docs, anchors, k = 4, seed = "u")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a != c, "different seeds should draw differently")
  }

  test("constraints: predicate/unique/fk verdicts with pinned NULL semantics") {
    val t = Seq((1L, Option(5.0), "a"), (2L, Option(50.0), "b"),
        (3L, Option.empty[Double], "a"), (4L, Option(-1.0), "c"),
        (4L, Option(2.0), "d"))
      .toDF("id", "v", "tag")
    val pred = Constraints.checkPredicates(t, Seq(
        "v_range" -> expr("v BETWEEN 0 AND 10"), // 50.0, NULL, -1.0 violate
        "id_pos" -> expr("id > 0")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(pred("v_range") == ((5L, 3L, false)), "NULL predicate = violation")
    assert(pred("id_pos") == ((5L, 0L, true)))

    val uniq = Constraints.checkUnique(t, Seq("id"), "id_unique").collect().head
    assert((uniq.getLong(1), uniq.getLong(2), uniq.getBoolean(3)) ==
      ((5L, 2L, false)), "both members of the duplicated key count")

    val parent = Seq(1L, 2L, 4L).toDF("pid")
    val fk = Constraints.checkForeignKey(t, "id", parent, "pid", "fk")
      .collect().head
    assert((fk.getLong(1), fk.getLong(2), fk.getBoolean(3)) == ((5L, 1L, false)))
  }

  test("checkPredicates: N rules cost one aggregation over one scan") {
    val li = Tables.load(spark, sfSmoke, "lineitem")
    val plan = staticPlan(Constraints.checkPredicates(li, Seq(
      "a" -> expr("l_quantity > 0"),
      "b" -> expr("l_extendedprice > 0"),
      "c" -> expr("l_discount <= 1"))))
    assert("HashAggregate".r.findAllMatchIn(plan).size == 2,
      s"expected exactly partial+final aggregation:\n$plan")
    assert("FileScan".r.findAllMatchIn(plan).size == 1,
      s"three rules must share one scan:\n$plan")
  }

  test("incrementalAgg merge == full recompute; exhausted groups leave the view") {
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L))
      .toDF("g", "v")
    val state = base.groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
    // delete both of a's rows, update b (+3), insert into c and new d
    val delta = Seq(
      ("a", -1L, -10L), ("a", -1L, -20L),
      ("b", 0L, 3L),
      ("c", 1L, 2L), ("d", 1L, 9L)
    ).toDF("g", "d_cnt", "d_val")
    val got = Cdc.incrementalAgg(state, delta, "g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("b", 1L, 8L), ("c", 2L, 9L), ("d", 1L, 9L)),
      s"merge drifted from the recompute: $got")
  }

  test("incrementalAgg with an empty delta is the identity") {
    val base = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
    val state = base.groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
    val empty = Seq.empty[(String, Long, Long)].toDF("g", "d_cnt", "d_val")
    val got = Cdc.incrementalAgg(state, empty, "g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1L, 1L), ("b", 1L, 2L)))
  }

  test("qc_column_profile: three columns profile off ONE scan (Expand, not re-reads)") {
    val plan = staticPlan(
      SparkEntry.queries("qc_column_profile")(spark, sfSmoke))
    assert("FileScan".r.findAllMatchIn(plan).size == 1,
      s"profile must share one scan across columns:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-column distinct aggregation should plan the documented Expand:\n$plan")
  }

  test("observe(): admission metrics piggyback on the main action") {
    // the Observation API is how a pipeline gets Constraints-style
    // counters WITHOUT a second scan: metrics ride the same pass as the
    // consuming action
    val li = Tables.load(spark, sfSmoke, "lineitem")
    val obs = org.apache.spark.sql.Observation("qc_metrics")
    val filtered = li
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("n_bad"))
      .where(col("l_returnflag") === "A")
      .count()
    val m = obs.get
    assert(m("n_rows") == li.count(), "observed row count drifted")
    assert(m("n_bad") == 0L, "fixture has no non-positive quantities")
    assert(filtered > 0)
  }

  test("kAnonymity flags exactly the classes under the floor") {
    val rows = Seq.tabulate(10)(i => (if (i < 7) "x" else "y", i))
      .toDF("qid", "payload")
    val got = Constraints.kAnonymity(rows, Seq("qid"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(("x", 7L, true), ("y", 3L, false)))
  }

  test("tCloseness: hand-computed TVDs, absent-value mass folded correctly") {
    // global: a=6, b=4, N=10. class x = 4×a (b ABSENT): TVD =
    // (|4·10−6·4| + 4·4)/(2·10·4) = 32/80 = 0.4; class y = 2a+4b:
    // (|2·10−6·6| + |4·10−4·6|)/(2·10·6) = 32/120 = 0.266667
    val rows = (Seq.fill(4)(("x", "a")) ++ Seq.fill(2)(("y", "a")) ++
      Seq.fill(4)(("y", "b"))).toDF("qid", "sens")
    val got = Constraints.tCloseness(rows, Seq("qid"), "sens",
        tNum = 3, tDen = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(("x", 4L, 0.4, false), ("y", 6L, 0.266667, true)),
      s"got $got")
  }

  test("tCloseness == brute-force class×value cross-join reference") {
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(300)((s"q${rnd.nextInt(6)}", s"v${rnd.nextInt(5)}"))
    val got = Constraints.tCloseness(raw.toDF("qid", "sens"), Seq("qid"),
        "sens", tNum = 1, tDen = 20)
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    val n = raw.size
    val glob = raw.groupBy(_._2).view.mapValues(_.size).toMap
    val want = raw.groupBy(_._1).map { case (q, rs) =>
      val ng = rs.size
      val cls = rs.groupBy(_._2).view.mapValues(_.size).toMap
      val num = glob.map { case (v, cv) =>
        math.abs(cls.getOrElse(v, 0).toLong * n - cv.toLong * ng)
      }.sum
      val den = 2L * n * ng
      // the same double division + HALF_UP round Spark applies at the edge
      // (valueOf = shortest-repr BigDecimal, matching Spark's Round)
      val tvd = java.math.BigDecimal.valueOf(num.toDouble / den.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      q -> ((tvd, num * 20 <= den * 1))
    }
    assert(got == want, s"got $got want $want")
  }
}
