package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Shared, Tables}
import graft.operators.{Bootstrap, Cdc, Constraints, Entity, OrderStats, Resample}
import graft.llm.TrainOrder

/** Incremental-pipeline operator entries: CDC changelog apply, snapshot
  * diff, global order statistics without a global sort, and deterministic
  * negative sampling. Each pairs a Scala operator (graft.operators /
  * graft.llm) with an independently-recomputed DuckDB oracle — the
  * oracle never mirrors the implementation's plan shape (row_number
  * where the operator aggregates, flat sort where it histogram-narrows).
  */
object Ops {

  // the changelog synthesized from orders: key = customer, sequence =
  // orderkey (unique per key by construction), op mixed I/U/D
  private val ChangelogSql = """
    SELECT o_custkey AS k, o_orderkey AS seq,
      CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0 THEN 'D'
           WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
      CAST(o_totalprice AS DECIMAL(12,2)) AS total
    FROM orders"""

  /** HLL register-count sweep SQL, generated once per dialect: the m ∈
    * {16, 32, 64} sketches share ONE hash pass (bucket fields are
    * prefixes of the same 3 hex chars; rho reads a disjoint field), and
    * each m gets its own driver-computed α·m²·2^53 literal (the small-m
    * bias constants from the HLL paper: 0.673 / 0.697; m=64 keeps the
    * llm_distinct_sketch convention). The measurement a deployment runs
    * before choosing a register budget — the HLL sibling of
    * llm_lsh_tuning.
    */
  private def hllSweepSql(spark: Boolean): String = {
    val bucket =
      if (spark) "CAST(conv(substr(hh, 14, 3), 16, 10) AS BIGINT)"
      else "('0x' || substr(hh, 14, 3))::BIGINT"
    val zeros =
      if (spark) "length(regexp_extract(substr(hh, 1, 13), '^0*', 0))"
      else "length(regexp_extract(substr(hh, 1, 13), '^0*'))"
    val fd =
      if (spark) "substr(hh, length(regexp_extract(substr(hh, 1, 13), '^0*', 0)) + 1, 1)"
      else "substr(hh, length(regexp_extract(substr(hh, 1, 13), '^0*')) + 1, 1)"
    val shift =
      if (spark) "shiftleft(CAST(1 AS BIGINT), 53 - mj)"
      else "1::BIGINT << (53 - mj)"
    val p53 = "9007199254740992" // 2^53
    val alphas = Seq(16 -> 0.673, 32 -> 0.697, 64 -> (0.7213 / (1 + 1.079 / 64)))
    val blocks = alphas.map { case (m, a) =>
      val alphaNum = a * m * m * math.pow(2, 53)
      s"""r$m AS (SELECT g, $bucket % $m AS bucket, rho FROM f),
         |regs$m AS (SELECT g, bucket, MAX(rho) AS mj FROM r$m GROUP BY g, bucket),
         |sk$m AS (SELECT g, COUNT(*) AS hits, SUM($shift) AS s_hit
         |         FROM regs$m GROUP BY g),
         |est$m AS (SELECT g, $m AS m,
         |                 CAST(ROUND(CAST($alphaNum AS DOUBLE)
         |                   / CAST(s_hit + ($m - hits) * $p53 AS DOUBLE), 6)
         |                   AS DOUBLE) AS hll_est
         |          FROM sk$m)""".stripMargin
    }.mkString(",\n")
    val unions = alphas.map { case (m, _) =>
      s"SELECT g, m, hll_est FROM est$m"
    }.mkString(" UNION ALL ")
    val strCast = if (spark) "STRING" else "VARCHAR"
    s"""WITH du AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
       |b AS (SELECT g, md5(CAST(u AS $strCast)) AS hh FROM du),
       |f AS (SELECT g, hh,
       |             CASE WHEN $zeros = 13 THEN 53
       |             ELSE $zeros * 4 + 1 + (CASE $fd
       |               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
       |               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
       |               WHEN '7' THEN 1 ELSE 0 END) END AS rho
       |      FROM b),
       |$blocks,
       |ex AS (SELECT g, COUNT(*) AS n_exact FROM du GROUP BY g),
       |u AS ($unions)
       |SELECT u.g AS event_type, CAST(u.m AS INT) AS m, u.hll_est,
       |       CAST(ex.n_exact AS BIGINT) AS n_exact,
       |       CAST(ROUND((u.hll_est - ex.n_exact) / ex.n_exact, 6)
       |            AS DOUBLE) AS rel_err
       |FROM u JOIN ex ON ex.g = u.g
       |ORDER BY event_type, m""".stripMargin
  }

  /** Croston intermittent-demand SQL, shared between engines up to the
    * day-index expression (the one dialect difference): daily micro-unit
    * demand per user, demand-day gaps via LAG, then TWO α=1/2 SES
    * filters — demand size and inter-demand interval — as driver-unrolled
    * dyadic integer dots over the last 8 demand days (the
    * holtCoefficients mechanism, one state variable), and the Croston
    * rate = size-level ÷ interval-level as ONE IEEE division of the two
    * RAW integer dots (the common dyadic denominator cancels exactly).
    * Keys need 9 demand days (8 sizes + 8 defined gaps).
    */
  private def crostonSql(dayExpr: String): String = {
    val (c, den) = graft.operators.Forecast.sesCoefficients(8)
    def zc(k: Int) = s"z$k"
    def ac(k: Int) = s"a$k"
    val pivots = (1 to 8).map { k =>
      s"CAST(SUM(CASE WHEN rn = ${9 - k} THEN z ELSE 0 END) AS BIGINT) AS z$k,\n" +
        s"               CAST(SUM(CASE WHEN rn = ${9 - k} THEN gap ELSE 0 END) AS BIGINT) AS a$k"
    }.mkString(",\n               ")
    s"""
      WITH dm AS (SELECT user_id, $dayExpr AS dy,
                         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS z
                  FROM events WHERE user_id < 40 GROUP BY user_id, $dayExpr),
      g AS (SELECT user_id, dy, z,
                   dy - LAG(dy) OVER (PARTITION BY user_id ORDER BY dy) AS gap,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dy DESC) AS rn
            FROM dm),
      p AS (SELECT user_id,
               $pivots
            FROM g WHERE rn <= 8 GROUP BY user_id
            HAVING COUNT(*) = 8 AND COUNT(gap) = 8)
      SELECT user_id,
             ${graft.operators.Forecast.dotSql(c, den, 1000000L, zc)} AS demand_level,
             ${graft.operators.Forecast.dotSql(c, den, 1L, ac)} AS interval_days,
             CAST(ROUND(CAST(${graft.operators.Forecast.dotIntSql(c, zc)} AS DOUBLE)
               / (1000000.0 * CAST(${graft.operators.Forecast.dotIntSql(c, ac)} AS DOUBLE)), 6)
               AS DOUBLE) AS forecast_per_day
      FROM p ORDER BY user_id"""
  }

  /** Group-sequential A/B monitoring SQL (four interim looks, the
    * PUBLISHED Pocock K=4/α=0.05 boundary 2.361 entering as a literal —
    * no in-plan distribution functions): the event calendar splits into
    * 4 sequential looks, arms are a deterministic md5 user bit, and each
    * look's z-statistic comes from CUMULATIVE exact sufficient
    * statistics (DECIMAL window sums ordered by look) through the
    * agg_ab_welch tree. The crossing flag compares the raw IEEE z to the
    * literal — identical trees compare identically in both engines.
    * `div` is the integer-division token (Spark DIV, DuckDB //).
    */
  private def groupSeqSql(dayExpr: String, div: String): String =
    s"""
      WITH d0 AS (SELECT user_id, $dayExpr AS dy,
                         CAST(ROUND(value * 100) AS BIGINT) AS v,
                         substr(md5('gs' || user_id), 1, 1)
                           IN ('0','1','2','3','4','5','6','7') AS in_a
                  FROM events),
      b AS (SELECT MIN(dy) AS lo, MAX(dy) AS hi FROM d0),
      q AS (SELECT d0.user_id, d0.v, d0.in_a,
                   LEAST(3, (d0.dy - b.lo) * 4 $div (b.hi - b.lo + 1)) AS look
            FROM d0 CROSS JOIN b),
      g AS (SELECT look,
                   CAST(count_if(in_a) AS BIGINT) AS n1k,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1k,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q1k,
                   CAST(count_if(NOT in_a) AS BIGINT) AS n2k,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2k,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q2k
            FROM q GROUP BY look),
      c AS (SELECT look,
                   CAST(SUM(n1k) OVER w AS BIGINT) AS n1,
                   CAST(SUM(s1k) OVER w AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(q1k) OVER w AS DECIMAL(38,0)) AS q1,
                   CAST(SUM(n2k) OVER w AS BIGINT) AS n2,
                   CAST(SUM(s2k) OVER w AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(q2k) OVER w AS DECIMAL(38,0)) AS q2
            FROM g
            WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      z AS (SELECT look, n1, n2,
                   CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                   CAST(CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE) AS v1,
                   CAST(CAST(n2 AS DECIMAL(38,0)) * q2 - s2 * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE) AS v2
            FROM c WHERE n1 >= 2 AND n2 >= 2)
      SELECT CAST(look AS INT) AS look,
             CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(ROUND((m1 - m2)
               / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)), 6)
               AS DOUBLE) AS z,
             CAST(ABS((m1 - m2)
               / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))) > 2.361
               AS BOOLEAN) AS crossed
      FROM z ORDER BY look"""

  /** Week-over-week traffic-mix shift SQL: per-week event_type
    * distribution compared to the previous PRESENT week by exact total
    * variation distance — TVD numerator Σ|c·n_prev − c_prev·n| folds in
    * DECIMAL (cross-multiplied integers, no per-cell rates), one IEEE
    * division at the edge. The type×week matrix is completed with
    * COALESCE-0 cells so a type that vanishes for a week still counts
    * its full mass (`hint` carries Spark's broadcast hint for the
    * type-dimension cross join; DuckDB reads it as a comment and the
    * matrix is |types|×|weeks| — never data-sized).
    */
  private def mixShiftSql(dayExpr: String, div: String, hint: String): String =
    s"""
      WITH e AS (SELECT event_type, ($dayExpr) $div 7 AS wk FROM events),
      c0 AS (SELECT wk, event_type, count(*) AS c FROM e GROUP BY 1, 2),
      ty AS (SELECT DISTINCT event_type FROM c0),
      wks AS (SELECT DISTINCT wk FROM c0),
      m AS (SELECT $hint w.wk, ty.event_type, CAST(COALESCE(c0.c, 0) AS BIGINT) AS c
            FROM wks w CROSS JOIN ty
            LEFT JOIN c0 ON c0.wk = w.wk AND c0.event_type = ty.event_type),
      n AS (SELECT wk, CAST(SUM(c) AS BIGINT) AS n FROM m GROUP BY wk),
      p AS (SELECT m.wk, m.event_type, m.c,
                   LAG(m.c) OVER (PARTITION BY m.event_type ORDER BY m.wk) AS pc,
                   LAG(m.wk) OVER (PARTITION BY m.event_type ORDER BY m.wk) AS pwk
            FROM m),
      j AS (SELECT p.wk, p.c, p.pc, n1.n AS n, n0.n AS pn
            FROM p JOIN n n1 ON n1.wk = p.wk
                 JOIN n n0 ON n0.wk = p.pwk
            WHERE p.pc IS NOT NULL)
      SELECT CAST(wk AS BIGINT) AS wk,
             CAST(MAX(n) AS BIGINT) AS n_cur,
             CAST(MAX(pn) AS BIGINT) AS n_prev,
             CAST(ROUND(CAST(SUM(ABS(CAST(c AS DECIMAL(38,0)) * pn
                      - CAST(pc AS DECIMAL(38,0)) * n)) AS DOUBLE)
                  / (2.0 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(pn) AS DOUBLE)), 6)
                  AS DOUBLE) AS tvd
      FROM j GROUP BY wk ORDER BY wk"""

  /** The DuckDB replay of [[graft.operators.Causal.rake]]: identical
    * alternating row/column scalings as chained CTEs (DuckDB
    * materializes each tiny CTE once; Spark's inliner would double the
    * upstream plan per step, which is why the operator side iterates
    * with checkpoints instead), key-ordered margin folds, uniform
    * integer-DIV targets.
    */
  private def rakingOracleSql: String = {
    def fold(k: String, w: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list($w ORDER BY $k)), (a, v) -> a + v)"
    def rowStep(in: String, out: String) =
      s"""$out AS (SELECT c.pri, c.st, c.n, c.w * t.tp / m.ms AS w
         |      FROM $in c
         |      JOIN (SELECT pri, ${fold("st", "w")} AS ms
         |            FROM $in GROUP BY pri) m ON m.pri = c.pri
         |      CROSS JOIN tot t)""".stripMargin
    def colStep(in: String, out: String) =
      s"""$out AS (SELECT c.pri, c.st, c.n, c.w * t.ts / m.ms AS w
         |      FROM $in c
         |      JOIN (SELECT st, ${fold("pri", "w")} AS ms
         |            FROM $in GROUP BY st) m ON m.st = c.st
         |      CROSS JOIN tot t)""".stripMargin
    s"""WITH cells AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
       |                      COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS w
       |               FROM orders GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n) // 5 AS DOUBLE) AS tp,
       |               CAST(SUM(n) // 3 AS DOUBLE) AS ts
       |        FROM cells),
       |${rowStep("cells", "r1")},
       |${colStep("r1", "c1")},
       |${rowStep("c1", "r2")},
       |${colStep("r2", "c2")},
       |${rowStep("c2", "r3")},
       |${colStep("r3", "c3")}
       |SELECT pri, st, CAST(n AS BIGINT) AS n,
       |       CAST(ROUND(w, 6) AS DOUBLE) AS weight
       |FROM c3 ORDER BY pri, st""".stripMargin
  }

  /** Split-conformal prediction interval — the distribution-free
    * uncertainty wrapper modern ML serving puts around ANY point
    * predictor: train a per-segment mean on the train split, take the
    * ⌈0.9·(n+1)⌉-th smallest absolute calibration residual as the
    * interval half-width q (a pure ORDER STATISTIC — the agg_order_stat
    * discipline, rank computed in exact integers (9(n+1)+9) div 10),
    * then report empirical coverage |y−m| ≤ q on the held-out test
    * split. Means are DECIMAL-sum/count divisions; residuals compare as
    * bit-identical doubles; q leaves as FLOOR cents (ROUND at 5e7·1e6
    * magnitudes hits DuckDB's multiply-round-divide ULP trap). One scan
    * builds the split; everything after runs per segment.
    */
  private def conformalSql(bktExpr: String, idiv: String): String =
    s"""WITH b AS (SELECT c_mktsegment AS seg,
       |                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
       |                  $bktExpr AS bkt, o_orderkey
       |           FROM orders JOIN customer ON c_custkey = o_custkey),
       |tr AS (SELECT seg, COUNT(*) AS n_train,
       |              CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS m
       |       FROM b WHERE bkt < 60 GROUP BY seg),
       |cal AS (SELECT b.seg, ABS(CAST(b.cents AS DOUBLE) - tr.m) AS r, b.o_orderkey
       |        FROM b JOIN tr ON tr.seg = b.seg WHERE b.bkt >= 60 AND b.bkt < 80),
       |rk AS (SELECT seg, r,
       |              row_number() OVER (PARTITION BY seg ORDER BY r, o_orderkey) AS rn,
       |              COUNT(*) OVER (PARTITION BY seg) AS n_cal
       |       FROM cal),
       |q AS (SELECT seg, MIN(n_cal) AS n_cal,
       |             MIN(CASE WHEN rn = LEAST(n_cal, (9 * (n_cal + 1) + 9) $idiv 10)
       |                      THEN r END) AS q
       |      FROM rk GROUP BY seg),
       |te AS (SELECT b.seg, COUNT(*) AS n_test,
       |              SUM(CASE WHEN ABS(CAST(b.cents AS DOUBLE) - tr.m) <= q.q
       |                       THEN 1 ELSE 0 END) AS n_cov
       |       FROM b JOIN tr ON tr.seg = b.seg JOIN q ON q.seg = b.seg
       |       WHERE b.bkt >= 80 GROUP BY b.seg)
       |SELECT t.seg AS seg, CAST(tr.n_train AS BIGINT) AS n_train,
       |       CAST(q.n_cal AS BIGINT) AS n_cal,
       |       CAST(t.n_test AS BIGINT) AS n_test,
       |       CAST(FLOOR(q.q) AS BIGINT) AS q_cents_floor,
       |       CAST(FLOOR(t.n_cov * 1000000 / t.n_test) AS BIGINT) AS coverage_ppm
       |FROM te t JOIN tr ON tr.seg = t.seg JOIN q ON q.seg = t.seg
       |ORDER BY seg""".stripMargin

  /** Mann–Kendall trend test over the daily event-count series per
    * event type — the nonparametric "is this metric trending"
    * monitor (no distributional assumption, robust to outliers):
    * S = Σ_{i<j} sign(v_j − v_i) with the standard tie-corrected
    * variance 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) — every term an
    * exact integer; the only IEEE ops are the final sqrt (correctly
    * rounded) and division. The pairwise join is EQUI on event_type
    * with the day<day residual, over the DAY-GRANULAR aggregate —
    * bounded by calendar span per type, never the raw event stream.
    */
  /** Western Electric SPC run rules over the daily count series — the
    * control-chart alarm set a quality/ops monitor evaluates: rule 1
    * (point beyond 3σ), rule 2 (≥2 of 3 consecutive beyond 2σ, same
    * side), rule 4 (9 consecutive on one side of the mean). Every test
    * is a pure-integer cross-multiplied comparison (|v−μ|>kσ ⇔
    * dev² > k²·(nQ−S²) with dev = n·v−S and n²σ² = nQ−S² — the
    * ts_anomaly_zscore discipline, no sqrt anywhere); runs come from
    * ROWS-frame window counts ordered by the unique day key. Bounded
    * day table after the one corpus aggregate.
    */
  private def spcRulesSql(dayExpr: String): String =
    s"""WITH d AS (SELECT event_type, $dayExpr AS day, COUNT(*) AS v
       |           FROM events GROUP BY 1, 2),
       |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |              CAST(SUM(v) AS BIGINT) AS s,
       |              CAST(SUM(v * v) AS BIGINT) AS q
       |       FROM d GROUP BY event_type),
       |f AS (SELECT d.event_type, d.day,
       |             d.v * st.n - st.s AS dev,
       |             st.n * st.q - st.s * st.s AS nvar
       |      FROM d JOIN st ON st.event_type = d.event_type),
       |g AS (SELECT event_type, day,
       |             CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END AS side,
       |             CASE WHEN dev * dev > 9 * nvar THEN 1 ELSE 0 END AS r1,
       |             CASE WHEN dev * dev > 4 * nvar AND dev > 0 THEN 1 ELSE 0 END AS hi2,
       |             CASE WHEN dev * dev > 4 * nvar AND dev < 0 THEN 1 ELSE 0 END AS lo2
       |      FROM f),
       |w AS (SELECT event_type, day, r1,
       |             SUM(hi2) OVER (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS hi3,
       |             SUM(lo2) OVER (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lo3,
       |             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS c3,
       |             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
       |               OVER (PARTITION BY event_type ORDER BY day
       |                 ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS pos9,
       |             SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END)
       |               OVER (PARTITION BY event_type ORDER BY day
       |                 ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS neg9,
       |             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS c9
       |      FROM g)
       |SELECT event_type,
       |       CAST(COUNT(*) AS BIGINT) AS n_days,
       |       CAST(SUM(r1) AS BIGINT) AS n_rule1,
       |       CAST(SUM(CASE WHEN c3 = 3 AND (hi3 >= 2 OR lo3 >= 2)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_rule2,
       |       CAST(SUM(CASE WHEN c9 = 9 AND (pos9 = 9 OR neg9 = 9)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_rule4
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Moran's I spatial autocorrelation — "do high-density cells sit
    * next to high-density cells?" over the occupied cells of the
    * centi-degree grid (rook adjacency). Multiplying deviations through
    * by N keeps every term exact: d_i = N·x_i − S is an integer, so
    * I = (N/W) · Σ_pairs d_a·d_b / Σ d_i² needs exactly two IEEE
    * divisions and one multiply over DECIMAL(38,0)-exact sums (d² sums
    * pass 9.2e18 at large SF — int64 is not enough, the HUGEINT-edge
    * discipline). Cell ids use the exact floor-division rewrite
    * (a − ((a%100+100)%100)) ÷ 100 — numerator exactly divisible, so
    * truncating ÷ equals floor in BOTH engines (Spark DIV truncates,
    * DuckDB // floors — they disagree on negative operands otherwise).
    * Adjacency is a pure equi-join on shifted cell keys (4 exploded
    * offsets), never a theta join.
    */
  private def moransISql(latExpr: String, lonExpr: String,
                         div: String): String = {
    def fd(c: String) = s"(($c) - ((($c) % 100 + 100) % 100)) $div 100"
    s"""WITH pts AS (SELECT ${fd(latExpr)} AS cy, ${fd(lonExpr)} AS cx
       |             FROM customer),
       |cells AS (SELECT cy, cx, CAST(COUNT(*) AS BIGINT) AS x
       |          FROM pts GROUP BY cy, cx),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(x) AS BIGINT) AS s
       |        FROM cells),
       |dev AS (SELECT cy, cx, CAST(t.n * c.x - t.s AS BIGINT) AS d
       |        FROM cells c CROSS JOIN tot t),
       |offs(dy, dx) AS (VALUES (0, 1), (0, -1), (1, 0), (-1, 0)),
       |nbr AS (SELECT a.cy + o.dy AS cy, a.cx + o.dx AS cx, a.d AS da
       |        FROM dev a CROSS JOIN offs o),
       |pairs AS (SELECT n.da, b.d AS db
       |          FROM nbr n JOIN dev b ON b.cy = n.cy AND b.cx = n.cx),
       |agg AS (SELECT
       |          (SELECT n FROM tot) AS n,
       |          (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS w,
       |          (SELECT CAST(SUM(CAST(da AS DECIMAL(38,0))
       |                           * CAST(db AS DECIMAL(38,0))) AS DECIMAL(38,0))
       |           FROM pairs) AS num,
       |          (SELECT CAST(SUM(CAST(d AS DECIMAL(38,0))
       |                           * CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0))
       |           FROM dev) AS den)
       |SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
       |       CAST(ROUND((CAST(n AS DOUBLE) / CAST(w AS DOUBLE))
       |            * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
       |            AS DOUBLE) AS morans_i
       |FROM agg WHERE w > 0 AND den > 0""".stripMargin
  }

  /** Quantized periodogram — dominant-cycle detection over the daily
    * count series (the "is this metric weekly?" spectral audit): DFT
    * power at fixed candidate periods p ∈ {2,3,5,7,14}. The basis
    * cos/sin(2π·(day mod p)/p) enters as DRIVER-computed integer
    * literals scaled by 10⁶ (libm never runs in-plan — the qc_benford
    * discipline — and integer quantization makes every correlation an
    * EXACT int64 sum, order-independent, so no collected-list fold is
    * needed at all); powers compare as exact DECIMAL(38,0) squares and
    * the dominant period is a row_number pick. Corpus-scale work is the
    * one daily aggregate; everything after runs on the bounded
    * (day × 5 periods) table.
    */
  private def periodogramSql(dayExpr: String): String = {
    val periods = Seq(2, 3, 5, 7, 14)
    val basis = periods.flatMap { p =>
      (0 until p).map { ph =>
        val cq = math.round(math.cos(2 * math.Pi * ph / p) * 1000000).toInt
        val sq = math.round(math.sin(2 * math.Pi * ph / p) * 1000000).toInt
        s"($p, $ph, $cq, $sq)"
      }
    }.mkString(", ")
    s"""WITH d AS (SELECT event_type, $dayExpr AS day, COUNT(*) AS v
       |           FROM events GROUP BY 1, 2),
       |basis(period, phase, c_q, s_q) AS (VALUES $basis),
       |dp AS (SELECT d.event_type, d.v, p.period, d.day % p.period AS phase
       |       FROM d CROSS JOIN (VALUES (2), (3), (5), (7), (14)) AS p(period)),
       |corr AS (SELECT dp.event_type, dp.period,
       |                CAST(SUM(dp.v * b.c_q) AS BIGINT) AS sc_q,
       |                CAST(SUM(dp.v * b.s_q) AS BIGINT) AS ss_q
       |         FROM dp JOIN basis b
       |           ON b.period = dp.period AND b.phase = dp.phase
       |         GROUP BY dp.event_type, dp.period),
       |ranked AS (SELECT event_type, period, sc_q, ss_q,
       |                  row_number() OVER (PARTITION BY event_type
       |                    ORDER BY CAST(sc_q AS DECIMAL(38,0)) * CAST(sc_q AS DECIMAL(38,0))
       |                           + CAST(ss_q AS DECIMAL(38,0)) * CAST(ss_q AS DECIMAL(38,0)) DESC,
       |                      period) AS rk
       |           FROM corr)
       |SELECT event_type, CAST(period AS INT) AS period, sc_q, ss_q,
       |       rk = 1 AS is_dominant
       |FROM ranked ORDER BY event_type, period""".stripMargin
  }

  /** Interrupted time series (segmented regression) — the causal readout
    * for "did the launch change the level or the trend": exact per-
    * segment OLS of daily counts on the day index around a data-derived
    * midpoint cutoff, level change evaluated AT the cutoff. Integer
    * sufficient statistics (BIGINT-cast immediately so DuckDB's HUGEINT
    * never escapes); slopes/intercepts/level change are fixed IEEE
    * trees over them. Corpus-scale work is the one daily aggregate; the
    * regression runs on the bounded day table.
    */
  private def interventionSql(dayExpr: String, div: String): String =
    s"""WITH d AS (SELECT event_type, $dayExpr AS day, COUNT(*) AS v
       |           FROM events GROUP BY 1, 2),
       |c AS (SELECT event_type, (MIN(day) + MAX(day) + 1) $div 2 AS cut
       |      FROM d GROUP BY event_type),
       |j AS (SELECT d.event_type, d.day, d.v, c.cut
       |      FROM d JOIN c ON c.event_type = d.event_type),
       |s AS (SELECT event_type, cut,
       |        CAST(SUM(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |        CAST(SUM(CASE WHEN day < cut THEN day ELSE 0 END) AS BIGINT) AS sx1,
       |        CAST(SUM(CASE WHEN day < cut THEN v ELSE 0 END) AS BIGINT) AS sy1,
       |        CAST(SUM(CASE WHEN day < cut THEN day * day ELSE 0 END) AS BIGINT) AS sxx1,
       |        CAST(SUM(CASE WHEN day < cut THEN day * v ELSE 0 END) AS BIGINT) AS sxy1,
       |        CAST(SUM(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |        CAST(SUM(CASE WHEN day >= cut THEN day ELSE 0 END) AS BIGINT) AS sx2,
       |        CAST(SUM(CASE WHEN day >= cut THEN v ELSE 0 END) AS BIGINT) AS sy2,
       |        CAST(SUM(CASE WHEN day >= cut THEN day * day ELSE 0 END) AS BIGINT) AS sxx2,
       |        CAST(SUM(CASE WHEN day >= cut THEN day * v ELSE 0 END) AS BIGINT) AS sxy2
       |      FROM j GROUP BY event_type, cut),
       |f AS (SELECT event_type, cut, n1, n2, sx1, sy1, sx2, sy2,
       |        CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
       |          / CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE) AS b1,
       |        CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
       |          / CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE) AS b2
       |      FROM s WHERE n1 >= 2 AND n2 >= 2),
       |g AS (SELECT event_type, cut, n1, n2, b1, b2,
       |        (CAST(sy1 AS DOUBLE) - b1 * CAST(sx1 AS DOUBLE))
       |          / CAST(n1 AS DOUBLE) AS a1,
       |        (CAST(sy2 AS DOUBLE) - b2 * CAST(sx2 AS DOUBLE))
       |          / CAST(n2 AS DOUBLE) AS a2
       |      FROM f)
       |SELECT event_type, CAST(cut AS BIGINT) AS cut_day,
       |       CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
       |       CAST(ROUND(b1, 6) AS DOUBLE) AS slope_pre,
       |       CAST(ROUND(b2, 6) AS DOUBLE) AS slope_post,
       |       CAST(ROUND((a2 + b2 * CAST(cut AS DOUBLE))
       |            - (a1 + b1 * CAST(cut AS DOUBLE)), 6) AS DOUBLE) AS level_change,
       |       CAST(ROUND(b2 - b1, 6) AS DOUBLE) AS slope_change
       |FROM g ORDER BY event_type""".stripMargin

  private def mannKendallSql(dayExpr: String): String =
    s"""WITH d AS (SELECT event_type, $dayExpr AS day, COUNT(*) AS v
       |           FROM events GROUP BY 1, 2),
       |s AS (SELECT a.event_type,
       |             SUM(CASE WHEN b.v > a.v THEN 1
       |                      WHEN b.v < a.v THEN -1 ELSE 0 END) AS s_stat
       |      FROM d a JOIN d b
       |        ON a.event_type = b.event_type AND a.day < b.day
       |      GROUP BY a.event_type),
       |n AS (SELECT event_type, COUNT(*) AS n_days FROM d
       |      GROUP BY event_type),
       |t AS (SELECT event_type,
       |             SUM(t_cnt * (t_cnt - 1) * (2 * t_cnt + 5)) AS tie_corr
       |      FROM (SELECT event_type, v, COUNT(*) AS t_cnt FROM d
       |            GROUP BY event_type, v)
       |      GROUP BY event_type),
       |v AS (SELECT n.event_type, n.n_days, s.s_stat,
       |             n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
       |               - t.tie_corr AS var18
       |      FROM n JOIN s ON s.event_type = n.event_type
       |           JOIN t ON t.event_type = n.event_type)
       |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       |       CAST(s_stat AS BIGINT) AS s_stat,
       |       CAST(var18 AS BIGINT) AS var18,
       |       CAST(ROUND(CASE
       |         WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
       |           / SQRT(CAST(var18 AS DOUBLE) / 18.0)
       |         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
       |           / SQRT(CAST(var18 AS DOUBLE) / 18.0)
       |         ELSE CAST(0.0 AS DOUBLE) END, 6) AS DOUBLE) AS z_mk
       |FROM v ORDER BY event_type""".stripMargin

  /** agg_quantile_sketch's oracle, shared with Io's ts_stream_quantile:
    * the identical integer bin/cumulative/interpolation algebra, DuckDB's
    * // division (int128 intermediates cast at the edge).
    */
  private[queries] val quantileSketchOracle = """
      WITH c AS (SELECT o_orderstatus AS g,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
                 FROM orders),
      b AS (SELECT g, v // 1000000 AS bin, COUNT(*) AS n
            FROM c GROUP BY g, v // 1000000),
      cum AS (SELECT g, bin, n,
                     SUM(n) OVER (PARTITION BY g ORDER BY bin) AS cum,
                     SUM(n) OVER (PARTITION BY g) AS total
              FROM b),
      q AS (SELECT 50 AS pct UNION ALL SELECT 90 UNION ALL SELECT 99),
      tgt AS (SELECT g, pct, bin, n, cum,
                     (pct * total + 99) // 100 AS k
              FROM cum CROSS JOIN q),
      hit AS (SELECT g, pct, MIN(bin) AS hbin
              FROM tgt WHERE cum >= k GROUP BY g, pct)
      SELECT t.g AS o_orderstatus, CAST(t.pct AS INT) AS pct,
             CAST(t.bin * 1000000
                  + ((t.k - (t.cum - t.n)) * 1000000) // t.n AS BIGINT) AS est_cents
      FROM tgt t JOIN hit h ON t.g = h.g AND t.pct = h.pct AND t.bin = h.hbin
      ORDER BY o_orderstatus, pct"""

  val entries: Seq[Entry] = Seq(
    Entry.sql("agg_hll_error_sweep", hllSweepSql(spark = true),
      // the identical sweep through DuckDB's hash/shift idioms — the
      // generator emits both dialects from one block structure
      hllSweepSql(spark = false)),

    // data-freshness audit: per-stream lag behind the newest event in
    // the table (never wall-clock "now" — nondeterministic); the ops
    // check a late-landing upstream trips. One scan, two aggs
    Entry.sql("qc_freshness", """
        WITH m AS (SELECT event_type, MAX(ts) AS mx, COUNT(*) AS n
                   FROM events GROUP BY event_type),
        g AS (SELECT MAX(mx) AS gmx FROM m)
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               CAST(unix_micros(mx) AS BIGINT) AS max_ts_us,
               CAST((unix_micros(gmx) - unix_micros(mx)) DIV 3600000000 AS BIGINT) AS lag_hours,
               (unix_micros(gmx) - unix_micros(mx)) > 86400000000 AS stale_24h
        FROM m CROSS JOIN g ORDER BY event_type""",
      // micros arithmetic on ns-truncated timestamps (the Tables.load
      // normalization: DuckDB reads raw TIMESTAMP_NS, truncate to micros)
      """
      WITH m AS (SELECT event_type,
                        MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS mxus,
                        COUNT(*) AS n
                 FROM events GROUP BY event_type),
      g AS (SELECT MAX(mxus) AS gmx FROM m)
      SELECT event_type, CAST(n AS BIGINT) AS n_events,
             CAST(mxus AS BIGINT) AS max_ts_us,
             CAST((gmx - mxus) // 3600000000 AS BIGINT) AS lag_hours,
             (gmx - mxus) > 86400000000 AS stale_24h
      FROM m CROSS JOIN g ORDER BY event_type"""),

    // Mann-Kendall trend monitor (see mannKendallSql)
    Entry.sql("ts_mann_kendall", mannKendallSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)"),
      // identical integer S / tie-corrected variance, DuckDB day idiom
      mannKendallSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)")),

    // interrupted-time-series segmented regression (see interventionSql)
    Entry.sql("ts_intervention", interventionSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)",
        "DIV"),
      // identical segmented regression, DuckDB day/idiv idioms
      interventionSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)",
      "//")),

    // Western Electric SPC run rules on the daily series (see spcRulesSql)
    Entry.sql("ts_spc_rules", spcRulesSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)"),
      // identical integer run-rule arithmetic, DuckDB day idiom
      spcRulesSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)")),

    // Moran's I spatial autocorrelation on the occupied centi-degree
    // cells (see moransISql)
    Entry.sql("agg_morans_i", moransISql(
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 18000 - 9000",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10) AS BIGINT) % 36000 - 18000",
        "DIV"),
      // identical grid/deviation/adjacency arithmetic, DuckDB idioms
      moransISql(
      "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 18000 - 9000",
      "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT % 36000 - 18000",
      "//")),

    // quantized periodogram / dominant-cycle audit (see periodogramSql)
    Entry.sql("ts_periodogram", periodogramSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)"),
      // identical quantized-basis correlations, DuckDB day idiom
      periodogramSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)")),

    // split-conformal interval + held-out coverage (see conformalSql)
    Entry.sql("agg_conformal", conformalSql(
        "CAST(conv(substr(md5(concat('conf:', CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100",
        "DIV"),
      // same closed-form rank, DuckDB md5/int and // idioms
      conformalSql(
      "CAST(('0x' || substr(md5('conf:' || o_orderkey), 1, 15))::BIGINT % 100 AS BIGINT)",
      "//")),

    // Bradley–Terry preference ranking (operators/Ranking.scala): the
    // reward-modeling fit over pairwise "A beat B" counts — matches are
    // consecutive same-user events (one window pass), winner = larger
    // value; 3 MM rounds on the metadata-scale type×type count matrix
    Entry("agg_bradley_terry", (s, _) => {
      val m = s.sql("""
        WITH e AS (SELECT event_type, value,
                          lag(event_type) OVER w AS pt,
                          lag(value) OVER w AS pv
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS winner,
               CASE WHEN value > pv THEN pt ELSE event_type END AS loser,
               COUNT(*) AS n
        FROM e
        WHERE pt IS NOT NULL AND pt <> event_type
          AND value IS NOT NULL AND pv IS NOT NULL AND value <> pv
        GROUP BY 1, 2""")
      graft.operators.Ranking.bradleyTerry(m)
        .selectExpr("player", "CAST(wins AS BIGINT) AS wins",
          "CAST(n_matches AS BIGINT) AS n_matches", "rating")
        .orderBy("player")
    },
      // the same match construction, then the 3 MM rounds chained as CTEs
      // with opponent-ordered denominator folds
      """
      WITH e AS (SELECT event_type, value,
                        lag(event_type) OVER w AS pt,
                        lag(value) OVER w AS pv
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      m AS (SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS winner,
                   CASE WHEN value > pv THEN pt ELSE event_type END AS loser,
                   COUNT(*) AS n
            FROM e
            WHERE pt IS NOT NULL AND pt <> event_type
              AND value IS NOT NULL AND pv IS NOT NULL AND value <> pv
            GROUP BY 1, 2),
      sym AS (SELECT i, j, SUM(n) AS nij
              FROM (SELECT winner AS i, loser AS j, n FROM m
                    UNION ALL SELECT loser, winner, n FROM m)
              GROUP BY i, j),
      wins AS (SELECT winner AS i, SUM(n) AS w FROM m GROUP BY 1),
      p0 AS (SELECT s.i, COALESCE(w.w, 0) AS w, CAST(1.0 AS DOUBLE) AS p
             FROM (SELECT DISTINCT i FROM sym) s LEFT JOIN wins w USING (i)),
      d1 AS (SELECT s.i,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(CAST(s.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY s.j)),
                      (a, v) -> a + v) AS den
             FROM sym s JOIN p0 pi ON pi.i = s.i JOIN p0 pj ON pj.i = s.j
             GROUP BY s.i),
      p1 AS (SELECT p0.i, p0.w, CAST(p0.w AS DOUBLE) / d1.den AS p
             FROM p0 JOIN d1 ON d1.i = p0.i),
      d2 AS (SELECT s.i,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(CAST(s.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY s.j)),
                      (a, v) -> a + v) AS den
             FROM sym s JOIN p1 pi ON pi.i = s.i JOIN p1 pj ON pj.i = s.j
             GROUP BY s.i),
      p2 AS (SELECT p1.i, p1.w, CAST(p1.w AS DOUBLE) / d2.den AS p
             FROM p1 JOIN d2 ON d2.i = p1.i),
      d3 AS (SELECT s.i,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(CAST(s.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY s.j)),
                      (a, v) -> a + v) AS den
             FROM sym s JOIN p2 pi ON pi.i = s.i JOIN p2 pj ON pj.i = s.j
             GROUP BY s.i),
      p3 AS (SELECT p2.i, p2.w, CAST(p2.w AS DOUBLE) / d3.den AS p
             FROM p2 JOIN d3 ON d3.i = p2.i),
      tot AS (SELECT i, SUM(nij) AS n_matches FROM sym GROUP BY i)
      SELECT p3.i AS player, CAST(p3.w AS BIGINT) AS wins,
             CAST(t.n_matches AS BIGINT) AS n_matches,
             CAST(ROUND(p3.p, 6) AS DOUBLE) AS rating
      FROM p3 JOIN tot t ON t.i = p3.i
      ORDER BY player"""),

    // raking / iterative proportional fitting — 3 alternating
    // row/column scalings toward uniform integer-DIV margin targets;
    // one corpus scan builds the cell table, the iterations run
    // checkpoint-linear on metadata-scale cells (operators/Causal.rake)
    Entry("agg_raking", (s, _) => {
      val cells = s.sql("""
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS w
        FROM orders GROUP BY 1, 2""")
      // uniform targets from the exact integer total — a 1-row
      // metadata collect (the mmr/BPE model-sized-collect class)
      val total = cells.selectExpr("SUM(n)").collect()(0).getLong(0)
      graft.operators.Causal.rake(cells,
          targetRow = (total / 5).toDouble, targetCol = (total / 3).toDouble)
        .orderBy("pri", "st")
    },
      // the identical chained scaling rounds, DuckDB fold idioms
      rakingOracleSql),
    Entry("cdc_apply", (s, _) => {
      val changes = s.sql(ChangelogSql)
      Cdc.applyChangelog(changes, "k", "seq", "op")
        .selectExpr("k", "seq", "op", "CAST(total AS DOUBLE) AS total")
        .orderBy("k")
    },
      // independent recomputation: window row_number picks the latest
      // change where the operator uses max-agg + join-back
      s"""
      WITH ch AS ($ChangelogSql),
      last AS (SELECT k, seq, op, total,
                 row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
               FROM ch)
      SELECT k, seq, op, CAST(total AS DOUBLE) AS total
      FROM last WHERE rn = 1 AND op <> 'D'
      ORDER BY k"""),

    // SCD Type-2 history: every surviving change with its validity
    // interval; tombstones emit nothing but close the prior version
    Entry("cdc_scd2", (s, _) => {
      Cdc.scd2History(s.sql(ChangelogSql), "k", "seq", "op")
        .selectExpr("k", "valid_from", "valid_to", "op",
          "CAST(total AS DOUBLE) AS total", "is_current")
        .orderBy("k", "valid_from")
    },
      // independent recomputation: the closing seq via a correlated
      // min-over-later-changes subquery where the operator uses lead()
      s"""
      WITH ch AS ($ChangelogSql)
      SELECT k, seq AS valid_from,
             (SELECT min(c2.seq) FROM ch c2
              WHERE c2.k = ch.k AND c2.seq > ch.seq) AS valid_to,
             op, CAST(total AS DOUBLE) AS total,
             (SELECT min(c2.seq) FROM ch c2
              WHERE c2.k = ch.k AND c2.seq > ch.seq) IS NULL AS is_current
      FROM ch WHERE op <> 'D'
      ORDER BY k, valid_from"""),

    // POINT-IN-TIME join against the SCD2 history — the query the
    // history table exists for: which version of each key was active at
    // each probe time (NULL = key not yet inserted or deleted then).
    // Equi-join on the key with the interval residual: per-key version
    // lists are changelog-depth-bounded, so no range blow-up
    Entry("cdc_scd2_pit", (s, _) => {
      import s.implicits._
      val ch = s.sql(ChangelogSql)
      val hist = Cdc.scd2History(ch, "k", "seq", "op")
      val probes = ch.select("k").distinct()
        .crossJoin(broadcast(Seq(1000L, 5000L, 20000L, 50000L).toDF("t")))
      probes.join(hist,
          probes("k") === hist("k") && probes("t") >= hist("valid_from") &&
            (hist("valid_to").isNull || probes("t") < hist("valid_to")),
          "left")
        .select(probes("k"), col("t"), col("valid_from"),
          expr("CAST(total AS DOUBLE)").as("total"))
        .orderBy("k", "t")
    },
      // intervals rebuilt via the correlated-min formulation, probed at
      // the same four literal times
      s"""
      WITH ch AS ($ChangelogSql),
      hist AS (SELECT k, seq AS valid_from,
                 (SELECT min(c2.seq) FROM ch c2
                  WHERE c2.k = ch.k AND c2.seq > ch.seq) AS valid_to,
                 total
               FROM ch WHERE op <> 'D'),
      ks AS (SELECT DISTINCT k FROM ch),
      ts(t) AS (VALUES (CAST(1000 AS BIGINT)), (5000), (20000), (50000)),
      p AS (SELECT k, t FROM ks, ts)
      SELECT p.k, p.t, h.valid_from, CAST(h.total AS DOUBLE) AS total
      FROM p LEFT JOIN hist h
        ON h.k = p.k AND p.t >= h.valid_from
        AND (h.valid_to IS NULL OR p.t < h.valid_to)
      ORDER BY p.k, p.t"""),

    // INCREMENTAL SCD2 (r10 verdict #5): the changelog lands in three
    // deliberately INTERLEAVED batches (seq % 3 — every batch carries
    // out-of-order history for most keys) and each merges into the prior
    // state via scd2Incremental: only batch keys' interval chains are
    // rebuilt, closed versions of untouched keys pass through — the only
    // affordable daily refresh of a 100 TB dimension. The oracle
    // recomputes the history from the FULL changelog, so green IS the
    // any-batch-split convergence identity (OpsSpec pins it for random
    // splits including tombstone-adjacent ones)
    Entry("cdc_scd2_incremental", (s, _) => {
      val ch = s.sql(ChangelogSql)
      val batches = (0 to 2).map(i => ch.where(col("seq") % 3 === i))
      val init = Cdc.scd2State(batches(0), "k", "seq", "op")
      val fin = batches.drop(1).foldLeft(init)(
        (st, b) => Cdc.scd2Incremental(st, b, "k", "seq", "op"))
      fin.where(col("op") =!= lit("D"))
        .selectExpr("k", "valid_from", "valid_to", "op",
          "CAST(total AS DOUBLE) AS total", "is_current")
        .orderBy("k", "valid_from")
    },
      // FULL-changelog recompute — the incremental fold must converge to
      // exactly this, whatever the batch split
      s"""
      WITH ch AS ($ChangelogSql)
      SELECT k, seq AS valid_from,
             (SELECT min(c2.seq) FROM ch c2
              WHERE c2.k = ch.k AND c2.seq > ch.seq) AS valid_to,
             op, CAST(total AS DOUBLE) AS total,
             (SELECT min(c2.seq) FROM ch c2
              WHERE c2.k = ch.k AND c2.seq > ch.seq) IS NULL AS is_current
      FROM ch WHERE op <> 'D'
      ORDER BY k, valid_from"""),

    // materialized-view refresh: yesterday's aggregate + today's signed
    // delta batch (inserts/updates/deletes over disjoint key classes)
    // merged WITHOUT rescanning the base; the oracle recomputes the view
    // from the full final table — green is the monoid-merge identity
    Entry("cdc_incremental_agg", (s, _) => {
      val orders = s.table("orders")
      val base = orders.where("o_orderkey % 5 <> 0")
      val state = base.groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(o_totalprice AS DECIMAL(12,2))")).as("total"))
      val inserts = orders.where("o_orderkey % 5 = 0")
        .selectExpr("o_custkey AS k", "CAST(1 AS BIGINT) AS d_cnt",
          "CAST(o_totalprice AS DECIMAL(12,2)) AS d_val")
      val updates = base.where("o_orderkey % 7 = 0 AND o_orderkey % 11 <> 3")
        .selectExpr("o_custkey AS k", "CAST(0 AS BIGINT) AS d_cnt",
          "CAST(10.00 AS DECIMAL(12,2)) AS d_val")
      val deletes = base.where("o_orderkey % 11 = 3")
        .selectExpr("o_custkey AS k", "CAST(-1 AS BIGINT) AS d_cnt",
          "CAST(-CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(12,2)) AS d_val")
      Cdc.incrementalAgg(state,
          inserts.unionByName(updates).unionByName(deletes), "k")
        .selectExpr("k", "cnt", "CAST(total AS DOUBLE) AS total")
        .orderBy("k")
    },
      // full recompute of the final table (inserts applied, updates added,
      // deletes removed) — never touches the state/delta decomposition
      """
      WITH fin AS (
        SELECT o_custkey AS k,
               CASE WHEN o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0
                         AND o_orderkey % 11 <> 3
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) + 10.00
                    ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS v
        FROM orders
        WHERE o_orderkey % 5 = 0 OR o_orderkey % 11 <> 3)
      SELECT k, count(*) AS cnt, CAST(SUM(v) AS DOUBLE) AS total
      FROM fin GROUP BY k ORDER BY k"""),

    // delta-join refresh of a materialized enriched view: yesterday's
    // orders⋈customer view plus today's upserts (order inserts %10=3,
    // re-prices %10=4, customer segment moves %7=2) — untouched rows
    // carry through two broadcast anti-joins bit-identically, only
    // touched keys re-join; green against the full-recompute oracle IS
    // the delta-maintenance identity
    Entry("cdc_join_incremental", (s, _) => {
      val orders = s.table("orders")
      val cust = s.table("customer")
      def view(f: DataFrame, dm: DataFrame): DataFrame =
        f.join(dm, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)")
              .as("o_totalprice"),
            col("c_nationkey"), col("c_mktsegment"))
      val view0 = view(orders.where("o_orderkey % 10 <> 3"), cust)
      val fact1 = orders.withColumn("o_totalprice", expr(
        "CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 100.0 ELSE o_totalprice END"))
        .withColumn("o_totalprice",
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)"))
      val dim1 = cust.withColumn("c_mktsegment", expr(
        "CASE WHEN c_custkey % 7 = 2 THEN 'MOVED' ELSE c_mktsegment END"))
      Cdc.incrementalJoin(view0, fact1, dim1,
          factDeltaKeys = orders.where("o_orderkey % 10 IN (3, 4)")
            .select("o_orderkey"),
          dimDeltaKeys = cust.where("c_custkey % 7 = 2").select("c_custkey"),
          factKey = "o_orderkey", fkCol = "o_custkey", dimKey = "c_custkey")
        .orderBy("o_orderkey")
    },
      // the full post-upsert join, recomputed from scratch — never touches
      // the carried/touched decomposition
      """
      WITH fact1 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(CASE WHEN o_orderkey % 10 = 4
                              THEN o_totalprice + 100.0
                              ELSE o_totalprice END AS DECIMAL(12,2))
                    AS DOUBLE) AS o_totalprice
        FROM orders),
      dim1 AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN c_custkey % 7 = 2 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer)
      SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.o_totalprice,
             d.c_nationkey, d.c_mktsegment
      FROM fact1 f JOIN dim1 d ON f.o_custkey = d.c_custkey
      ORDER BY f.o_orderkey"""),

    // ANALYZE-style column profile in ONE scan: counts, nulls, exact NDV
    // and min/max for three columns of mixed type. Multi-column DISTINCT
    // aggregation costs an Expand (stream × #distinct-aggs) — the honest
    // single-pass price, fine for a handful of columns; at 100 TB profile
    // few columns per pass or swap NDV to the sketch family. Numeric
    // bounds emit as DOUBLE, string bounds as strings — never
    // engine-formatted numerics
    Entry("qc_column_profile", (s, _) => {
      val orders = s.table("orders")
      val wide = orders.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_ck"),
        countDistinct(col("o_custkey")).as("nd_ck"),
        min("o_custkey").cast("double").as("mn_ck"),
        max("o_custkey").cast("double").as("mx_ck"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_tp"),
        countDistinct(col("o_totalprice")).as("nd_tp"),
        min("o_totalprice").cast("double").as("mn_tp"),
        max("o_totalprice").cast("double").as("mx_tp"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_os"),
        countDistinct(col("o_orderstatus")).as("nd_os"),
        min("o_orderstatus").cast("string").as("mn_os"),
        max("o_orderstatus").cast("string").as("mx_os"))
      wide.selectExpr(
        """explode(array(
          |  struct('o_custkey' AS col_name, n_rows, nn_ck AS n_null,
          |         nd_ck AS n_distinct, mn_ck AS min_num, mx_ck AS max_num,
          |         CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str),
          |  struct('o_orderstatus' AS col_name, n_rows, nn_os AS n_null,
          |         nd_os AS n_distinct, CAST(NULL AS DOUBLE) AS min_num,
          |         CAST(NULL AS DOUBLE) AS max_num, mn_os AS min_str, mx_os AS max_str),
          |  struct('o_totalprice' AS col_name, n_rows, nn_tp AS n_null,
          |         nd_tp AS n_distinct, mn_tp AS min_num, mx_tp AS max_num,
          |         CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str)
          |)) AS p""".stripMargin)
        .select("p.*")
        .orderBy("col_name")
    },
      // one independent SELECT per column — never the entry's Expand shape
      """
      SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
             count(*) - count(o_custkey) AS n_null,
             count(DISTINCT o_custkey) AS n_distinct,
             CAST(min(o_custkey) AS DOUBLE) AS min_num,
             CAST(max(o_custkey) AS DOUBLE) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM orders
      ORDER BY col_name"""),

    // privacy admission: every (nation, segment) equivalence class sized
    // against the k floor
    Entry("qc_k_anonymity", (s, _) =>
      Constraints.kAnonymity(s.table("customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 40)
        .selectExpr("CAST(c_nationkey AS BIGINT) AS c_nationkey",
          "c_mktsegment", "class_size", "k_ok")
        .orderBy("c_nationkey", "c_mktsegment"),
      """
      SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
             count(*) AS class_size, count(*) >= 40 AS k_ok
      FROM customer GROUP BY 1, 2
      ORDER BY c_nationkey, c_mktsegment"""),

    // l-diversity: the homogeneity-attack gate — every (status, year)
    // class must carry >= 3 distinct order priorities
    Entry("qc_l_diversity", (s, _) =>
      Constraints.lDiversity(
          s.table("orders").withColumn("o_year",
            expr("CAST(year(CAST(o_orderdate AS DATE)) AS INT)")),
          Seq("o_orderstatus", "o_year"), "o_orderpriority", l = 3)
        .orderBy("o_orderstatus", "o_year"),
      """
      SELECT o_orderstatus,
             CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
             count(*) AS class_size,
             count(DISTINCT o_orderpriority) AS n_sensitive,
             count(DISTINCT o_orderpriority) >= 3 AS l_ok
      FROM orders GROUP BY 1, 2
      ORDER BY o_orderstatus, o_year"""),

    // eps-DP release histogram: geometric-mechanism noise, seeded and
    // deterministic (md5-uniform inverse-CDF against driver-computed
    // threshold literals — exp/pow never run in-plan, so the oracle
    // replays the draw bit-identically); true counts never leave the
    // plan, clamp-at-0 is DP-safe post-processing
    Entry("qc_dp_histogram", (s, _) =>
      Constraints.dpNoisyCounts(s.table("documents"),
          Seq("source", "lang"), eps = 0.5, seed = "dp42")
        .select(col("source"), col("lang"), col("noisy_count"), col("noise"))
        .orderBy("source", "lang"),
      // the SAME driver-computed threshold literals (one source of truth:
      // Constraints.dpCumThresholds) replayed through DuckDB's
      // list_filter — the md5-uniform, the comparisons and the clamp are
      // all IEEE-exact, so the noisy counts hash-match
      {
      val cum = Constraints.dpCumThresholds(0.5, 8)
        .map(c => s"CAST($c AS DOUBLE)").mkString("[", ", ", "]")
      s"""
      WITH h AS (SELECT source, lang, count(*) AS cnt
                 FROM documents GROUP BY 1, 2),
      u AS (SELECT source, lang, cnt,
                   ('0x' || substr(md5(concat_ws('|', 'dp42', source, lang)), 1, 15))::BIGINT::DOUBLE
                     / ${1L << 60}.0 AS u
            FROM h),
      n AS (SELECT source, lang, cnt,
                   len(list_filter($cum, c -> u >= c)) - 8 AS noise
            FROM u)
      SELECT source, lang,
             CAST(GREATEST(0, cnt + noise) AS BIGINT) AS noisy_count,
             CAST(noise AS INT) AS noise
      FROM n ORDER BY source, lang"""
    }),

    // Poisson bootstrap (the distributed bootstrap): 16 deterministic
    // Poisson(1) replicas in ONE pass — per-row multiplicities from an
    // md5-uniform inverse-CDF against driver-computed Poisson CDF
    // literals (the qc_dp_histogram mechanism), replica means as order
    // statistics -> a 75% CI of mean order value per status. Classic
    // resampling is unshardable; this is how uncertainty is estimated
    // over data that cannot be collected
    Entry("agg_poisson_bootstrap", (s, _) =>
      Bootstrap.poissonMeanCI(
          s.table("orders").selectExpr("o_orderstatus",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents",
            "o_orderkey"),
          Seq("o_orderstatus"), "cents", "o_orderkey", seed = "boot7")
        .orderBy("o_orderstatus"),
      // the SAME driver-computed Poisson CDF literals (one source of
      // truth: Bootstrap.poissonCumThresholds) replayed through DuckDB —
      // draw, replica sums, sorted means and order-statistic CI all
      // IEEE-exact, so the interval hash-matches
      {
      val cum = Bootstrap.poissonCumThresholds()
        .map(c => s"CAST($c AS DOUBLE)").mkString("[", ", ", "]")
      val (loIdx, hiIdx) = Bootstrap.ciIndices(16)
      s"""
      WITH r AS (SELECT o_orderstatus AS g,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                        o_orderkey AS k
                 FROM orders),
      e AS (SELECT g, v, k, b FROM r, unnest(generate_series(0, 15)) AS t(b)),
      u AS (SELECT g, v, b,
                   ('0x' || substr(md5(concat_ws('|', 'boot7', b, k)), 1, 15))::BIGINT::DOUBLE
                     / ${1L << 60}.0 AS u
            FROM e),
      w AS (SELECT g, v, b, len(list_filter($cum, c -> u >= c)) AS w FROM u),
      rb AS (SELECT g, b, SUM(w) AS nb, SUM(w * v) AS sb FROM w GROUP BY 1, 2),
      mb AS (SELECT g, b,
                    CAST(ROUND(CAST(sb AS DOUBLE) / NULLIF(nb, 0) / 100, 6)
                         AS DOUBLE) AS m
             FROM rb),
      ms AS (SELECT g, list_sort(list(m)) AS ml FROM mb
             WHERE m IS NOT NULL GROUP BY g),
      pt AS (SELECT g, count(*) AS n,
                    CAST(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE)
                               / count(*) / 100, 6) AS DOUBLE) AS mean
             FROM r GROUP BY g)
      SELECT pt.g AS o_orderstatus, pt.n, pt.mean,
             ml[$loIdx] AS ci_lo, ml[$hiIdx] AS ci_hi
      FROM pt JOIN ms ON pt.g = ms.g
      ORDER BY o_orderstatus"""
    }),

    // cross-correlation at hourly lags 0..3 between view and purchase
    // traffic — signal-alignment detection ("purchases trail views by an
    // hour?"): hourly counts are exact integers, the Pearson r comes
    // from the same integer closed form as agg_regression_exact, the
    // lag join is an equi join on shifted hour INDEX (pure int64
    // arithmetic, no interval math) with the 4-row lag table broadcast
    Entry("ts_lag_correlation", (s, _) => {
      val ev = s.table("events")
      val hourly = ev.groupBy(
          expr("CAST(unix_micros(date_trunc('HOUR', ts)) div 3600000000 AS BIGINT)")
            .as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val v = hourly.where("event_type = 'view'")
        .select(col("h"), col("n").as("x"))
      val p = hourly.where("event_type = 'purchase'")
        .select(col("h").as("ph"), col("n").as("y"))
      val lags = s.range(0, 4).select(col("id").as("lag"))
      v.crossJoin(broadcast(lags))
        .join(p, expr("ph = h + lag"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_hours"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"))
        .selectExpr("lag", "n_hours",
          """CAST(ROUND(CAST(n_hours * sxy - sx * sy AS DOUBLE)
            |  / NULLIF(sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE)
            |               * CAST(n_hours * syy - sy * sy AS DOUBLE)), 0.0),
            |  6) AS DOUBLE) AS r""".stripMargin)
        .orderBy("lag")
    },
      // hourly counts + shifted-index join + integer Pearson closed form,
      // recomputed flat
      """
      WITH hc AS (SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                              // 3600000000 AS BIGINT) AS h,
                         event_type, count(*) AS n
                  FROM events GROUP BY 1, 2),
      v AS (SELECT h, n AS x FROM hc WHERE event_type = 'view'),
      p AS (SELECT h, n AS y FROM hc WHERE event_type = 'purchase'),
      l AS (SELECT unnest(generate_series(0, 3)) AS lag),
      j AS (SELECT l.lag, v.x, p.y
            FROM l CROSS JOIN v JOIN p ON p.h = v.h + l.lag),
      s AS (SELECT lag, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM j GROUP BY lag)
      SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
             CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 0.0),
               6) AS DOUBLE) AS r
      FROM s ORDER BY lag"""),

    // blocked record linkage: customers vs a synthesized dirty feed
    // (trailing-char name typos, drifted segments, shifted balances) —
    // candidates from an EQUI-join on (nation, 17-char name prefix),
    // never all-pairs; Fellegi–Sunter-style integer agreement weights
    // (levenshtein<=1 worth 2, segment/balance 1 each), match at >= 3.
    // Near-identical ids in one block produce honest false positives —
    // the oracle replays them identically
    Entry("er_blocked_link", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      Entity.blockedLink(leftDf, rightDf, Seq("c_nationkey", "blk"),
          Seq(("levenshtein(l_name, r_name) <= 1", 2),
            ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
          threshold = 3)
        .selectExpr("l_lid AS left_id", "r_rid AS right_id",
          "CAST(a0 AS INT) AS a0", "CAST(a1 AS INT) AS a1",
          "CAST(a2 AS INT) AS a2", "CAST(score AS INT) AS score")
        .orderBy("left_id", "right_id")
    },
      // the same blocking join + agreement weights replayed flat — both
      // engines share levenshtein; a block-key or threshold drift changes
      // the matched-pair multiset
      """
      WITH l AS (SELECT c_custkey AS lid, c_nationkey,
                        substr(c_name, 1, 17) AS blk, c_name AS lname,
                        c_mktsegment AS lseg,
                        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
                 FROM customer),
      r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
                    CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
                         ELSE c_name END AS rname,
                    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
                         ELSE c_mktsegment END AS rseg,
                    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
             FROM customer WHERE c_custkey % 3 = 0),
      r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
                   rname, rseg, rbal
            FROM r0),
      sc AS (SELECT lid, rid,
                    CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END AS a0,
                    CASE WHEN lseg = rseg THEN 1 ELSE 0 END AS a1,
                    CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS a2
             FROM l JOIN r USING (c_nationkey, blk))
      SELECT lid AS left_id, rid AS right_id,
             CAST(a0 AS INT) AS a0, CAST(a1 AS INT) AS a1,
             CAST(a2 AS INT) AS a2, CAST(a0 + a1 + a2 AS INT) AS score
      FROM sc WHERE a0 + a1 + a2 >= 3
      ORDER BY left_id, right_id"""),

    // INCREMENTAL ingest-time linkage — the arriving dirty-feed batch
    // (every 31st feed row) links against the corpus WITHOUT ever
    // reshuffling it: the batch side carries an explicit broadcast hint,
    // so the corpus streams through a BroadcastHashJoin map-side
    // (plan-gated) — the ER twin of llm_dedup_incremental /
    // cdc_scd2_incremental. Output is the ingest artifact: each arrival's
    // entity assignment (best-scoring corpus match, ties to min lid) +
    // its candidate/match census
    Entry("er_incremental_link", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val batch = cust.where("c_custkey % 3 = 0 AND c_custkey % 31 = 0")
        .selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      val links = Entity.blockedLink(leftDf, broadcast(batch),
        Seq("c_nationkey", "blk"),
        Seq(("levenshtein(l_name, r_name) <= 1", 2),
          ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
        threshold = 3)
      links
        .withColumn("rk", row_number().over(
          Window.partitionBy("r_rid").orderBy(col("score").desc, col("l_lid"))))
        .withColumn("n_matches", count(lit(1)).over(Window.partitionBy("r_rid")))
        .where(col("rk") === 1)
        .selectExpr("r_rid AS right_id", "l_lid AS entity_id",
          "CAST(score AS INT) AS score", "CAST(n_matches AS BIGINT) AS n_matches")
        .orderBy("right_id")
    },
      // same blocked join restricted to the arriving slice; broadcast is
      // output-invisible, so the oracle never mentions it
      """
      WITH l AS (SELECT c_custkey AS lid, c_nationkey,
                        substr(c_name, 1, 17) AS blk, c_name AS lname,
                        c_mktsegment AS lseg,
                        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
                 FROM customer),
      r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
                    CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
                         ELSE c_name END AS rname,
                    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
                         ELSE c_mktsegment END AS rseg,
                    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
             FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 31 = 0),
      r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
                   rname, rseg, rbal
            FROM r0),
      sc AS (SELECT lid, rid,
                    CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END
                      + CASE WHEN lseg = rseg THEN 1 ELSE 0 END
                      + CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS score
             FROM l JOIN r USING (c_nationkey, blk)),
      m AS (SELECT rid, lid, score,
                   row_number() OVER (PARTITION BY rid
                     ORDER BY score DESC, lid) AS rk,
                   COUNT(*) OVER (PARTITION BY rid) AS n_matches
            FROM sc WHERE score >= 3)
      SELECT rid AS right_id, lid AS entity_id,
             CAST(score AS INT) AS score,
             CAST(n_matches AS BIGINT) AS n_matches
      FROM m WHERE rk = 1
      ORDER BY right_id"""),

    // Fellegi–Sunter EM TRAINING over the same blocked candidates
    // (operators/Entity.emWeights — the Splink core): ONE corpus
    // group-by → 2^3-row agreement-pattern histogram, EM driver-side on
    // model-sized state (the lloydLoop discipline); every parameter is
    // a fixed IEEE tree the oracle replays as chained per-iteration
    // CTE folds
    Entry("er_em_weights", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      val cand = Entity.blockedLink(leftDf, rightDf, Seq("c_nationkey", "blk"),
        Seq(("levenshtein(l_name, r_name) <= 1", 1),
          ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)), threshold = 0)
      Entity.emWeights(cand, Seq("a0", "a1", "a2"), iters = 5)
        .selectExpr("CAST(a0 AS INT) AS a0", "CAST(a1 AS INT) AS a1",
          "CAST(a2 AS INT) AS a2", "CAST(n AS BIGINT) AS n",
          "CAST(ROUND(p_match, 6) AS DOUBLE) AS p_match",
          "CAST(ROUND(lambda, 6) AS DOUBLE) AS lam",
          "CAST(ROUND(m1, 6) AS DOUBLE) AS m1",
          "CAST(ROUND(m2, 6) AS DOUBLE) AS m2",
          "CAST(ROUND(m3, 6) AS DOUBLE) AS m3",
          "CAST(ROUND(u1, 6) AS DOUBLE) AS u1",
          "CAST(ROUND(u2, 6) AS DOUBLE) AS u2",
          "CAST(ROUND(u3, 6) AS DOUBLE) AS u3")
        .orderBy("a0", "a1", "a2")
    },
      // same candidates at weight 1 / threshold 0; EM replayed as chained
      // per-iteration CTEs whose folds walk patterns in the identical
      // ascending order and whose products chain factors in field order —
      // bit-identical to the driver loop
      {
      val iters = 5
      def prod(start: String, ps: Seq[String]): String =
        ps.zipWithIndex.foldLeft(s"($start)") { case (acc, (p, j)) =>
          s"($acc * (CASE WHEN x.a$j = 1 THEN $p " +
            s"ELSE CAST(1.0 AS DOUBLE) - $p END))"
        }
      def wExpr(lam: String, ms: Seq[String], us: Seq[String]): String = {
        val pm = prod(lam, ms)
        val pu = prod(s"CAST(1.0 AS DOUBLE) - $lam", us)
        s"$pm / ($pm + $pu)"
      }
      def fold(term: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list_transform(ws, x -> $term)), (a, b) -> a + b)"
      val iterCtes = (1 to iters).map { i =>
        val p = s"it${i - 1}"
        val w = wExpr(s"$p.lam",
          (0 to 2).map(j => s"$p.mj$j"), (0 to 2).map(j => s"$p.uj$j"))
        val gsums = (0 to 2).map { j =>
          s"${fold(s"CASE WHEN x.a$j = 1 THEN CAST(x.n AS DOUBLE) * x.w " +
            s"ELSE CAST(0.0 AS DOUBLE) END")} AS snwg$j,\n" +
            s"${fold(s"CASE WHEN x.a$j = 1 THEN CAST(x.n AS DOUBLE) * " +
              s"(CAST(1.0 AS DOUBLE) - x.w) ELSE CAST(0.0 AS DOUBLE) END")} AS snug$j"
        }.mkString(",\n")
        s"""w$i AS (SELECT list_transform(ps, x -> struct_pack(
           |  a0 := x.a0, a1 := x.a1, a2 := x.a2, n := x.n,
           |  w := $w)) AS ws FROM pl, $p),
           |s$i AS (SELECT
           |  ${fold("CAST(x.n AS DOUBLE) * x.w")} AS snw,
           |  ${fold("CAST(x.n AS DOUBLE) * (CAST(1.0 AS DOUBLE) - x.w)")} AS snu,
           |$gsums
           |  FROM w$i),
           |it$i AS (SELECT snw / CAST((SELECT nt FROM nn) AS DOUBLE) AS lam,
           |  snwg0 / snw AS mj0, snwg1 / snw AS mj1, snwg2 / snw AS mj2,
           |  snug0 / snu AS uj0, snug1 / snu AS uj1, snug2 / snu AS uj2
           |  FROM s$i)""".stripMargin
      }.mkString(",\n")
      val finalW = wExpr("t.lam",
        (0 to 2).map(j => s"t.mj$j"), (0 to 2).map(j => s"t.uj$j"))
      s"""WITH l AS (SELECT c_custkey AS lid, c_nationkey,
         |                  substr(c_name, 1, 17) AS blk, c_name AS lname,
         |                  c_mktsegment AS lseg,
         |                  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
         |           FROM customer),
         |r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
         |              CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
         |                   ELSE c_name END AS rname,
         |              CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
         |                   ELSE c_mktsegment END AS rseg,
         |              CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |                + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
         |       FROM customer WHERE c_custkey % 3 = 0),
         |r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
         |             rname, rseg, rbal
         |      FROM r0),
         |sc AS (SELECT
         |         CASE WHEN levenshtein(lname, rname) <= 1 THEN 1 ELSE 0 END AS a0,
         |         CASE WHEN lseg = rseg THEN 1 ELSE 0 END AS a1,
         |         CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS a2
         |       FROM l JOIN r USING (c_nationkey, blk)),
         |hist AS (SELECT a0, a1, a2, COUNT(*) AS n FROM sc GROUP BY a0, a1, a2),
         |pl AS (SELECT list(struct_pack(a0 := a0, a1 := a1, a2 := a2, n := n)
         |                ORDER BY a0, a1, a2) AS ps FROM hist),
         |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM hist),
         |it0 AS (SELECT CAST(0.25 AS DOUBLE) AS lam,
         |  CAST(0.75 AS DOUBLE) AS mj0, CAST(0.75 AS DOUBLE) AS mj1,
         |  CAST(0.75 AS DOUBLE) AS mj2,
         |  CAST(0.25 AS DOUBLE) AS uj0, CAST(0.25 AS DOUBLE) AS uj1,
         |  CAST(0.25 AS DOUBLE) AS uj2),
         |$iterCtes
         |SELECT CAST(x.a0 AS INT) AS a0, CAST(x.a1 AS INT) AS a1,
         |       CAST(x.a2 AS INT) AS a2, CAST(x.n AS BIGINT) AS n,
         |       CAST(ROUND($finalW, 6) AS DOUBLE) AS p_match,
         |       CAST(ROUND(t.lam, 6) AS DOUBLE) AS lam,
         |       CAST(ROUND(t.mj0, 6) AS DOUBLE) AS m1,
         |       CAST(ROUND(t.mj1, 6) AS DOUBLE) AS m2,
         |       CAST(ROUND(t.mj2, 6) AS DOUBLE) AS m3,
         |       CAST(ROUND(t.uj0, 6) AS DOUBLE) AS u1,
         |       CAST(ROUND(t.uj1, 6) AS DOUBLE) AS u2,
         |       CAST(ROUND(t.uj2, 6) AS DOUBLE) AS u3
         |FROM (SELECT unnest(ps) AS x, lam, mj0, mj1, mj2, uj0, uj1, uj2
         |      FROM pl, it$iters) t
         |ORDER BY a0, a1, a2""".stripMargin
    }),

    // HOT-BLOCK linkage — the operational risk Entity.scala's scaladoc
    // names ("everyone named SMITH"): every 5th customer collapses onto
    // one shared 17-char name prefix, so a single block owns 20% of BOTH
    // sides and the plain equi-join would put that block's |L_b|×|R_b|
    // pair scoring in ONE task. blockedLinkSalted scatters the left side
    // 8 ways (content-hash+partition-id salt) and replicates the right,
    // with row-identical output (EntityLinkSpec proves equivalence;
    // ScaleProbe's er probe measures the max-task win). threshold 4 =
    // all three agreements, so the hot block's n² candidates stay a
    // selective match set — exactly the dirty-feed reconciliation shape
    Entry("er_blocked_link_hot", (s, _) => {
      val cust = s.table("customer")
      val smith = "CASE WHEN c_custkey % 5 = 0 " +
        "THEN concat('Customer#SMITH-SMITH-', c_custkey) ELSE c_name END"
      // the fixture is ONE parquet file = one scan split, so without a
      // spread the hot block's ~3M levenshteins run in a single task
      // (measured 33 s; ~1 s spread 32 ways). At 100 TB the input
      // arrives as thousands of splits and this repartition is free —
      // the per-REDUCER hotspot is what the salt treats, and the probe
      // measures that with broadcast disabled
      val leftDf = cust.selectExpr("c_custkey AS lid",
          s"substr($smith, 1, 17) AS blk", s"$smith AS name",
          "c_mktsegment AS seg",
          "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
        .repartition(32)
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid",
          s"CASE WHEN c_custkey % 2 = 0 THEN concat($smith, 'X') ELSE $smith END AS name",
          "CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "substr(name, 1, 17) AS blk", "name", "seg", "bal")
      Entity.blockedLinkSalted(leftDf, rightDf, Seq("blk"),
          Seq(("levenshtein(l_name, r_name) <= 1", 2),
            ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
          threshold = 4, salts = 8)
        .selectExpr("l_lid AS left_id", "r_rid AS right_id",
          "CAST(a0 AS INT) AS a0", "CAST(a1 AS INT) AS a1",
          "CAST(a2 AS INT) AS a2", "CAST(score AS INT) AS score")
        .orderBy("left_id", "right_id")
    },
      // the salted variant's oracle is the PLAIN blocked join — salting
      // must be output-invisible, so the oracle never mentions it
      """
      WITH sm AS (SELECT c_custkey,
                         CASE WHEN c_custkey % 5 = 0
                              THEN 'Customer#SMITH-SMITH-' || c_custkey
                              ELSE c_name END AS sname,
                         c_mktsegment, c_acctbal
                  FROM customer),
      l AS (SELECT c_custkey AS lid, substr(sname, 1, 17) AS blk,
                   sname AS lname, c_mktsegment AS lseg,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
            FROM sm),
      r0 AS (SELECT c_custkey + 1000000 AS rid,
                    CASE WHEN c_custkey % 2 = 0 THEN sname || 'X'
                         ELSE sname END AS rname,
                    CASE WHEN c_custkey % 11 = 0 THEN 'MOVED'
                         ELSE c_mktsegment END AS rseg,
                    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
             FROM sm WHERE c_custkey % 3 = 0),
      r AS (SELECT rid, substr(rname, 1, 17) AS blk, rname, rseg, rbal
            FROM r0),
      sc AS (SELECT lid, rid,
                    CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END AS a0,
                    CASE WHEN lseg = rseg THEN 1 ELSE 0 END AS a1,
                    CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS a2
             FROM l JOIN r USING (blk))
      SELECT lid AS left_id, rid AS right_id,
             CAST(a0 AS INT) AS a0, CAST(a1 AS INT) AS a1,
             CAST(a2 AS INT) AS a2, CAST(a0 + a1 + a2 AS INT) AS score
      FROM sc WHERE a0 + a1 + a2 >= 4
      ORDER BY left_id, right_id"""),

    // Benford's-law audit of the money column: leading-digit counts vs
    // the log-uniform law (expected fractions are DRIVER-computed log10
    // literals — log never runs in-plan), per-digit χ² contributions as
    // fixed two-operand IEEE trees. One scan, 9-row output
    Entry("qc_benford", (s, _) =>
      Constraints.benford(
          s.table("orders").selectExpr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents"),
          "cents")
        .orderBy("digit"),
      // the SAME driver-computed log10 literals (one source of truth:
      // Constraints.benfordFracs) replayed flat through DuckDB
      {
      val eCase = graft.operators.Constraints.benfordFracs.zipWithIndex
        .map { case (f, i) => s"WHEN ${i + 1} THEN CAST($f AS DOUBLE)" }
        .mkString("CASE digit ", " ", " END")
      s"""
      WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                 FROM orders),
      o AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM c WHERE cents > 0 GROUP BY 1),
      t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM o),
      e AS (SELECT digit, n_obs, n, $eCase AS ef FROM o CROSS JOIN t)
      SELECT digit, n_obs,
             CAST(ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) AS obs_frac,
             CAST(ROUND(ef, 6) AS DOUBLE) AS exp_frac,
             CAST(ROUND((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ef)
                        * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ef)
                        / (CAST(n AS DOUBLE) * ef), 6) AS DOUBLE) AS chi2_term
      FROM e ORDER BY digit"""
    }),

    // MAD anomaly flags over hourly counts — the ROBUST sibling of
    // ts_anomaly_zscore (one huge hour inflates the stddev enough to
    // hide itself; medians don't move). Exactness discipline: DOUBLED
    // values make every interpolated median integer-valued (the median
    // of integers is a half-integer, so med2/dev2/mad2 are exact
    // doubles) and the 3·MAD comparison never meets a rounded number.
    // Two |types|-cardinality aggs + one broadcast-back join — no
    // per-event window, no sort
    Entry.sql("ts_anomaly_mad", """
        WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                          COUNT(*) AS cnt
                   FROM events GROUP BY event_type, date_trunc('hour', ts)),
        med AS (SELECT event_type, percentile(2 * cnt, 0.5) AS med2
                FROM h GROUP BY event_type),
        dev AS (SELECT h.event_type, h.hr, h.cnt,
                       abs(2 * h.cnt - m.med2) AS dev2
                FROM h JOIN med m ON h.event_type = m.event_type),
        mad AS (SELECT event_type, percentile(dev2, 0.5) AS mad2
                FROM dev GROUP BY event_type)
        SELECT d.event_type, d.hr, d.cnt,
               CAST(d.dev2 > 3 * m.mad2 AS BOOLEAN) AS is_anomaly
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        ORDER BY d.event_type, d.hr""",
      // quantile_cont == Spark's percentile (both linearly interpolate the
      // sorted multiset; doubled integers make the result exact either way)
      """
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                        COUNT(*) AS cnt
                 FROM events GROUP BY event_type, date_trunc('hour', ts)),
      med AS (SELECT event_type, quantile_cont(2 * cnt, 0.5) AS med2
              FROM h GROUP BY event_type),
      dev AS (SELECT h.event_type, h.hr, h.cnt,
                     abs(2 * h.cnt - m.med2) AS dev2
              FROM h JOIN med m ON h.event_type = m.event_type),
      mad AS (SELECT event_type, quantile_cont(dev2, 0.5) AS mad2
              FROM dev GROUP BY event_type)
      SELECT d.event_type, d.hr, d.cnt,
             CAST(d.dev2 > 3 * m.mad2 AS BOOLEAN) AS is_anomaly
      FROM dev d JOIN mad m ON d.event_type = m.event_type
      ORDER BY d.event_type, d.hr"""),

    // calendar GAP FILL with linear interpolation — the missing-day
    // repair every daily-metric pipeline runs before modeling: per-series
    // day spine (endpoints are known days by construction), carry
    // prev/next known (value, day) via IGNORE-NULLS edge windows (the
    // ts_attribution primitive, both directions), interpolate in the
    // WEIGHTED-AVERAGE form (pv·(dn−dd) + nv·dd) div dn — one integer
    // division on a NONNEGATIVE numerator, so Spark's truncating DIV and
    // DuckDB's flooring // agree by construction. Partitions = series
    // (per-series sequential, the cusum caveat); spine rows ∝ days, not
    // events
    Entry.sql("ts_gap_fill_interp", """
        WITH daily AS (SELECT event_type,
                              CAST(date_trunc('day', ts) AS DATE) AS day,
                              CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                                   AS BIGINT) AS v
                       FROM events
                       WHERE event_id % 97 = 0
                       GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)),
        bounds AS (SELECT event_type, min(day) AS lo, max(day) AS hi
                   FROM daily GROUP BY event_type),
        spine AS (SELECT event_type,
                         explode(sequence(lo, hi, interval 1 day)) AS day
                  FROM bounds),
        j AS (SELECT s.event_type, s.day, d.v
              FROM spine s LEFT JOIN daily d
                ON s.event_type = d.event_type AND s.day = d.day),
        f AS (SELECT event_type, day, v,
                     last_value(v, true) OVER w AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN day END, true)
                       OVER w AS pd,
                     first_value(v, true) OVER w2 AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN day END, true)
                       OVER w2 AS nd
              FROM j
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     w2 AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, day,
               CAST(CASE WHEN v IS NOT NULL THEN v
                         ELSE (pv * (datediff(nd, pd) - datediff(day, pd))
                               + nv * datediff(day, pd)) DIV datediff(nd, pd)
                    END AS BIGINT) AS v_filled,
               CAST(v IS NULL AS BOOLEAN) AS filled
        FROM f ORDER BY event_type, day""",
      // the same weighted-average integer interpolation (nonnegative
      // numerator, so // == DIV); DuckDB date subtraction is already int
      // days, generate_series spans the same inclusive spine
      """
      WITH daily AS (SELECT event_type,
                            CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                            CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                                 AS BIGINT) AS v
                     FROM events
                     WHERE event_id % 97 = 0
                     GROUP BY 1, 2),
      bounds AS (SELECT event_type, min(day) AS lo, max(day) AS hi
                 FROM daily GROUP BY event_type),
      spine AS (SELECT event_type,
                       CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                                   CAST(hi AS TIMESTAMP),
                                                   INTERVAL 1 DAY)) AS DATE) AS day
                FROM bounds),
      j AS (SELECT s.event_type, s.day, d.v
            FROM spine s LEFT JOIN daily d
              ON s.event_type = d.event_type AND s.day = d.day),
      f AS (SELECT event_type, day, v,
                   last_value(v IGNORE NULLS) OVER w AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                     OVER w AS pd,
                   first_value(v IGNORE NULLS) OVER w2 AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                     OVER w2 AS nd
            FROM j
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w2 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_type, day,
             CAST(CASE WHEN v IS NOT NULL THEN v
                       ELSE (pv * ((nd - pd) - (day - pd))
                             + nv * (day - pd)) // (nd - pd)
                  END AS BIGINT) AS v_filled,
             CAST(v IS NULL AS BOOLEAN) AS filled
      FROM f ORDER BY event_type, day"""),

    // mergeable equi-width HISTOGRAM quantile sketch — the scale answer
    // to exact percentiles (agg_percentile's sort-based exactness is the
    // eval form; a 100 TB profile wants one map-side-combinable pass):
    // bin = v div 10^6 cents, estimate = bin lower edge + integer
    // within-bin interpolation. EVERYTHING stays integer — the estimate
    // is exact arithmetic on (bin, count) state, no doubles anywhere —
    // and the sketch merges by bin-count addition (associative), so the
    // same state serves partial aggregation, cross-shard union, and
    // incremental refresh
    Entry.sql("agg_quantile_sketch", """
        WITH c AS (SELECT o_orderstatus AS g,
                          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
                   FROM orders),
        b AS (SELECT g, v DIV 1000000 AS bin, COUNT(*) AS n
              FROM c GROUP BY g, v DIV 1000000),
        cum AS (SELECT g, bin, n,
                       SUM(n) OVER (PARTITION BY g ORDER BY bin) AS cum,
                       SUM(n) OVER (PARTITION BY g) AS total
                FROM b),
        q AS (SELECT 50 AS pct UNION ALL SELECT 90 UNION ALL SELECT 99),
        tgt AS (SELECT g, pct, bin, n, cum,
                       (pct * total + 99) DIV 100 AS k
                FROM cum CROSS JOIN q),
        hit AS (SELECT g, pct, MIN(bin) AS hbin
                FROM tgt WHERE cum >= k GROUP BY g, pct)
        SELECT t.g AS o_orderstatus, t.pct,
               CAST(t.bin * 1000000
                    + ((t.k - (t.cum - t.n)) * 1000000) DIV t.n AS BIGINT) AS est_cents
        FROM tgt t JOIN hit h ON t.g = h.g AND t.pct = h.pct AND t.bin = h.hbin
        ORDER BY o_orderstatus, pct""",
      quantileSketchOracle),

    // order-free dataset content fingerprint — the "did ANY row change"
    // audit a 100 TB pipeline runs after every rewrite/compaction/
    // migration: per-row md5 folded by XOR (60-bit) and by exact DECIMAL
    // sum (48-bit prefixes), both commutative+associative so the
    // aggregate is map-side-combinable, mergeable across shards, and
    // independent of row order/partitioning. One scan; output is
    // |sources| rows. The sum rides DECIMAL(38,0) (2^48·10^12 rows fits)
    // and leaves as its decimal STRING — never through int128/double
    Entry.sql("qc_dataset_fingerprint", """
        WITH r AS (SELECT source,
                          md5(concat_ws('|', doc_id, coalesce(lang, ''),
                                        n_chars, md5(text))) AS h
                   FROM documents),
        f AS (SELECT source,
                     CAST(conv(substr(h, 1, 15), 16, 10) AS BIGINT) AS h60,
                     CAST(conv(substr(h, 1, 12), 16, 10) AS DECIMAL(38,0)) AS h48
              FROM r)
        SELECT source, COUNT(*) AS n_rows,
               bit_xor(h60) AS xor60,
               CAST(SUM(h48) AS STRING) AS sum48
        FROM f GROUP BY source ORDER BY source""",
      // the same commutative folds over the same per-row md5; the 48-bit
      // sum compared as its DECIMAL string (int128 never reaches a column)
      """
      WITH r AS (SELECT source,
                        md5(concat_ws('|', doc_id, coalesce(lang, ''),
                                      n_chars, md5(text))) AS h
                 FROM documents),
      f AS (SELECT source,
                   ('0x' || substr(h, 1, 15))::BIGINT AS h60,
                   CAST(('0x' || substr(h, 1, 12))::BIGINT AS DECIMAL(38,0)) AS h48
            FROM r)
      SELECT source, COUNT(*) AS n_rows,
             bit_xor(h60) AS xor60,
             CAST(SUM(h48) AS VARCHAR) AS sum48
      FROM f GROUP BY source ORDER BY source"""),

    // t-closeness: the skewness-attack gate above k-anonymity and
    // l-diversity — each (status, year) class's priority DISTRIBUTION
    // must sit within total-variation t = 1/30 of the corpus-wide one;
    // exact integer arithmetic end-to-end (the absent-value mass folds
    // in closed form, no class x value cross join), one IEEE division
    // at the output edge
    Entry("qc_t_closeness", (s, _) =>
      Constraints.tCloseness(
          s.table("orders").withColumn("o_year",
            expr("CAST(year(CAST(o_orderdate AS DATE)) AS INT)")),
          Seq("o_orderstatus", "o_year"), "o_orderpriority",
          tNum = 1, tDen = 30)
        .orderBy("o_orderstatus", "o_year"),
      // the same closed-form absent-mass fold, recomputed flat: DuckDB's
      // int128 covers the products the entry carries in DECIMAL
      """
      WITH cls AS (SELECT o_orderstatus,
                          CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
                          o_orderpriority AS v, count(*) AS c_gv
                   FROM orders GROUP BY 1, 2, 3),
      g AS (SELECT o_orderpriority AS v, count(*) AS c_v FROM orders GROUP BY 1),
      tot AS (SELECT SUM(c_v) AS n FROM g),
      j AS (SELECT cls.*, g.c_v, tot.n,
                   SUM(c_gv) OVER (PARTITION BY o_orderstatus, o_year) AS n_g
            FROM cls JOIN g USING (v) CROSS JOIN tot),
      per AS (SELECT o_orderstatus, o_year, max(n_g) AS ng, max(n) AS nn,
                     SUM(abs(c_gv * n - c_v * n_g)) AS present,
                     SUM(c_v) AS cvp
              FROM j GROUP BY 1, 2)
      SELECT o_orderstatus, o_year, CAST(ng AS BIGINT) AS class_size,
             CAST(ROUND(CAST(present + (nn - cvp) * ng AS DOUBLE)
                        / CAST(2 * nn * ng AS DOUBLE), 6) AS DOUBLE) AS tvd,
             (present + (nn - cvp) * ng) * 30 <= (2 * nn * ng) * 1 AS t_ok
      FROM per ORDER BY o_orderstatus, o_year"""),

    // event-sequence pattern mining (MATCH_RECOGNIZE-lite): each user's
    // history collapses to one ordered initial-letter string (c/e/p/s/v
    // are distinct initials by fixture construction), then regex counts
    // surface behavioral motifs — view-to-purchase conversions with only
    // clicks/errors between, and error bursts. The per-user sequence is
    // one partial-aggregated collect over the user shuffle (partition =
    // one user's events, bounded by activity; chunk a celebrity key
    // upstream); the regex is a codegen'd per-row projection. Both
    // engines count non-overlapping leftmost matches.
    Entry("ts_event_pattern", (s, _) =>
      s.table("events")
        .selectExpr("user_id", "ts", "event_id",
          "substring(event_type, 1, 1) AS i")
        .groupBy("user_id")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(ts, event_id, i))), x -> x.i), '')").as("seq"))
        .selectExpr("user_id",
          "CAST(length(seq) AS INT) AS seq_len",
          "CAST(regexp_count(seq, 'v[ce]*p') AS INT) AS n_conversion",
          "CAST(regexp_count(seq, 'ee+') AS INT) AS n_error_burst")
        .orderBy("user_id"),
      """
      WITH seqs AS (SELECT user_id,
                           string_agg(substr(event_type, 1, 1), ''
                             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
                    FROM events GROUP BY user_id)
      SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
             CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS INT) AS n_conversion,
             CAST(len(regexp_extract_all(seq, 'ee+')) AS INT) AS n_error_burst
      FROM seqs ORDER BY user_id"""),

    // LTOB downsampling: per user, the largest-neighbor-triangle point
    // of each of 6 equal-count buckets + both endpoints — the series
    // sketch a dashboard draws from 100 TB of raw points. Neighbor
    // triangles (not LTTB's bucket averages) on purpose: every operand
    // is a fixed three-row window expression, bit-identical across
    // engines; a float average would be aggregation-order-dependent
    Entry("ts_downsample_ltob", (s, _) =>
      Resample.ltob(s.table("events"), "user_id", "ts",
          "event_id", "value", buckets = 6)
        .selectExpr("user_id", "CAST(bucket AS BIGINT) AS bucket",
          "event_id", "unix_micros(ts) AS ts_us", "value", "area")
        .orderBy("user_id", "bucket", "event_id"),
      """
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                        CAST(value AS DOUBLE) AS y,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x
                 FROM events),
      s AS (SELECT *, row_number() OVER w AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   lag(x) OVER w AS px, lag(y) OVER w AS py,
                   lead(x) OVER w AS nx, lead(y) OVER w AS ny
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      a AS (SELECT *, abs((x - px) * (ny - py) - (nx - px) * (y - py)) AS area,
                   ((rn - 1) * 6) // n AS bucket
            FROM s),
      p AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                        ORDER BY area DESC NULLS LAST, rn) AS pick
            FROM a)
      SELECT user_id, CAST(bucket AS BIGINT) AS bucket, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, y AS value, area
      FROM p WHERE pick = 1 OR rn = 1 OR rn = n
      ORDER BY user_id, bucket, event_id"""),

    Entry("cdc_snapshot_diff", (s, _) => {
      val docs = s.table("documents")
      val before = docs.select(col("doc_id"), col("text"))
      // the rebuilt snapshot: %97 keys dropped, %31 docs edited, %53
      // re-landed under a shifted id — same derivation in the oracle
      val after = docs.where(expr("doc_id % 97 <> 0"))
        .select(col("doc_id"),
          when(expr("doc_id % 31 = 1"), concat(col("text"), lit("!")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.where(expr("doc_id % 53 = 2"))
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat(lit("new:"), col("doc_id").cast("string")).as("text")))
      Cdc.snapshotDiff(before, after, "doc_id", Seq("text"))
        .orderBy("doc_id")
    },
      // the oracle compares text directly — no md5 fingerprint anywhere,
      // so a fingerprint-collision bug could not self-confirm
      """
      WITH a AS (SELECT doc_id, text FROM documents),
      b AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 1 THEN text || '!' ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 1000000, 'new:' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id % 53 = 2)
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.text <> b.text THEN 'changed' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text <> b.text
      ORDER BY doc_id"""),

    Entry("agg_order_stat", (s, _) => {
      OrderStats.exactQuantiles(s.table("lineitem"),
          "l_extendedprice", Seq(0.5, 0.9, 0.99), bins = 4096)
        .orderBy("p")
    },
      // flat global sort + row_number — the plan shape the operator
      // exists to avoid — reaching the same pinned definition
      """
      WITH s AS (SELECT l_extendedprice AS v,
                        row_number() OVER (ORDER BY l_extendedprice) - 1 AS rnk
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      n AS (SELECT COUNT(l_extendedprice) AS n FROM lineitem),
      ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
      SELECT p, CAST(v AS DOUBLE) AS value
      FROM ps CROSS JOIN n
      JOIN s ON s.rnk = CAST(floor(p * (n - 1)) AS BIGINT)
      ORDER BY p"""),

    // per-group exact quantiles via the same histogram narrowing —
    // per-group aggregation state is `bins` counters regardless of group
    // size, where percentile() would buffer the whole group
    Entry("agg_order_stat_grouped", (s, _) => {
      OrderStats.exactQuantilesByGroup(s.table("lineitem"),
          "l_returnflag", "l_extendedprice", Seq(0.5, 0.95), bins = 1024)
        .orderBy("l_returnflag", "p")
    },
      // flat per-group window sort — the per-group shape the operator
      // avoids — reaching the same pinned definition
      """
      WITH s AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                        row_number() OVER (PARTITION BY l_returnflag
                                           ORDER BY l_extendedprice) - 1 AS rnk
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      cnts AS (SELECT l_returnflag AS g, COUNT(l_extendedprice) AS cnt
               FROM lineitem GROUP BY l_returnflag),
      ps AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS p)
      SELECT s.g AS l_returnflag, p, CAST(s.v AS DOUBLE) AS value
      FROM ps CROSS JOIN cnts
      JOIN s ON s.g = cnts.g
            AND s.rnk = CAST(floor(p * (cnts.cnt - 1)) AS BIGINT)
      ORDER BY l_returnflag, p"""),

    // robust outlier detection per group: median/MAD (|v - med| > 3*MAD)
    // — two passes of the grouped histogram-narrowed quantiles, no
    // per-group sort anywhere; med/MAD broadcast back over counting scans
    Entry("agg_robust_outliers", (s, _) => {
      val li = s.table("lineitem")
      // localCheckpoint the 3-row med/mad tables (r16 opt): every pass of
      // the second quantile call and the final aggregate re-derived the
      // full median computation under the broadcast join — 43 lineitem
      // scans in the executed plan for a 7-scan composition
      val med = Shared.cut(OrderStats.exactQuantilesByGroup(li, "l_returnflag",
          "l_extendedprice", Seq(0.5), bins = 1024)
        .select(col("l_returnflag"), col("value").as("med")))
      val withMed = li.join(broadcast(med), "l_returnflag")
        .withColumn("absdev", abs(col("l_extendedprice") - col("med")))
      val mad = Shared.cut(OrderStats.exactQuantilesByGroup(withMed, "l_returnflag",
          "absdev", Seq(0.5), bins = 1024)
        .select(col("l_returnflag"), col("value").as("mad")))
      withMed.join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("absdev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          expr("CAST(MIN(med) AS DOUBLE)").as("med"),
          expr("CAST(MIN(mad) AS DOUBLE)").as("mad"))
        .orderBy("l_returnflag")
    },
      // med and MAD recomputed by flat per-group window ranks, the outlier
      // rule re-applied from scratch
      """
      WITH med AS (
        SELECT g, v FROM (
          SELECT l_returnflag AS g, l_extendedprice AS v,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) - 1 AS rnk,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
          FROM lineitem WHERE l_extendedprice IS NOT NULL) t
        WHERE rnk = CAST(floor(0.5 * (cnt - 1)) AS BIGINT)),
      dev AS (SELECT l.l_returnflag AS g, abs(l.l_extendedprice - m.v) AS ad,
                     m.v AS med
              FROM lineitem l JOIN med m ON l.l_returnflag = m.g),
      m2 AS (
        SELECT g, ad AS mad FROM (
          SELECT g, ad, row_number() OVER (PARTITION BY g ORDER BY ad) - 1 AS rnk,
                 COUNT(*) OVER (PARTITION BY g) AS cnt
          FROM dev) t
        WHERE rnk = CAST(floor(0.5 * (cnt - 1)) AS BIGINT))
      SELECT d.g AS l_returnflag, COUNT(*) AS n,
             CAST(COUNT(*) FILTER (WHERE d.ad > 3.0 * m2.mad) AS BIGINT)
               AS n_outliers,
             CAST(MIN(d.med) AS DOUBLE) AS med,
             CAST(MIN(m2.mad) AS DOUBLE) AS mad
      FROM dev d JOIN m2 ON d.g = m2.g
      GROUP BY d.g
      ORDER BY l_returnflag"""),

    // winsorization: clip the value column at its exact [p1, p99] — the
    // robust-stats composition over exactQuantiles (histogram-narrowed
    // thresholds, never a global sort), thresholds broadcast back over
    // one clipping scan
    Entry("agg_winsorize", (s, _) => {
      val li = s.table("lineitem")
      val qs = OrderStats.exactQuantiles(li, "l_extendedprice",
        Seq(0.01, 0.99), bins = 1024)
      val lims = qs.agg(
        min(when(col("p") === 0.01, col("value"))).as("lo"),
        min(when(col("p") === 0.99, col("value"))).as("hi"))
      li.crossJoin(broadcast(lims))
        .selectExpr(
          "least(greatest(l_extendedprice, lo), hi) AS clipped",
          "CAST(l_extendedprice < lo AS INT) AS is_lo",
          "CAST(l_extendedprice > hi AS INT) AS is_hi")
        .agg(count(lit(1)).as("n"),
          sum(col("is_lo")).as("n_clipped_lo"),
          sum(col("is_hi")).as("n_clipped_hi"),
          expr("CAST(SUM(CAST(clipped AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sum_winsorized"))
    },
      // thresholds recomputed by flat row_number rank (same pinned
      // floor(p*(n-1)) definition), clipping and sums from scratch
      """
      WITH s AS (SELECT l_extendedprice AS v,
                        row_number() OVER (ORDER BY l_extendedprice) - 1 AS rnk
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      nn AS (SELECT COUNT(v) AS n FROM s),
      lims AS (SELECT
        (SELECT v FROM s, nn WHERE rnk = CAST(floor(0.01 * (n - 1)) AS BIGINT)) AS lo,
        (SELECT v FROM s, nn WHERE rnk = CAST(floor(0.99 * (n - 1)) AS BIGINT)) AS hi)
      SELECT COUNT(*) AS n,
        CAST(COUNT(*) FILTER (WHERE l_extendedprice < lo) AS BIGINT) AS n_clipped_lo,
        CAST(COUNT(*) FILTER (WHERE l_extendedprice > hi) AS BIGINT) AS n_clipped_hi,
        CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,2)))
             AS DOUBLE) AS sum_winsorized
      FROM lineitem, lims"""),

    Entry("llm_negative_sample", (s, _) => {
      val docs = s.table("documents")
      TrainOrder.negativeSamples(docs, docs.where(col("doc_id") < 200),
          k = 5, seed = "negs9")
        .selectExpr("anchor_id", "CAST(j AS INT) AS j", "neg_id", "neg_fp")
        .orderBy("anchor_id", "j")
    },
      """
      WITH dom AS (SELECT MAX(doc_id) + 1 AS d FROM documents),
      probes AS (
        SELECT doc_id AS anchor_id, j,
          ('0x' || substr(md5('negs9:' || CAST(doc_id AS VARCHAR)
                               || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
            % d AS neg_id
        FROM documents CROSS JOIN dom
        CROSS JOIN (SELECT unnest(range(0, 5)) AS j) js
        WHERE doc_id < 200)
      SELECT p.anchor_id, CAST(p.j AS INT) AS j, p.neg_id,
             md5(t.text) AS neg_fp
      FROM probes p JOIN documents t ON t.doc_id = p.neg_id
      WHERE p.neg_id <> p.anchor_id
      ORDER BY p.anchor_id, p.j"""),

    // schema-aligning union across heterogeneous inputs (unionByName with
    // allowMissingColumns — the multi-source landing-zone merge; missing
    // columns fill with NULL, matching is by NAME not position). Map-side
    // only: the union itself adds no shuffle, the NULL fill is a
    // projection.
    Entry("set_union_by_name", (s, _) => {
      val a = s.sql("""SELECT o_custkey AS k, COUNT(*) AS n_orders,
                              'orders' AS src
                       FROM orders WHERE o_orderstatus = 'P'
                       GROUP BY o_custkey""")
      val b = s.sql("""SELECT 'customer' AS src, c_custkey AS k,
                              CAST(c_acctbal AS DOUBLE) AS bal
                       FROM customer WHERE c_acctbal > 9500""")
      a.unionByName(b, allowMissingColumns = true).orderBy("src", "k")
    },
      // the union recomputed positionally with explicit NULL padding — no
      // BY NAME resolution anywhere in the oracle
      """
      SELECT o_custkey AS k, COUNT(*) AS n_orders, 'orders' AS src,
             CAST(NULL AS DOUBLE) AS bal
      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
      UNION ALL
      SELECT c_custkey, CAST(NULL AS BIGINT), 'customer',
             CAST(c_acctbal AS DOUBLE)
      FROM customer WHERE c_acctbal > 9500
      ORDER BY src, k"""),

    // data-quality admission gate: 4 row rules on one lineitem scan, two
    // uniqueness checks, two referential checks (one deliberately failing
    // against a restricted parent) — mixed pass/fail so both verdict paths
    // are under test
    Entry("qc_constraints", (s, _) => {
      val li = s.table("lineitem")
      val ord = s.table("orders")
      val cust = s.table("customer")
      Constraints.report(Seq(
        Constraints.checkPredicates(li, Seq(
          "li_qty_range" -> expr("l_quantity BETWEEN 1 AND 50"),
          "li_price_positive" -> expr("l_extendedprice > 0"),
          "li_qty_small" -> expr("l_quantity <= 10"),
          "li_discount_range" -> expr("l_discount BETWEEN 0 AND 0.1"))),
        Constraints.checkUnique(ord, Seq("o_orderkey"), "orders_pk_unique"),
        Constraints.checkUnique(li, Seq("l_orderkey"), "li_orderkey_unique"),
        Constraints.checkForeignKey(li, "l_orderkey", ord, "o_orderkey",
          "li_fk_orders"),
        Constraints.checkForeignKey(ord, "o_custkey",
          cust.where(expr("c_acctbal > 9000")), "c_custkey",
          "orders_fk_rich_customer")))
    },
      // every check recomputed as an independent scalar subquery — FILTER
      // counts for the row rules, NOT EXISTS for the referential checks
      // (the operator uses conditional sums and anti joins)
      """
      WITH p AS (
        SELECT COUNT(*) AS n,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)) AS v_range,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_extendedprice > 0, FALSE)) AS v_pos,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_quantity <= 10, FALSE)) AS v_small,
          COUNT(*) FILTER (WHERE NOT COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE)) AS v_disc
        FROM lineitem)
      SELECT 'li_qty_range' AS rule, n AS n_checked, v_range AS n_violations,
             v_range = 0 AS pass FROM p
      UNION ALL SELECT 'li_price_positive', n, v_pos, v_pos = 0 FROM p
      UNION ALL SELECT 'li_qty_small', n, v_small, v_small = 0 FROM p
      UNION ALL SELECT 'li_discount_range', n, v_disc, v_disc = 0 FROM p
      UNION ALL
      SELECT 'orders_pk_unique', (SELECT COUNT(*) FROM orders), x.v, x.v = 0
      FROM (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v FROM
              (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) g
            WHERE c > 1) x
      UNION ALL
      SELECT 'li_orderkey_unique', (SELECT COUNT(*) FROM lineitem), y.v, y.v = 0
      FROM (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v FROM
              (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey) g
            WHERE c > 1) y
      UNION ALL
      SELECT 'li_fk_orders', (SELECT COUNT(l_orderkey) FROM lineitem), z.v,
             z.v = 0
      FROM (SELECT COUNT(*) AS v FROM lineitem li
            WHERE l_orderkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)) z
      UNION ALL
      SELECT 'orders_fk_rich_customer', (SELECT COUNT(o_custkey) FROM orders),
             w.v, w.v = 0
      FROM (SELECT COUNT(*) AS v FROM orders od
            WHERE o_custkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = od.o_custkey
                 AND c.c_acctbal > 9000)) w
      ORDER BY rule"""),

    // KMV sketch SET OPERATIONS — the capability that separates bottom-k
    // from HLL: Jaccard of two streams' user sets estimated from their
    // bottom-64 sketches alone (est = |MinK(A∪B) ∩ A ∩ B| / k; h ∈
    // MinK(A∪B) ∧ h ∈ A ⇒ h ∈ MinK(A), so sketch membership IS set
    // membership here — the theta-sketch identity). Exact Jaccard
    // reported beside it so the error is visible. Membership = "user
    // had a value>0.9 event of that type" (full sets are degenerate-
    // identical in the fixture). Everything integer until two ROUNDs
    Entry.sql("agg_kmv_jaccard", """
        WITH r AS (SELECT DISTINCT event_type AS g,
                          CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) AS h,
                          user_id AS u
                   FROM events WHERE value > 0.9),
        k AS (SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
                FROM (SELECT DISTINCT g, h FROM r) t) x
              WHERE rk <= 64),
        gs AS (SELECT DISTINCT g FROM k),
        pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
        uh AS (SELECT pr.ga, pr.gb, k.h FROM pr JOIN k ON k.g = pr.ga
               UNION
               SELECT pr.ga, pr.gb, k.h FROM pr JOIN k ON k.g = pr.gb),
        uk AS (SELECT ga, gb, h FROM (
                 SELECT ga, gb, h,
                        row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
                 FROM uh) x WHERE rk <= 64),
        inter AS (SELECT uk.ga, uk.gb, COUNT(*) AS nboth FROM uk
                  JOIN k ka ON ka.g = uk.ga AND ka.h = uk.h
                  JOIN k kb ON kb.g = uk.gb AND kb.h = uk.h
                  GROUP BY uk.ga, uk.gb),
        du AS (SELECT DISTINCT g, u FROM r),
        cnt AS (SELECT g, COUNT(*) AS n FROM du GROUP BY g),
        xi AS (SELECT a.g AS ga, b.g AS gb, COUNT(*) AS ninter
               FROM du a JOIN du b ON b.u = a.u AND a.g < b.g
               GROUP BY a.g, b.g)
        SELECT p.ga, p.gb,
               CAST(COALESCE(i.nboth, 0) AS BIGINT) AS sketch_both,
               CAST(ROUND(CAST(COALESCE(i.nboth, 0) AS DOUBLE) / 64.0, 6)
                    AS DOUBLE) AS est_jaccard,
               CAST(ROUND(CAST(COALESCE(x.ninter, 0) AS DOUBLE)
                    / CAST(ca.n + cb.n - COALESCE(x.ninter, 0) AS DOUBLE), 6)
                    AS DOUBLE) AS exact_jaccard
        FROM pr p
        LEFT JOIN inter i ON i.ga = p.ga AND i.gb = p.gb
        LEFT JOIN xi x ON x.ga = p.ga AND x.gb = p.gb
        JOIN cnt ca ON ca.g = p.ga JOIN cnt cb ON cb.g = p.gb
        ORDER BY p.ga, p.gb""",
      // the same sketch set algebra with DuckDB's hash idiom
      """
      WITH r AS (SELECT DISTINCT event_type AS g,
                        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h,
                        user_id AS u
                 FROM events WHERE value > 0.9),
      k AS (SELECT g, h FROM (
              SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
              FROM (SELECT DISTINCT g, h FROM r) t) x
            WHERE rk <= 64),
      gs AS (SELECT DISTINCT g FROM k),
      pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
      uh AS (SELECT pr.ga, pr.gb, k.h FROM pr JOIN k ON k.g = pr.ga
             UNION
             SELECT pr.ga, pr.gb, k.h FROM pr JOIN k ON k.g = pr.gb),
      uk AS (SELECT ga, gb, h FROM (
               SELECT ga, gb, h,
                      row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
               FROM uh) x WHERE rk <= 64),
      inter AS (SELECT uk.ga, uk.gb, COUNT(*) AS nboth FROM uk
                JOIN k ka ON ka.g = uk.ga AND ka.h = uk.h
                JOIN k kb ON kb.g = uk.gb AND kb.h = uk.h
                GROUP BY uk.ga, uk.gb),
      du AS (SELECT DISTINCT g, u FROM r),
      cnt AS (SELECT g, COUNT(*) AS n FROM du GROUP BY g),
      xi AS (SELECT a.g AS ga, b.g AS gb, COUNT(*) AS ninter
             FROM du a JOIN du b ON b.u = a.u AND a.g < b.g
             GROUP BY a.g, b.g)
      SELECT p.ga, p.gb,
             CAST(COALESCE(i.nboth, 0) AS BIGINT) AS sketch_both,
             CAST(ROUND(CAST(COALESCE(i.nboth, 0) AS DOUBLE) / 64.0, 6)
                  AS DOUBLE) AS est_jaccard,
             CAST(ROUND(CAST(COALESCE(x.ninter, 0) AS DOUBLE)
                  / CAST(ca.n + cb.n - COALESCE(x.ninter, 0) AS DOUBLE), 6)
                  AS DOUBLE) AS exact_jaccard
      FROM pr p
      LEFT JOIN inter i ON i.ga = p.ga AND i.gb = p.gb
      LEFT JOIN xi x ON x.ga = p.ga AND x.gb = p.gb
      JOIN cnt ca ON ca.g = p.ga JOIN cnt cb ON cb.g = p.gb
      ORDER BY p.ga, p.gb"""),

    // KMV (bottom-k) distinct sketch — the third mergeable cardinality
    // sketch next to HLL (llm_distinct_sketch) and the exact count:
    // keep the k=64 SMALLEST 48-bit hashes; estimate = (k-1)·2^48 DIV
    // h_(k). The merge property is shown IN-PLAN: per-shard bottom-64
    // first, then bottom-64 of the union — identical to one global
    // bottom-64 because "k smallest of a union = k smallest over the
    // shards' k-smallest", which is exactly how 1000 executors would
    // combine bounded state. 48-bit hash keeps (k-1)·2^48 ≈ 1.8e16
    // inside int64 — every quantity integer, zero float anywhere.
    // Groups with fewer than k distinct values ARE the sketch (exact)
    Entry.sql("agg_kmv_distinct", """
        WITH r AS (SELECT event_type AS g, user_id % 8 AS shard,
                          CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) AS h
                   FROM events),
        dd AS (SELECT DISTINCT g, shard, h FROM r),
        p AS (SELECT g, shard, h,
                     row_number() OVER (PARTITION BY g, shard ORDER BY h) AS rk
              FROM dd),
        m AS (SELECT g, h,
                     row_number() OVER (PARTITION BY g ORDER BY h) AS rk
              FROM p WHERE rk <= 64),
        kth AS (SELECT g, SUM(CASE WHEN rk <= 64 THEN 1 ELSE 0 END) AS n_kept,
                       MAX(CASE WHEN rk = 64 THEN h END) AS h64
                FROM m GROUP BY g),
        ex AS (SELECT event_type AS g, COUNT(DISTINCT user_id) AS n_exact
               FROM events GROUP BY event_type)
        SELECT k.g AS event_type, CAST(k.n_kept AS BIGINT) AS n_kept,
               CAST(CASE WHEN k.n_kept < 64 THEN k.n_kept
                         ELSE (63 * 281474976710656) DIV k.h64 END AS BIGINT) AS kmv_est,
               CAST(e.n_exact AS BIGINT) AS n_exact
        FROM kth k JOIN ex e ON e.g = k.g
        ORDER BY event_type""",
      // the same two-phase bottom-64 stitch (the merge identity makes it
      // equal one global bottom-64); DuckDB hash idiom + // division
      """
      WITH r AS (SELECT event_type AS g, user_id % 8 AS shard,
                        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
                 FROM events),
      dd AS (SELECT DISTINCT g, shard, h FROM r),
      p AS (SELECT g, shard, h,
                   row_number() OVER (PARTITION BY g, shard ORDER BY h) AS rk
            FROM dd),
      m AS (SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS rk
            FROM p WHERE rk <= 64),
      kth AS (SELECT g, SUM(CASE WHEN rk <= 64 THEN 1 ELSE 0 END) AS n_kept,
                     MAX(CASE WHEN rk = 64 THEN h END) AS h64
              FROM m GROUP BY g),
      ex AS (SELECT event_type AS g, COUNT(DISTINCT user_id) AS n_exact
             FROM events GROUP BY event_type)
      SELECT k.g AS event_type, CAST(k.n_kept AS BIGINT) AS n_kept,
             CAST(CASE WHEN k.n_kept < 64 THEN k.n_kept
                       ELSE (63 * 281474976710656) // k.h64 END AS BIGINT) AS kmv_est,
             CAST(e.n_exact AS BIGINT) AS n_exact
      FROM kth k JOIN ex e ON e.g = k.g
      ORDER BY event_type"""),

    // the step AFTER linkage — MDM survivorship: matched pairs fold into
    // entities (connected components; the oracle replays 6 min-label
    // rounds, like llm_kcore's peels) and each entity elects ONE golden
    // record by the ordered policy "never a MOVED segment if avoidable,
    // then highest balance, then lowest id". Unmatched records stay as
    // singleton entities — the full MDM table, not just the collisions
    Entry("er_golden_record", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      val matches = Entity.blockedLink(leftDf, rightDf,
          Seq("c_nationkey", "blk"),
          Seq(("levenshtein(l_name, r_name) <= 1", 2),
            ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
          threshold = 3)
        .selectExpr("l_lid AS lid", "r_rid AS rid")
      val records = leftDf.selectExpr("lid AS id", "name", "seg", "bal")
        .unionByName(rightDf.selectExpr("rid AS id", "name", "seg", "bal"))
      Entity.goldenRecords(matches, records,
          Seq(expr("CASE WHEN seg = 'MOVED' THEN 1 ELSE 0 END").asc,
            col("bal").desc, col("id").asc))
        .selectExpr("entity_id", "CAST(n_members AS BIGINT) AS n_members",
          "id AS golden_id", "name AS golden_name", "seg AS golden_seg",
          "CAST(bal AS BIGINT) AS golden_bal")
        .orderBy("entity_id")
    },
      // the same six min-label rounds as chained CTEs (the kcore pattern),
      // then the identical survivorship window
      {
      val rounds = (1 to 6).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s"""l$i AS (SELECT p.id,
           |          LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           |        FROM $prev p LEFT JOIN e ON e.a = p.id
           |        LEFT JOIN $prev n ON n.id = e.b
           |        GROUP BY p.id, p.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS (SELECT c_custkey AS lid, c_nationkey,
         |             substr(c_name, 1, 17) AS blk, c_name AS lname,
         |             c_mktsegment AS lseg,
         |             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
         |           FROM customer),
         |r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
         |              CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
         |                   ELSE c_name END AS rname,
         |              CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
         |                   ELSE c_mktsegment END AS rseg,
         |              CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |                + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
         |       FROM customer WHERE c_custkey % 3 = 0),
         |r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
         |             rname, rseg, rbal
         |      FROM r0),
         |sc AS (SELECT lid, rid,
         |              CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END
         |              + CASE WHEN lseg = rseg THEN 1 ELSE 0 END
         |              + CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS score
         |       FROM l JOIN r USING (c_nationkey, blk)),
         |pr AS (SELECT DISTINCT lid AS a, rid AS b FROM sc WHERE score >= 3),
         |e AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
         |rec AS (SELECT lid AS id, lname AS name, lseg AS seg, lbal AS bal FROM l
         |        UNION ALL SELECT rid, rname, rseg, rbal FROM r),
         |l0 AS (SELECT id, id AS label FROM rec),
         |$rounds,
         |m AS (SELECT rec.id, rec.name, rec.seg, rec.bal, l6.label
         |      FROM rec JOIN l6 ON l6.id = rec.id),
         |g AS (SELECT *, row_number() OVER (PARTITION BY label
         |        ORDER BY CASE WHEN seg = 'MOVED' THEN 1 ELSE 0 END ASC,
         |                 bal DESC, id ASC) AS rn
         |      FROM m),
         |st AS (SELECT label, MIN(id) AS entity_id, COUNT(*) AS n_members
         |       FROM m GROUP BY label)
         |SELECT st.entity_id, CAST(st.n_members AS BIGINT) AS n_members,
         |       g.id AS golden_id, g.name AS golden_name, g.seg AS golden_seg,
         |       CAST(g.bal AS BIGINT) AS golden_bal
         |FROM st JOIN g ON g.label = st.label AND g.rn = 1
         |ORDER BY entity_id""".stripMargin
    }),

    // the survivorship AUDIT next to er_golden_record: which merged
    // entities carry members that DISAGREE on a hard attribute (segment,
    // nation, balance)? A conflict means the election silently discarded
    // information — the row a data steward reviews before trusting the
    // golden table. Same linkage + components (entityLabels is the
    // shared engine), one rollup with integer spreads; singletons can't
    // conflict and are excluded
    Entry("er_merge_conflicts", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      val matches = Entity.blockedLink(leftDf, rightDf,
          Seq("c_nationkey", "blk"),
          Seq(("levenshtein(l_name, r_name) <= 1", 2),
            ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
          threshold = 3)
        .selectExpr("l_lid AS lid", "r_rid AS rid")
      val records = leftDf
        .selectExpr("lid AS id", "seg", "bal", "c_nationkey AS nat")
        .unionByName(rightDf
          .selectExpr("rid AS id", "seg", "bal", "c_nationkey AS nat"))
      records
        .join(Entity.entityLabels(matches, records.select("id")), Seq("id"))
        .groupBy("label")
        .agg(min("id").as("entity_id"), count(lit(1)).as("n_members"),
          countDistinct("seg").as("n_segments"),
          countDistinct("nat").as("n_nations"),
          (max("bal") - min("bal")).as("bal_spread"))
        .where(col("n_members") > 1)
        .selectExpr("entity_id", "CAST(n_members AS BIGINT) AS n_members",
          "CAST(n_segments AS BIGINT) AS n_segments",
          "CAST(n_nations AS BIGINT) AS n_nations",
          "CAST(bal_spread AS BIGINT) AS bal_spread",
          "CAST(n_segments > 1 OR bal_spread > 0 AS BOOLEAN) AS has_conflict")
        .orderBy("entity_id")
    },
      // the same linkage + label rounds, conflict spreads re-aggregated
      {
      val rounds = (1 to 6).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s"""l$i AS (SELECT p.id,
           |          LEAST(p.label, COALESCE(MIN(n.label), p.label)) AS label
           |        FROM $prev p LEFT JOIN e ON e.a = p.id
           |        LEFT JOIN $prev n ON n.id = e.b
           |        GROUP BY p.id, p.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS (SELECT c_custkey AS lid, c_nationkey,
         |             substr(c_name, 1, 17) AS blk, c_name AS lname,
         |             c_mktsegment AS lseg,
         |             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
         |           FROM customer),
         |r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
         |              CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
         |                   ELSE c_name END AS rname,
         |              CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
         |                   ELSE c_mktsegment END AS rseg,
         |              CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |                + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
         |       FROM customer WHERE c_custkey % 3 = 0),
         |r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
         |             rname, rseg, rbal
         |      FROM r0),
         |sc AS (SELECT lid, rid,
         |              CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END
         |              + CASE WHEN lseg = rseg THEN 1 ELSE 0 END
         |              + CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS score
         |       FROM l JOIN r USING (c_nationkey, blk)),
         |pr AS (SELECT DISTINCT lid AS a, rid AS b FROM sc WHERE score >= 3),
         |e AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
         |rec AS (SELECT lid AS id, lseg AS seg, lbal AS bal, c_nationkey AS nat FROM l
         |        UNION ALL SELECT rid, rseg, rbal, c_nationkey FROM r),
         |l0 AS (SELECT id, id AS label FROM rec),
         |$rounds,
         |m AS (SELECT rec.id, rec.seg, rec.bal, rec.nat, l6.label
         |      FROM rec JOIN l6 ON l6.id = rec.id),
         |st AS (SELECT label, MIN(id) AS entity_id, COUNT(*) AS n_members,
         |              COUNT(DISTINCT seg) AS n_segments,
         |              COUNT(DISTINCT nat) AS n_nations,
         |              MAX(bal) - MIN(bal) AS bal_spread
         |       FROM m GROUP BY label)
         |SELECT entity_id, CAST(n_members AS BIGINT) AS n_members,
         |       CAST(n_segments AS BIGINT) AS n_segments,
         |       CAST(n_nations AS BIGINT) AS n_nations,
         |       CAST(bal_spread AS BIGINT) AS bal_spread,
         |       CAST(n_segments > 1 OR bal_spread > 0 AS BOOLEAN) AS has_conflict
         |FROM st WHERE n_members > 1 ORDER BY entity_id""".stripMargin
    }),

    // per-column profile drift between two corpus versions — the
    // "what changed in this refresh" audit a recurring ingest runs before
    // promoting a snapshot: row count, null rate, distinct sources,
    // min/max/sum of the length column, each as one exact integer per
    // version. Both profiles are single map-side-combinable aggregates;
    // the drifted v1 is synthesized from v0 by the cdc_snapshot_diff
    // recipe (drops, edits, a nulled column) so every metric moves
    Entry.sql("qc_profile_drift", """
        WITH v1 AS (SELECT doc_id,
                           CASE WHEN doc_id % 31 = 0 THEN concat(text, ' drifted') ELSE text END AS text,
                           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
                           source,
                           n_chars + CASE WHEN doc_id % 31 = 0 THEN 8 ELSE 0 END AS n_chars
                    FROM documents WHERE doc_id % 97 <> 0),
        p0 AS (SELECT COUNT(*) AS n_rows,
                      SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
                      COUNT(DISTINCT source) AS n_sources,
                      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                      SUM(n_chars) AS sum_chars
               FROM documents),
        p1 AS (SELECT COUNT(*) AS n_rows,
                      SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
                      COUNT(DISTINCT source) AS n_sources,
                      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                      SUM(n_chars) AS sum_chars
               FROM v1)
        SELECT metric, CAST(v0 AS BIGINT) AS v0, CAST(v1 AS BIGINT) AS v1,
               CAST(v1 - v0 AS BIGINT) AS delta
        FROM (
          SELECT 'n_rows' AS metric, p0.n_rows AS v0, p1.n_rows AS v1 FROM p0 CROSS JOIN p1
          UNION ALL SELECT 'null_lang', p0.null_lang, p1.null_lang FROM p0 CROSS JOIN p1
          UNION ALL SELECT 'n_sources', p0.n_sources, p1.n_sources FROM p0 CROSS JOIN p1
          UNION ALL SELECT 'min_chars', p0.min_chars, p1.min_chars FROM p0 CROSS JOIN p1
          UNION ALL SELECT 'max_chars', p0.max_chars, p1.max_chars FROM p0 CROSS JOIN p1
          UNION ALL SELECT 'sum_chars', p0.sum_chars, p1.sum_chars FROM p0 CROSS JOIN p1
        ) u ORDER BY metric""",
      // the same two single-scan profiles and metric pivot
      """
      WITH v1 AS (SELECT doc_id,
                         CASE WHEN doc_id % 31 = 0 THEN concat(text, ' drifted') ELSE text END AS text,
                         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
                         source,
                         n_chars + CASE WHEN doc_id % 31 = 0 THEN 8 ELSE 0 END AS n_chars
                  FROM documents WHERE doc_id % 97 <> 0),
      p0 AS (SELECT COUNT(*) AS n_rows,
                    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
                    COUNT(DISTINCT source) AS n_sources,
                    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                    SUM(n_chars) AS sum_chars
             FROM documents),
      p1 AS (SELECT COUNT(*) AS n_rows,
                    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
                    COUNT(DISTINCT source) AS n_sources,
                    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                    SUM(n_chars) AS sum_chars
             FROM v1)
      SELECT metric, CAST(v0 AS BIGINT) AS v0, CAST(v1 AS BIGINT) AS v1,
             CAST(v1 - v0 AS BIGINT) AS delta
      FROM (
        SELECT 'n_rows' AS metric, p0.n_rows AS v0, p1.n_rows AS v1 FROM p0 CROSS JOIN p1
        UNION ALL SELECT 'null_lang', p0.null_lang, p1.null_lang FROM p0 CROSS JOIN p1
        UNION ALL SELECT 'n_sources', p0.n_sources, p1.n_sources FROM p0 CROSS JOIN p1
        UNION ALL SELECT 'min_chars', p0.min_chars, p1.min_chars FROM p0 CROSS JOIN p1
        UNION ALL SELECT 'max_chars', p0.max_chars, p1.max_chars FROM p0 CROSS JOIN p1
        UNION ALL SELECT 'sum_chars', p0.sum_chars, p1.sum_chars FROM p0 CROSS JOIN p1
      ) u ORDER BY metric"""),

    // autocorrelation function at hourly lags 0..6, per event stream —
    // the seasonality/self-similarity diagnostic (a daily cycle shows as
    // a lag-24 peak; here the fixture's short span keeps lags small).
    // Same discipline as ts_lag_correlation: hourly counts are exact
    // integers, the lag join is an equi join on shifted hour INDEX with
    // the 7-row lag table broadcast, Pearson r comes from the integer
    // closed form with one sqrt+division at the edge
    Entry("ts_acf", (s, _) => {
      val hourly = s.table("events").groupBy(
          expr("CAST(unix_micros(date_trunc('HOUR', ts)) div 3600000000 AS BIGINT)")
            .as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val lagged = hourly.selectExpr("event_type AS et2", "h AS h2", "n AS y")
      val lags = s.range(0, 7).select(col("id").as("lag"))
      hourly.select(col("event_type"), col("h"), col("n").as("x"))
        .crossJoin(broadcast(lags))
        .join(lagged, expr("et2 = event_type AND h2 = h + lag"))
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).as("nh"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"))
        .selectExpr("event_type", "lag", "nh AS n_hours",
          """CAST(ROUND(CAST(nh * sxy - sx * sy AS DOUBLE)
            |  / NULLIF(sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)
            |               * CAST(nh * syy - sy * sy AS DOUBLE)), 0.0),
            |  6) AS DOUBLE) AS r""".stripMargin)
        .orderBy("event_type", "lag")
    },
      // hourly counts + per-type shifted-index self-join + the identical
      // integer Pearson closed form
      """
      WITH hc AS (SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                              // 3600000000 AS BIGINT) AS h,
                         event_type, count(*) AS n
                  FROM events GROUP BY 1, 2),
      l AS (SELECT unnest(generate_series(0, 6)) AS lag),
      j AS (SELECT a.event_type, l.lag, a.n AS x, b.n AS y
            FROM hc a CROSS JOIN l
            JOIN hc b ON b.event_type = a.event_type AND b.h = a.h + l.lag),
      s AS (SELECT event_type, lag, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM j GROUP BY event_type, lag)
      SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
             CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 0.0),
               6) AS DOUBLE) AS r
      FROM s ORDER BY event_type, lag"""),

    // ingest-outage report — the data-ops "which hours are MISSING"
    // audit: per stream, the hour spine from its own min..max anti-
    // joined against observed hours; the spine is generated from two
    // integers per stream (never materialized from data), so the report
    // costs one agg + |streams|×|hours| tiny rows
    Entry.sql("ts_missing_hours", """
        WITH h AS (SELECT event_type,
                          CAST(unix_micros(date_trunc('HOUR', ts)) DIV 3600000000 AS BIGINT) AS hr
                   FROM events WHERE user_id < 5 GROUP BY 1, 2),
        b AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi,
                     COUNT(*) AS observed
              FROM h GROUP BY event_type),
        spine AS (SELECT event_type, explode(sequence(lo, hi)) AS hr FROM b),
        miss AS (SELECT s.event_type, MIN(s.hr) AS first_missing,
                        COUNT(*) AS n_missing
                 FROM spine s LEFT ANTI JOIN h ON h.event_type = s.event_type
                   AND h.hr = s.hr
                 GROUP BY s.event_type)
        SELECT b.event_type, CAST(b.hi - b.lo + 1 AS BIGINT) AS n_hours_span,
               CAST(b.observed AS BIGINT) AS n_hours_observed,
               CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_hours_missing,
               CAST(m.first_missing AS BIGINT) AS first_missing
        FROM b LEFT JOIN miss m ON m.event_type = b.event_type
        ORDER BY b.event_type""",
      // the spine rebuilt from the same two integers per stream; DuckDB's
      // generate_series + anti join
      """
      WITH h AS (SELECT event_type,
                        CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                             // 3600000000 AS BIGINT) AS hr
                 FROM events WHERE user_id < 5 GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi,
                   COUNT(*) AS observed
            FROM h GROUP BY event_type),
      spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM b),
      miss AS (SELECT s.event_type, MIN(s.hr) AS first_missing,
                      COUNT(*) AS n_missing
               FROM spine s ANTI JOIN h ON h.event_type = s.event_type
                 AND h.hr = s.hr
               GROUP BY s.event_type)
      SELECT b.event_type, CAST(b.hi - b.lo + 1 AS BIGINT) AS n_hours_span,
             CAST(b.observed AS BIGINT) AS n_hours_observed,
             CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_hours_missing,
             CAST(m.first_missing AS BIGINT) AS first_missing
      FROM b LEFT JOIN miss m ON m.event_type = b.event_type
      ORDER BY b.event_type"""),

    // week-over-week growth — the reporting staple: weekly counts per
    // stream, LAG delta and one ROUND ratio (prev comes from an existing
    // group, so it is never 0 — no NULLIF needed; the first week's NULLs
    // pass through both engines identically). Integer week = day DIV 7
    Entry.sql("ts_wow_growth", """
        WITH w AS (SELECT event_type,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) DIV 7 AS wk,
                          COUNT(*) AS c
                   FROM events GROUP BY 1, 2),
        l AS (SELECT event_type, wk, c,
                     LAG(c) OVER (PARTITION BY event_type ORDER BY wk) AS p
              FROM w)
        SELECT event_type, wk, CAST(c AS BIGINT) AS cnt,
               CAST(p AS BIGINT) AS prev_cnt,
               CAST(c - p AS BIGINT) AS delta,
               CAST(ROUND(CAST(c - p AS DOUBLE) / CAST(p AS DOUBLE), 6)
                    AS DOUBLE) AS growth
        FROM l ORDER BY event_type, wk""",
      // the same weekly LAG arithmetic
      """
      WITH w AS (SELECT event_type,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) // 7 AS wk,
                        COUNT(*) AS c
                 FROM events GROUP BY 1, 2),
      l AS (SELECT event_type, wk, c,
                   LAG(c) OVER (PARTITION BY event_type ORDER BY wk) AS p
            FROM w)
      SELECT event_type, wk, CAST(c AS BIGINT) AS cnt,
             CAST(p AS BIGINT) AS prev_cnt,
             CAST(c - p AS BIGINT) AS delta,
             CAST(ROUND(CAST(c - p AS DOUBLE) / CAST(p AS DOUBLE), 6)
                  AS DOUBLE) AS growth
      FROM l ORDER BY event_type, wk"""),

    // time-to-convert: first view → first purchase per user, reported
    // as count/min/max plus the DOUBLED median (the rank-picked
    // (n+1)/(n+2) DIV 2 middle, summed ×2 — a half-second median stays
    // an exact integer; the ts_anomaly_mad doubling trick). The global
    // rank runs over the post-agg |users| table
    Entry.sql("ts_time_to_convert", """
        WITH fv AS (SELECT user_id, MIN(unix_micros(ts)) AS v
                    FROM events WHERE event_type = 'view' GROUP BY user_id),
        fp AS (SELECT user_id, MIN(unix_micros(ts)) AS p
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        d AS (SELECT fv.user_id, (p - v) DIV 1000000 AS sec
              FROM fv JOIN fp ON fp.user_id = fv.user_id WHERE p >= v),
        a AS (SELECT COUNT(*) AS n, MIN(sec) AS min_sec, MAX(sec) AS max_sec
              FROM d),
        r AS (SELECT sec, row_number() OVER (ORDER BY sec, user_id) AS rk,
                     COUNT(*) OVER () AS n
              FROM d),
        m AS (SELECT (SUM(sec) * 2) DIV COUNT(*) AS median_x2
              FROM r WHERE rk IN ((n + 1) DIV 2, (n + 2) DIV 2))
        SELECT CAST(a.n AS BIGINT) AS n_converted,
               CAST(a.min_sec AS BIGINT) AS min_sec,
               CAST(a.max_sec AS BIGINT) AS max_sec,
               CAST(m.median_x2 AS BIGINT) AS median_x2_sec
        FROM a CROSS JOIN m""",
      // the same first-view/first-purchase join and doubled rank-median
      """
      WITH fv AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v
                  FROM events WHERE event_type = 'view' GROUP BY user_id),
      fp AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS p
             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      d AS (SELECT fv.user_id, (p - v) // 1000000 AS sec
            FROM fv JOIN fp ON fp.user_id = fv.user_id WHERE p >= v),
      a AS (SELECT COUNT(*) AS n, MIN(sec) AS min_sec, MAX(sec) AS max_sec
            FROM d),
      r AS (SELECT sec, row_number() OVER (ORDER BY sec, user_id) AS rk,
                   COUNT(*) OVER () AS n
            FROM d),
      m AS (SELECT (SUM(sec) * 2) // COUNT(*) AS median_x2
            FROM r WHERE rk IN ((n + 1) // 2, (n + 2) // 2))
      SELECT CAST(a.n AS BIGINT) AS n_converted,
             CAST(a.min_sec AS BIGINT) AS min_sec,
             CAST(a.max_sec AS BIGINT) AS max_sec,
             CAST(m.median_x2 AS BIGINT) AS median_x2_sec
      FROM a CROSS JOIN m"""),

    // activity burstiness — effective active hours per user (inverse
    // Simpson n²/Σc² over the hourly activity distribution, the
    // tokenDiversity discipline applied to TIME: log-free on purpose,
    // Σc² stays an exact integer): a user with 100 events in one hour
    // scores 1.0, spread evenly over 50 hours scores 50. One agg per
    // (user, hour) + one per user
    Entry.sql("ts_activity_diversity", """
        WITH h AS (SELECT user_id,
                          CAST(unix_micros(date_trunc('HOUR', ts)) DIV 3600000000 AS BIGINT) AS hr,
                          COUNT(*) AS c
                   FROM events GROUP BY 1, 2),
        a AS (SELECT user_id, SUM(c) AS n, COUNT(*) AS n_hours,
                     SUM(c * c) AS s2
              FROM h GROUP BY user_id)
        SELECT user_id, CAST(n AS BIGINT) AS n_events,
               CAST(n_hours AS BIGINT) AS n_active_hours,
               CAST(ROUND(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          / CAST(s2 AS DOUBLE), 6) AS DOUBLE) AS effective_hours
        FROM a ORDER BY user_id""",
      // the same hourly distribution and inverse-Simpson tree
      """
      WITH h AS (SELECT user_id,
                        CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                             // 3600000000 AS BIGINT) AS hr,
                        COUNT(*) AS c
                 FROM events GROUP BY 1, 2),
      a AS (SELECT user_id, SUM(c) AS n, COUNT(*) AS n_hours,
                   SUM(c * c) AS s2
            FROM h GROUP BY user_id)
      SELECT user_id, CAST(n AS BIGINT) AS n_events,
             CAST(n_hours AS BIGINT) AS n_active_hours,
             CAST(ROUND(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        / CAST(s2 AS DOUBLE), 6) AS DOUBLE) AS effective_hours
      FROM a ORDER BY user_id"""),

    // day-of-week traffic profile + uniformity χ² — the seasonal-shape
    // audit behind every "is weekend traffic real" question: dow from
    // pure integer day-index % 7 (no calendar function conventions),
    // per-(stream, dow) counts, and the χ² term against the uniform
    // expectation in cross-multiplied integer form ((o·7 − t)² exact)
    // with one closing division per cell
    Entry.sql("ts_dow_profile", """
        WITH e AS (SELECT event_type,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) % 7 AS dow
                   FROM events),
        c AS (SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2),
        t AS (SELECT event_type, SUM(o) AS total FROM c GROUP BY event_type)
        SELECT c.event_type, CAST(c.dow AS INT) AS dow,
               CAST(c.o AS BIGINT) AS n_events,
               CAST(ROUND(CAST((c.o * 7 - t.total) AS DOUBLE)
                          * CAST((c.o * 7 - t.total) AS DOUBLE)
                          / CAST(t.total * 7 AS DOUBLE), 6)
                    AS DOUBLE) AS chi2_term
        FROM c JOIN t ON t.event_type = c.event_type
        ORDER BY c.event_type, dow""",
      // the same integer dow and cross-multiplied χ² cells
      """
      WITH e AS (SELECT event_type,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) % 7 AS dow
                 FROM events),
      c AS (SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2),
      t AS (SELECT event_type, SUM(o) AS total FROM c GROUP BY event_type)
      SELECT c.event_type, CAST(c.dow AS INT) AS dow,
             CAST(c.o AS BIGINT) AS n_events,
             CAST(ROUND(CAST((c.o * 7 - t.total) AS DOUBLE)
                        * CAST((c.o * 7 - t.total) AS DOUBLE)
                        / CAST(t.total * 7 AS DOUBLE), 6)
                  AS DOUBLE) AS chi2_term
      FROM c JOIN t ON t.event_type = c.event_type
      ORDER BY c.event_type, dow"""),

    // growth accounting — the canonical WAU decomposition (new /
    // retained / resurrected this week; churned = active last week,
    // silent this week): per-user weekly activity flags from one LAG/
    // LEAD window over the DISTINCT (user, week) grid, rolled up per
    // week; churn attributes to the week the user went silent, clamped
    // at the corpus horizon. Integer week = day DIV 7 as everywhere
    Entry.sql("ts_growth_accounting", """
        WITH a AS (SELECT DISTINCT user_id,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) DIV 7 AS wk
                   FROM events),
        f AS (SELECT user_id, MIN(wk) AS fw FROM a GROUP BY user_id),
        l AS (SELECT a.user_id, a.wk, f.fw,
                     LAG(a.wk) OVER (PARTITION BY a.user_id ORDER BY a.wk) AS pw,
                     LEAD(a.wk) OVER (PARTITION BY a.user_id ORDER BY a.wk) AS nw
              FROM a JOIN f ON f.user_id = a.user_id),
        mx AS (SELECT MAX(wk) AS mw FROM a),
        st AS (SELECT wk,
                      SUM(CASE WHEN wk = fw THEN 1 ELSE 0 END) AS n_new,
                      SUM(CASE WHEN wk > fw AND pw = wk - 1 THEN 1 ELSE 0 END) AS n_retained,
                      SUM(CASE WHEN wk > fw AND (pw IS NULL OR pw < wk - 1) THEN 1 ELSE 0 END) AS n_resurrected
               FROM l GROUP BY wk),
        ch AS (SELECT l.wk + 1 AS wk, COUNT(*) AS n_churned
               FROM l CROSS JOIN mx
               WHERE (l.nw IS NULL OR l.nw > l.wk + 1) AND l.wk + 1 <= mx.mw
               GROUP BY l.wk + 1)
        SELECT st.wk, CAST(st.n_new AS BIGINT) AS n_new,
               CAST(st.n_retained AS BIGINT) AS n_retained,
               CAST(st.n_resurrected AS BIGINT) AS n_resurrected,
               CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
        FROM st LEFT JOIN ch ON ch.wk = st.wk
        ORDER BY st.wk""",
      // the same activity grid, flags and churn attribution
      """
      WITH a AS (SELECT DISTINCT user_id,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) // 7 AS wk
                 FROM events),
      f AS (SELECT user_id, MIN(wk) AS fw FROM a GROUP BY user_id),
      l AS (SELECT a.user_id, a.wk, f.fw,
                   LAG(a.wk) OVER (PARTITION BY a.user_id ORDER BY a.wk) AS pw,
                   LEAD(a.wk) OVER (PARTITION BY a.user_id ORDER BY a.wk) AS nw
            FROM a JOIN f ON f.user_id = a.user_id),
      mx AS (SELECT MAX(wk) AS mw FROM a),
      st AS (SELECT wk,
                    SUM(CASE WHEN wk = fw THEN 1 ELSE 0 END) AS n_new,
                    SUM(CASE WHEN wk > fw AND pw = wk - 1 THEN 1 ELSE 0 END) AS n_retained,
                    SUM(CASE WHEN wk > fw AND (pw IS NULL OR pw < wk - 1) THEN 1 ELSE 0 END) AS n_resurrected
             FROM l GROUP BY wk),
      ch AS (SELECT l.wk + 1 AS wk, COUNT(*) AS n_churned
             FROM l CROSS JOIN mx
             WHERE (l.nw IS NULL OR l.nw > l.wk + 1) AND l.wk + 1 <= mx.mw
             GROUP BY l.wk + 1)
      SELECT st.wk, CAST(st.n_new AS BIGINT) AS n_new,
             CAST(st.n_retained AS BIGINT) AS n_retained,
             CAST(st.n_resurrected AS BIGINT) AS n_resurrected,
             CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
      FROM st LEFT JOIN ch ON ch.wk = st.wk
      ORDER BY st.wk"""),

    // cohort LTV curve — the revenue sibling of ts_retention_cohorts:
    // users grouped by first-seen week, purchase cents accumulated over
    // cohort age. Week = day-index DIV 7 on purpose (date_trunc('week')
    // couples both engines to ISO week-start conventions; integer day
    // arithmetic can't disagree). Money enters as ROUND(value·100)
    // cents and stays integer; the cumulative sum is a per-cohort
    // ordered window over the post-agg (cohort × age) table
    Entry.sql("ts_cohort_ltv", """
        WITH e AS (SELECT user_id, event_type,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) DIV 7 AS wk,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events),
        f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
        r AS (SELECT e.user_id, f.cohort_wk, e.wk - f.cohort_wk AS age_wk,
                     CASE WHEN e.event_type = 'purchase' THEN e.cents ELSE 0 END AS cents
              FROM e JOIN f ON f.user_id = e.user_id),
        g AS (SELECT cohort_wk, age_wk, COUNT(DISTINCT user_id) AS n_active,
                     SUM(cents) AS cents
              FROM r GROUP BY cohort_wk, age_wk)
        SELECT cohort_wk, age_wk, CAST(n_active AS BIGINT) AS n_active,
               CAST(cents AS BIGINT) AS cents,
               CAST(SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM g ORDER BY cohort_wk, age_wk""",
      // the same integer week index and cumulative window
      """
      WITH e AS (SELECT user_id, event_type,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) // 7 AS wk,
                        CAST(ROUND(value * 100) AS BIGINT) AS cents
                 FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
      r AS (SELECT e.user_id, f.cohort_wk, e.wk - f.cohort_wk AS age_wk,
                   CASE WHEN e.event_type = 'purchase' THEN e.cents ELSE 0 END AS cents
            FROM e JOIN f ON f.user_id = e.user_id),
      g AS (SELECT cohort_wk, age_wk, COUNT(DISTINCT user_id) AS n_active,
                   SUM(cents) AS cents
            FROM r GROUP BY cohort_wk, age_wk)
      SELECT cohort_wk, age_wk, CAST(n_active AS BIGINT) AS n_active,
             CAST(cents AS BIGINT) AS cents,
             CAST(SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM g ORDER BY cohort_wk, age_wk"""),

    // blocking-scheme evaluation — the OTHER linkage tuning axis
    // (er_threshold_sweep prices the score cut; this prices the blocks):
    // for three candidate schemes, the candidate volume (= pair-scoring
    // cost) vs how many TRUE pairs the blocks retain (= recall ceiling —
    // no threshold can recover a pair the blocking never generates).
    // Counting joins only, no string scoring; ground truth from the id
    // offset as in the sweep
    Entry.sql("er_blocking_eval", """
        WITH l AS (SELECT c_custkey AS lid, c_nationkey, c_name AS name
                   FROM customer),
        r AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
                     CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X')
                          ELSE c_name END AS name
              FROM customer WHERE c_custkey % 3 = 0),
        nt AS (SELECT COUNT(*) AS n_true FROM r),
        s1 AS (SELECT COUNT(*) AS cand,
                      SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
               FROM l JOIN r ON l.c_nationkey = r.c_nationkey
                 AND substr(l.name, 1, 17) = substr(r.name, 1, 17)),
        s2 AS (SELECT COUNT(*) AS cand,
                      SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
               FROM l JOIN r ON substr(l.name, 1, 16) = substr(r.name, 1, 16)),
        s3 AS (SELECT COUNT(*) AS cand,
                      SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
               FROM l JOIN r ON l.c_nationkey = r.c_nationkey)
        SELECT scheme, CAST(cand AS BIGINT) AS n_candidates,
               CAST(cov AS BIGINT) AS n_true_covered,
               CAST(ROUND(CAST(cov AS DOUBLE) / CAST(nt.n_true AS DOUBLE), 6)
                    AS DOUBLE) AS recall_ceiling
        FROM (SELECT 'nation_prefix17' AS scheme, cand, cov FROM s1
              UNION ALL SELECT 'prefix16', cand, cov FROM s2
              UNION ALL SELECT 'nation_only', cand, cov FROM s3) u
        CROSS JOIN nt
        ORDER BY scheme""",
      // the same three counting joins (DuckDB needs no dialect change —
      // replayed verbatim but kept separate for the engines' substr/concat
      // parity)
      """
      WITH l AS (SELECT c_custkey AS lid, c_nationkey, c_name AS name
                 FROM customer),
      r AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
                   CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X')
                        ELSE c_name END AS name
            FROM customer WHERE c_custkey % 3 = 0),
      nt AS (SELECT COUNT(*) AS n_true FROM r),
      s1 AS (SELECT COUNT(*) AS cand,
                    SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
             FROM l JOIN r ON l.c_nationkey = r.c_nationkey
               AND substr(l.name, 1, 17) = substr(r.name, 1, 17)),
      s2 AS (SELECT COUNT(*) AS cand,
                    SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
             FROM l JOIN r ON substr(l.name, 1, 16) = substr(r.name, 1, 16)),
      s3 AS (SELECT COUNT(*) AS cand,
                    SUM(CASE WHEN l.lid = r.rid - 1000000 THEN 1 ELSE 0 END) AS cov
             FROM l JOIN r ON l.c_nationkey = r.c_nationkey)
      SELECT scheme, CAST(cand AS BIGINT) AS n_candidates,
             CAST(cov AS BIGINT) AS n_true_covered,
             CAST(ROUND(CAST(cov AS DOUBLE) / CAST(nt.n_true AS DOUBLE), 6)
                  AS DOUBLE) AS recall_ceiling
      FROM (SELECT 'nation_prefix17' AS scheme, cand, cov FROM s1
            UNION ALL SELECT 'prefix16', cand, cov FROM s2
            UNION ALL SELECT 'nation_only', cand, cov FROM s3) u
      CROSS JOIN nt
      ORDER BY scheme"""),

    // ER threshold tuning — the precision/recall sweep a linkage
    // threshold is actually chosen from: the fixture's dirty feed has
    // KNOWN ground truth (rid − 1000000 is the source customer), so for
    // every candidate threshold the true/false positive counts are exact
    // integers and recall's denominator is the full right-side record
    // count. ONE block join scored at threshold 0 feeds all four sweep
    // points via a broadcast threshold table — the sweep costs one
    // linkage, not four
    Entry("er_threshold_sweep", (s, _) => {
      val cust = s.table("customer")
      val leftDf = cust.selectExpr("c_custkey AS lid", "c_nationkey",
        "substr(c_name, 1, 17) AS blk", "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal")
      val rightDf = cust.where("c_custkey % 3 = 0").selectExpr(
          "c_custkey + 1000000 AS rid", "c_nationkey",
          "CASE WHEN c_custkey % 2 = 0 THEN concat(c_name, 'X') ELSE c_name END AS name",
          "CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg",
          """CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
            | + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS bal""".stripMargin)
        .selectExpr("rid", "c_nationkey", "substr(name, 1, 17) AS blk",
          "name", "seg", "bal")
      // recall denominator computed IN-PLAN (1-row agg, broadcast cross
      // join — the oracle's nt CTE shape) so declaring/explaining the
      // entry stays lazy instead of firing a count() job at construction
      val nTrue = rightDf.agg(count(lit(1)).as("n_true"))
      Entity.blockedLink(leftDf, rightDf, Seq("c_nationkey", "blk"),
          Seq(("levenshtein(l_name, r_name) <= 1", 2),
            ("l_seg = r_seg", 1), ("l_bal = r_bal", 1)),
          threshold = 0)
        .selectExpr("l_lid AS lid", "r_rid AS rid", "score",
          "CAST(l_lid = r_rid - 1000000 AS INT) AS is_true")
        .crossJoin(broadcast(
          s.range(1, 5).select(col("id").as("threshold"))))
        .where("score >= threshold")
        .groupBy("threshold")
        .agg(sum("is_true").as("tp"),
          sum(expr("1 - is_true")).as("fp"))
        .crossJoin(broadcast(nTrue))
        .selectExpr("CAST(threshold AS INT) AS threshold",
          "CAST(tp AS BIGINT) AS tp", "CAST(fp AS BIGINT) AS fp",
          "CAST(ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS DOUBLE) AS prec",
          "CAST(ROUND(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) AS DOUBLE) AS rec")
        .orderBy("threshold")
    },
      // the sweep replayed flat: every scored candidate × thresholds 1..4,
      // ground truth from the id offset
      """
      WITH l AS (SELECT c_custkey AS lid, c_nationkey,
                        substr(c_name, 1, 17) AS blk, c_name AS lname,
                        c_mktsegment AS lseg,
                        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lbal
                 FROM customer),
      r0 AS (SELECT c_custkey + 1000000 AS rid, c_nationkey,
                    CASE WHEN c_custkey % 2 = 0 THEN c_name || 'X'
                         ELSE c_name END AS rname,
                    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
                         ELSE c_mktsegment END AS rseg,
                    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END AS rbal
             FROM customer WHERE c_custkey % 3 = 0),
      r AS (SELECT rid, c_nationkey, substr(rname, 1, 17) AS blk,
                   rname, rseg, rbal
            FROM r0),
      nt AS (SELECT COUNT(*) AS n_true FROM r),
      sc AS (SELECT lid, rid,
                    CASE WHEN levenshtein(lname, rname) <= 1 THEN 2 ELSE 0 END
                    + CASE WHEN lseg = rseg THEN 1 ELSE 0 END
                    + CASE WHEN lbal = rbal THEN 1 ELSE 0 END AS score,
                    CASE WHEN lid = rid - 1000000 THEN 1 ELSE 0 END AS is_true
             FROM l JOIN r USING (c_nationkey, blk)),
      t AS (SELECT unnest(generate_series(1, 4)) AS threshold),
      sw AS (SELECT t.threshold, SUM(sc.is_true) AS tp,
                    SUM(1 - sc.is_true) AS fp
             FROM sc CROSS JOIN t WHERE sc.score >= t.threshold
             GROUP BY t.threshold)
      SELECT CAST(sw.threshold AS INT) AS threshold,
             CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS DOUBLE) AS prec,
             CAST(ROUND(CAST(tp AS DOUBLE) / CAST(nt.n_true AS DOUBLE), 6) AS DOUBLE) AS rec
      FROM sw CROSS JOIN nt
      ORDER BY threshold"""),

    // inter-arrival time quantiles — the latency/engagement texture of
    // an event stream ("median seconds between a user's clicks"): one
    // LAG per (type, user) partition gives exact integer gap seconds,
    // then the agg_quantile_sketch algebra (minute bins, all-integer
    // interpolation) turns billions of gaps into a |types|×|bins|
    // mergeable state — the same sketch discipline, applied to a
    // DERIVED series instead of a stored column
    Entry.sql("ts_interarrival", """
        WITH e AS (SELECT event_type, user_id, unix_micros(ts) AS us, event_id
                   FROM events),
        g AS (SELECT event_type,
                     (us - LAG(us) OVER (PARTITION BY event_type, user_id
                        ORDER BY us, event_id)) DIV 1000000 AS gap_s
              FROM e),
        gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        b AS (SELECT event_type, gap_s DIV 60 AS bin, COUNT(*) AS n
              FROM gg GROUP BY 1, 2),
        cum AS (SELECT event_type, bin, n,
                       SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                       SUM(n) OVER (PARTITION BY event_type) AS total
                FROM b),
        q AS (SELECT 50 AS pct UNION ALL SELECT 90 UNION ALL SELECT 99),
        tgt AS (SELECT event_type, pct, bin, n, cum,
                       (pct * total + 99) DIV 100 AS k
                FROM cum CROSS JOIN q),
        hit AS (SELECT event_type, pct, MIN(bin) AS hbin
                FROM tgt WHERE cum >= k GROUP BY 1, 2)
        SELECT t.event_type, CAST(t.pct AS INT) AS pct,
               CAST(t.bin * 60 + ((t.k - (t.cum - t.n)) * 60) DIV t.n AS BIGINT) AS est_gap_s
        FROM tgt t JOIN hit h ON t.event_type = h.event_type
               AND t.pct = h.pct AND t.bin = h.hbin
        ORDER BY t.event_type, pct""",
      // the same LAG-derived gaps through the same all-integer sketch
      """
      WITH e AS (SELECT event_type, user_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
                 FROM events),
      g AS (SELECT event_type,
                   (us - LAG(us) OVER (PARTITION BY event_type, user_id
                      ORDER BY us, event_id)) // 1000000 AS gap_s
            FROM e),
      gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
      b AS (SELECT event_type, gap_s // 60 AS bin, COUNT(*) AS n
            FROM gg GROUP BY 1, 2),
      cum AS (SELECT event_type, bin, n,
                     SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                     SUM(n) OVER (PARTITION BY event_type) AS total
              FROM b),
      q AS (SELECT 50 AS pct UNION ALL SELECT 90 UNION ALL SELECT 99),
      tgt AS (SELECT event_type, pct, bin, n, cum,
                     (pct * total + 99) // 100 AS k
              FROM cum CROSS JOIN q),
      hit AS (SELECT event_type, pct, MIN(bin) AS hbin
              FROM tgt WHERE cum >= k GROUP BY 1, 2)
      SELECT t.event_type, CAST(t.pct AS INT) AS pct,
             CAST(t.bin * 60 + ((t.k - (t.cum - t.n)) * 60) // t.n AS BIGINT) AS est_gap_s
      FROM tgt t JOIN hit h ON t.event_type = h.event_type
             AND t.pct = h.pct AND t.bin = h.hbin
      ORDER BY t.event_type, pct"""),

    // Herfindahl–Hirschman concentration — "is this segment's revenue a
    // monopoly": HHI = Σ shareᵢ² per segment over customer lifetime
    // cents, computed as Σcᵢ²/(Σcᵢ)² — exact DECIMAL cross products
    // (customer² terms overflow int64 at scale), ONE closing division.
    // The agg_gini sibling on the squared-share axis; ×10000 matches the
    // antitrust convention
    Entry.sql("agg_hhi", """
        WITH c AS (SELECT c_mktsegment AS seg, o_custkey,
                          SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
                   FROM orders JOIN customer ON c_custkey = o_custkey
                   GROUP BY c_mktsegment, o_custkey),
        a AS (SELECT seg, COUNT(*) AS n_customers, SUM(cents) AS total,
                     SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
              FROM c GROUP BY seg)
        SELECT seg, CAST(n_customers AS BIGINT) AS n_customers,
               CAST(total AS BIGINT) AS total_cents,
               CAST(ROUND(CAST(s2 AS DOUBLE) * 10000.0
                 / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
                 AS DOUBLE) AS hhi_x10000
        FROM a ORDER BY seg""",
      // the same squared-share arithmetic (HUGEINT cross products)
      """
      WITH c AS (SELECT c_mktsegment AS seg, o_custkey,
                        SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
                 FROM orders JOIN customer ON c_custkey = o_custkey
                 GROUP BY c_mktsegment, o_custkey),
      a AS (SELECT seg, COUNT(*) AS n_customers, SUM(cents) AS total,
                   SUM(CAST(cents AS HUGEINT) * cents) AS s2
            FROM c GROUP BY seg)
      SELECT seg, CAST(n_customers AS BIGINT) AS n_customers,
             CAST(total AS BIGINT) AS total_cents,
             CAST(ROUND(CAST(s2 AS DOUBLE) * 10000.0
               / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
               AS DOUBLE) AS hhi_x10000
      FROM a ORDER BY seg"""),

    // CUPED variance reduction — the experimentation-platform workhorse
    // (Deng et al. 2013): adjust each user's post-period metric by
    // θ·(pre-period − pre-mean) with θ = cov(pre, post)/var(pre). All
    // sufficient statistics are exact integers (DECIMAL(38,0) products
    // — a factor-100 corpus overflows int64 cross-terms), θ and the
    // adjusted means are fixed IEEE trees on those exact sums. Pre =
    // first 15 days; users missing a pre-period impute x = 0 in both
    // engines; variant = user_id parity
    Entry.sql("agg_cuped", """
        WITH e AS (SELECT user_id,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) AS day,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events),
        mn AS (SELECT MIN(day) AS d0 FROM e),
        u AS (SELECT user_id,
                     SUM(CASE WHEN day < d0 + 15 THEN cents ELSE 0 END) AS x,
                     SUM(CASE WHEN day >= d0 + 15 THEN cents ELSE 0 END) AS y
              FROM e CROSS JOIN mn GROUP BY user_id),
        g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
                     SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
              FROM u),
        th AS (SELECT n, sx,
                      CAST(CAST(n AS DECIMAL(38,0)) * sxy
                           - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                        / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                           - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS theta
               FROM g),
        v AS (SELECT user_id % 2 AS variant, COUNT(*) AS nv,
                     SUM(x) AS sxv, SUM(y) AS syv
              FROM u GROUP BY user_id % 2)
        SELECT CAST(v.variant AS INT) AS variant,
               CAST(v.nv AS BIGINT) AS n_users,
               CAST(ROUND(CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE) / 100.0, 6)
                    AS DOUBLE) AS mean_post,
               CAST(ROUND((CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE)
                 - th.theta * (CAST(v.sxv AS DOUBLE) / CAST(v.nv AS DOUBLE)
                               - CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)))
                 / 100.0, 6) AS DOUBLE) AS mean_adjusted,
               CAST(ROUND(th.theta, 6) AS DOUBLE) AS theta
        FROM v CROSS JOIN th
        ORDER BY variant""",
      // the same exact sufficient statistics (HUGEINT carries the cross
      // products) and fixed adjustment trees
      """
      WITH e AS (SELECT user_id,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
                        CAST(ROUND(value * 100) AS BIGINT) AS cents
                 FROM events),
      mn AS (SELECT MIN(day) AS d0 FROM e),
      u AS (SELECT user_id,
                   SUM(CASE WHEN day < d0 + 15 THEN cents ELSE 0 END) AS x,
                   SUM(CASE WHEN day >= d0 + 15 THEN cents ELSE 0 END) AS y
            FROM e CROSS JOIN mn GROUP BY user_id),
      g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx
            FROM u),
      th AS (SELECT n, sx,
                    CAST(CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS theta
             FROM g),
      v AS (SELECT user_id % 2 AS variant, COUNT(*) AS nv,
                   SUM(x) AS sxv, SUM(y) AS syv
            FROM u GROUP BY user_id % 2)
      SELECT CAST(v.variant AS INT) AS variant,
             CAST(v.nv AS BIGINT) AS n_users,
             CAST(ROUND(CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE) / 100.0, 6)
                  AS DOUBLE) AS mean_post,
             CAST(ROUND((CAST(v.syv AS DOUBLE) / CAST(v.nv AS DOUBLE)
               - th.theta * (CAST(v.sxv AS DOUBLE) / CAST(v.nv AS DOUBLE)
                             - CAST(th.sx AS DOUBLE) / CAST(th.n AS DOUBLE)))
               / 100.0, 6) AS DOUBLE) AS mean_adjusted,
             CAST(ROUND(th.theta, 6) AS DOUBLE) AS theta
      FROM v CROSS JOIN th
      ORDER BY variant"""),

    // one-way ANOVA F — does order status explain price variance?
    // Between/within sums of squares from the Σx/Σx²/n sufficient
    // statistics per group (integer cents, exact), assembled by the
    // textbook decomposition SSB = Σ nᵢ(x̄ᵢ−x̄)² = Σ(Sᵢ²/nᵢ) − S²/N in
    // cross-multiplied integer form before ONE double conversion per
    // term at the edge. The k-sample extension of agg_ab_welch —
    // map-side-combinable stats, |groups|-row driver arithmetic
    Entry.sql("agg_anova_f", """
        WITH v AS (SELECT o_orderstatus AS g,
                          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
                   FROM orders),
        st AS (SELECT g, COUNT(*) AS n, SUM(x) AS s,
                      SUM(CAST(x AS DECIMAL(38,0)) * x) AS s2
               FROM v GROUP BY g),
        tb AS (SELECT g, n, s, s2,
                      CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                        / CAST(n AS DOUBLE) AS t
               FROM st),
        tot AS (SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS ss,
                       SUM(s2) AS ss2,
                       aggregate(transform(array_sort(collect_list(struct(g, t))),
                         e -> e.t), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS sbd
                FROM tb)
        SELECT CAST(k AS INT) AS k_groups, CAST(nn AS BIGINT) AS n_rows,
               CAST(ROUND((sbd - CAST(CAST(ss AS DECIMAL(38,0)) * ss AS DOUBLE)
                             / CAST(nn AS DOUBLE)) / 10000.0, 2)
                    AS DOUBLE) AS ss_between,
               CAST(ROUND((CAST(ss2 AS DOUBLE) - sbd) / 10000.0, 2)
                    AS DOUBLE) AS ss_within,
               CAST(ROUND(((sbd - CAST(CAST(ss AS DECIMAL(38,0)) * ss AS DOUBLE)
                              / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                          / NULLIF((CAST(ss2 AS DOUBLE) - sbd)
                                   / CAST(nn - k AS DOUBLE), 0.0), 6)
                    AS DOUBLE) AS f_stat
        FROM tot""",
      // the same sufficient statistics; the per-group S²/n doubles fold in
      // group order (list_reduce), the Σx² stays exact DECIMAL/HUGEINT
      """
      WITH v AS (SELECT o_orderstatus AS g,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
                 FROM orders),
      st AS (SELECT g, COUNT(*) AS n, SUM(x) AS s,
                    SUM(CAST(x AS DECIMAL(38,0)) * x) AS s2
             FROM v GROUP BY g),
      tb AS (SELECT g, n, s, s2,
                    CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                      / CAST(n AS DOUBLE) AS t
             FROM st),
      tot AS (SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS ss,
                     SUM(s2) AS ss2,
                     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(t ORDER BY g)), (acc, x) -> acc + x) AS sbd
              FROM tb)
      SELECT CAST(k AS INT) AS k_groups, CAST(nn AS BIGINT) AS n_rows,
             CAST(ROUND((sbd - CAST(CAST(ss AS DECIMAL(38,0)) * ss AS DOUBLE)
                           / CAST(nn AS DOUBLE)) / 10000.0, 2)
                  AS DOUBLE) AS ss_between,
             CAST(ROUND((CAST(ss2 AS DOUBLE) - sbd) / 10000.0, 2)
                  AS DOUBLE) AS ss_within,
             CAST(ROUND(((sbd - CAST(CAST(ss AS DECIMAL(38,0)) * ss AS DOUBLE)
                            / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                        / NULLIF((CAST(ss2 AS DOUBLE) - sbd)
                                 / CAST(nn - k AS DOUBLE), 0.0), 6)
                  AS DOUBLE) AS f_stat
      FROM tot"""),

    // empirical-Bayes rate shrinkage — the "smoothed CTR" every ranking
    // system uses: each user's purchase rate pulls toward the global
    // rate with prior weight 5, computed ENTIRELY in cross-multiplied
    // integers (shrunk_ppm = (k·D + 5·K)·10⁶ DIV ((n+5)·D) where K/D is
    // the global rate as an integer fraction) — no float ever decides a
    // rank. One scan + a 1-row global broadcast
    Entry.sql("agg_shrunk_rates", """
        WITH u AS (SELECT user_id, COUNT(*) AS n,
                          SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
                   FROM events GROUP BY user_id),
        g AS (SELECT SUM(k) AS gk, SUM(n) AS gn FROM u)
        SELECT u.user_id, CAST(u.n AS BIGINT) AS n_events,
               CAST(u.k AS BIGINT) AS n_purchases,
               CAST((u.k * 1000000) DIV u.n AS BIGINT) AS raw_ppm,
               CAST(((u.k * g.gn + 5 * g.gk) * 1000000) DIV ((u.n + 5) * g.gn)
                    AS BIGINT) AS shrunk_ppm
        FROM u CROSS JOIN g
        ORDER BY u.user_id""",
      // the same integer fraction arithmetic
      """
      WITH u AS (SELECT user_id, COUNT(*) AS n,
                        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
                 FROM events GROUP BY user_id),
      g AS (SELECT SUM(k) AS gk, SUM(n) AS gn FROM u)
      SELECT u.user_id, CAST(u.n AS BIGINT) AS n_events,
             CAST(u.k AS BIGINT) AS n_purchases,
             CAST((u.k * 1000000) // u.n AS BIGINT) AS raw_ppm,
             CAST(((u.k * g.gn + 5 * g.gk) * 1000000) // ((u.n + 5) * g.gn)
                  AS BIGINT) AS shrunk_ppm
      FROM u CROSS JOIN g
      ORDER BY u.user_id"""),

    // recency-weighted engagement with EXACT dyadic decay: weight
    // 2^(−age_days) means Σ cents·2^(30−age) is an exact int64 (ages
    // clamp at 30 — the window beyond which the weight is below cent
    // resolution anyway), and the one closing division by 2^30 is a
    // power-of-two scale — bit-exact in IEEE. The decayed-score shape
    // every feed/recommendation freshness term uses, with none of the
    // usual exp() nondeterminism
    Entry.sql("agg_decayed_engagement", """
        WITH e AS (SELECT user_id,
                          CAST(unix_micros(ts) DIV 86400000000 AS BIGINT) AS day,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events),
        mx AS (SELECT MAX(day) AS mxd FROM e),
        w AS (SELECT user_id,
                     cents * shiftleft(CAST(1 AS BIGINT),
                       CAST(30 - LEAST(mxd - day, 30) AS INT)) AS wc
              FROM e CROSS JOIN mx)
        SELECT user_id,
               CAST(SUM(wc) AS BIGINT) AS score_scaled,
               CAST(ROUND(CAST(SUM(wc) AS DOUBLE) / 1073741824.0, 6)
                    AS DOUBLE) AS score
        FROM w GROUP BY user_id
        ORDER BY user_id""",
      // the same clamped dyadic weights and power-of-two closing scale
      """
      WITH e AS (SELECT user_id,
                        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
                        CAST(ROUND(value * 100) AS BIGINT) AS cents
                 FROM events),
      mx AS (SELECT MAX(day) AS mxd FROM e),
      w AS (SELECT user_id,
                   cents * (1::BIGINT << CAST(30 - LEAST(mxd - day, 30) AS INT)) AS wc
            FROM e CROSS JOIN mx)
      SELECT user_id,
             CAST(SUM(wc) AS BIGINT) AS score_scaled,
             CAST(ROUND(CAST(SUM(wc) AS DOUBLE) / 1073741824.0, 6)
                  AS DOUBLE) AS score
      FROM w GROUP BY user_id
      ORDER BY user_id"""),

    // rolling 7-day OLS slope — the trend line a monitoring dashboard
    // draws per stream: the regression closed form (n·Σxy − Σx·Σy) /
    // (n·Σx² − (Σx)²) evaluated from FIVE windowed integer sums over a
    // RANGE frame on the day index (calendar gaps shrink n honestly);
    // every operand exact until the one closing division. The windowed
    // sibling of agg_regression_exact
    Entry.sql("ts_rolling_slope", """
        WITH dd AS (SELECT event_type,
                           CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT) AS day,
                           COUNT(*) AS c
                    FROM events GROUP BY 1, 2),
        w AS (SELECT event_type, day, c,
                     COUNT(*) OVER fr AS n,
                     SUM(day) OVER fr AS sx,
                     SUM(c) OVER fr AS sy,
                     SUM(day * c) OVER fr AS sxy,
                     SUM(day * day) OVER fr AS sxx
              FROM dd
              WINDOW fr AS (PARTITION BY event_type ORDER BY day
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        SELECT event_type, day, CAST(c AS BIGINT) AS cnt,
               CAST(n AS BIGINT) AS n_days,
               CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6)
                 AS DOUBLE) AS slope7
        FROM w ORDER BY event_type, day""",
      // the same five windowed sums and closed form
      """
      WITH dd AS (SELECT event_type,
                         CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                              // 86400000000 AS BIGINT) AS day,
                         COUNT(*) AS c
                  FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, day, c,
                   COUNT(*) OVER fr AS n,
                   SUM(day) OVER fr AS sx,
                   SUM(c) OVER fr AS sy,
                   SUM(day * c) OVER fr AS sxy,
                   SUM(day * day) OVER fr AS sxx
            FROM dd
            WINDOW fr AS (PARTITION BY event_type ORDER BY day
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT event_type, day, CAST(c AS BIGINT) AS cnt,
             CAST(n AS BIGINT) AS n_days,
             CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6)
               AS DOUBLE) AS slope7
      FROM w ORDER BY event_type, day"""),

    // burst detection — the ops-alerting sibling of ts_cusum_drift:
    // an hour is a burst when its count exceeds 3× the trailing-24h
    // average with at least 6 trailing hours of context. Pure integer
    // comparison (cnt · nprev > 3 · sum_prev — the average never
    // materializes as a float); the trailing window is a RANGE frame on
    // the integer hour INDEX, so calendar gaps shrink the baseline
    // honestly instead of silently stretching it. One agg + one
    // bounded window per stream
    Entry.sql("ts_burst_flags", """
        WITH h AS (SELECT event_type,
                          CAST(unix_micros(date_trunc('HOUR', ts)) DIV 3600000000 AS BIGINT) AS hr,
                          COUNT(*) AS cnt
                   FROM events GROUP BY 1, 2),
        w AS (SELECT event_type, hr, cnt,
                     COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr
                       RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS sum_prev,
                     COUNT(cnt) OVER (PARTITION BY event_type ORDER BY hr
                       RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
              FROM h)
        SELECT event_type, hr, CAST(cnt AS BIGINT) AS cnt,
               CAST(sum_prev AS BIGINT) AS sum_prev,
               CAST(n_prev AS BIGINT) AS n_prev,
               CAST(n_prev >= 6 AND cnt * n_prev > 3 * sum_prev AS BOOLEAN) AS is_burst
        FROM w ORDER BY event_type, hr""",
      // the same trailing RANGE frame on the hour index and the same
      // integer burst comparison
      """
      WITH h AS (SELECT event_type,
                        CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                             // 3600000000 AS BIGINT) AS hr,
                        COUNT(*) AS cnt
                 FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, hr, cnt,
                   COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr
                     RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS sum_prev,
                   COUNT(cnt) OVER (PARTITION BY event_type ORDER BY hr
                     RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_prev
            FROM h)
      SELECT event_type, hr, CAST(cnt AS BIGINT) AS cnt,
             CAST(sum_prev AS BIGINT) AS sum_prev,
             CAST(n_prev AS BIGINT) AS n_prev,
             CAST(n_prev >= 6 AND cnt * n_prev > 3 * sum_prev AS BOOLEAN) AS is_burst
      FROM w ORDER BY event_type, hr"""),

    // week-over-week traffic-mix drift — the "did the composition of the
    // feed change" alarm a pipeline runs before retraining on a new
    // slice: exact integer TVD between consecutive weekly event_type
    // distributions (the qc_t_closeness arithmetic on the time axis)
    Entry.sql("ts_mix_shift", mixShiftSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)",
        "DIV", "/*+ BROADCAST(ty) */"),
      // identical TVD text; day-index + division dialects, hint elided
      mixShiftSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)",
      "//", "")),

    // Croston intermittent demand (the forecast family's sparse-series
    // member): ts_holt assumes a dense series; purchase-like demand is
    // mostly zeros, where SES over raw days collapses toward 0 and the
    // Croston split — smooth nonzero demand SIZES and INTERVALS
    // Kaplan–Meier time-to-repeat-purchase: spell = days from a
    // customer's first order to the second (event) or to the corpus
    // cutoff (censored). Corpus-scale work is the per-duration agg;
    // risk sets and the survival prefix product run on the bounded
    // day-granular table (operators/Survival.scala)
    Entry("ts_kaplan_meier", (s, _) => {
      val spells = s.sql("""
        WITH ranked AS (SELECT o_custkey, o_orderkey, o_orderdate,
                               row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS rn
                        FROM orders),
        firsts AS (SELECT o_custkey,
                          MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS d1,
                          MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS d2
                   FROM ranked WHERE rn <= 2 GROUP BY o_custkey),
        cutoff AS (SELECT MAX(o_orderdate) AS mx FROM orders)
        SELECT CASE WHEN d2 IS NOT NULL THEN datediff(d2, d1)
                    ELSE datediff(mx, d1) END AS dur,
               CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM firsts CROSS JOIN cutoff""")
      graft.operators.Survival.kaplanMeier(spells)
        .selectExpr("CAST(t_days AS BIGINT) AS t_days",
          "CAST(n_risk AS BIGINT) AS n_risk",
          "CAST(n_events AS BIGINT) AS n_events", "surv")
        .orderBy("t_days")
    },
      // identical spell construction; risk sets from the same reverse
      // cumulative window; the survival prefix product replayed as
      // slice-folds over the one ordered event-time list
      """
      WITH ranked AS (SELECT o_custkey, o_orderkey, o_orderdate,
                             row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS rn
                      FROM orders),
      firsts AS (SELECT o_custkey,
                        MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS d1,
                        MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS d2
                 FROM ranked WHERE rn <= 2 GROUP BY o_custkey),
      cutoff AS (SELECT MAX(o_orderdate) AS mx FROM orders),
      spells AS (SELECT CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
                             ELSE date_diff('day', d1, mx) END AS dur,
                        CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
                 FROM firsts CROSS JOIN cutoff),
      byt AS (SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM spells GROUP BY dur),
      risk AS (SELECT dur, d,
                      SUM(c) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n_risk
               FROM byt),
      evt AS (SELECT dur, d, n_risk,
                     CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS term
              FROM risk WHERE d > 0),
      one AS (SELECT list(struct_pack(dur := dur, d := d, n_risk := n_risk,
                                      term := term) ORDER BY dur) AS xs
              FROM evt)
      SELECT CAST(xs[j].dur AS BIGINT) AS t_days,
             CAST(xs[j].n_risk AS BIGINT) AS n_risk,
             CAST(xs[j].d AS BIGINT) AS n_events,
             CAST(ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(xs[1:j], v -> v.term)), (a, v) -> a * v), 6)
               AS DOUBLE) AS surv
      FROM one, unnest(generate_series(1, len(xs))) u(j)
      ORDER BY t_days"""),

    // two-group LOG-RANK test on the same time-to-repeat spells
    // (operators/Survival.scala): BUILDING-segment customers vs rest —
    // O1 exact integer, E1/V day-ordered folds of per-day IEEE terms on
    // exact risk sets, χ² from the unrounded sums at the edge
    Entry("ts_logrank", (s, _) => {
      val spells = s.sql("""
        WITH ranked AS (SELECT o_custkey, o_orderkey, o_orderdate,
                               row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS rn
                        FROM orders),
        firsts AS (SELECT o_custkey,
                          MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS da,
                          MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS db
                   FROM ranked WHERE rn <= 2 GROUP BY o_custkey),
        cutoff AS (SELECT MAX(o_orderdate) AS mx FROM orders)
        SELECT CASE WHEN db IS NOT NULL THEN datediff(db, da)
                    ELSE datediff(mx, da) END AS dur,
               CASE WHEN db IS NOT NULL THEN 1 ELSE 0 END AS ev,
               c_mktsegment = 'BUILDING' AS grp
        FROM firsts JOIN customer ON c_custkey = o_custkey
        CROSS JOIN cutoff""")
      graft.operators.Survival.logRank(spells)
    },
      // identical spells split by segment; O1 an exact-integer SUM, E1/V
      // replayed as the same day-ordered list_reduce folds, χ² from the
      // unrounded folds with ROUND only at the edge
      """
      WITH ranked AS (SELECT o_custkey, o_orderkey, o_orderdate,
                             row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS rn
                      FROM orders),
      firsts AS (SELECT o_custkey,
                        MIN(CASE WHEN rn = 1 THEN o_orderdate END) AS da,
                        MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS db
                 FROM ranked WHERE rn <= 2 GROUP BY o_custkey),
      cutoff AS (SELECT MAX(o_orderdate) AS mx FROM orders),
      spells AS (SELECT CASE WHEN db IS NOT NULL THEN date_diff('day', da, db)
                             ELSE date_diff('day', da, mx) END AS dur,
                        CASE WHEN db IS NOT NULL THEN 1 ELSE 0 END AS ev,
                        c_mktsegment = 'BUILDING' AS grp
                 FROM firsts JOIN customer ON c_custkey = o_custkey
                 CROSS JOIN cutoff),
      byt AS (SELECT dur, SUM(ev) AS d,
                     SUM(CASE WHEN grp THEN ev ELSE 0 END) AS d1,
                     COUNT(*) AS c,
                     SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS c1
              FROM spells GROUP BY dur),
      risk AS (SELECT dur, d, d1,
                      SUM(c) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n_risk,
                      SUM(c1) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n1_risk
               FROM byt),
      evt AS (SELECT dur, d, d1,
                     CAST(d AS DOUBLE) * CAST(n1_risk AS DOUBLE)
                       / CAST(n_risk AS DOUBLE) AS e1,
                     CASE WHEN n_risk > 1 THEN
                       CAST(n1_risk AS DOUBLE) * CAST(n_risk - n1_risk AS DOUBLE)
                         * CAST(d AS DOUBLE) * CAST(n_risk - d AS DOUBLE)
                         / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)
                            * CAST(n_risk - 1 AS DOUBLE))
                     ELSE CAST(0.0 AS DOUBLE) END AS v
              FROM risk WHERE d > 0),
      one AS (SELECT list(struct_pack(dur := dur, d1 := d1, e1 := e1,
                                      v := v) ORDER BY dur) AS xs
              FROM evt),
      folds AS (SELECT len(xs) AS k,
                       (SELECT CAST(SUM(d1) AS BIGINT) FROM evt) AS o1,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(xs, x -> x.e1)), (a, x) -> a + x) AS e1s,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(xs, x -> x.v)), (a, x) -> a + x) AS vs
                FROM one WHERE len(xs) > 0)
      SELECT CAST(k AS BIGINT) AS n_event_times, o1,
             CAST(ROUND(e1s, 6) AS DOUBLE) AS e1,
             CAST(ROUND(vs, 6) AS DOUBLE) AS v,
             CAST(ROUND(CASE WHEN vs > 0 THEN
                 (CAST(o1 AS DOUBLE) - e1s) * (CAST(o1 AS DOUBLE) - e1s) / vs
               ELSE CAST(0.0 AS DOUBLE) END, 6) AS DOUBLE) AS chi2
      FROM folds"""),

    // 2×2 difference-in-differences (operators/Causal.scala): BUILDING
    // segment vs rest, pre/post 1996 — one scan, four DECIMAL-exact cell
    // means, the DiD contrast a fixed IEEE tree
    Entry("agg_diff_in_diff", (s, _) => {
      graft.operators.Causal.diffInDiff(
        s.sql("""
          SELECT c_mktsegment = 'BUILDING' AS treat,
                 o_orderdate >= DATE '1996-01-01' AS post,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM orders JOIN customer ON c_custkey = o_custkey"""),
        col("treat"), col("post"), col("cents"))
    },
      // the four cell sufficient statistics in one scan, identical CASE
      // partitioning and division order
      """
      WITH b AS (SELECT c_mktsegment = 'BUILDING' AS treat,
                        o_orderdate >= DATE '1996-01-01' AS post,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                 FROM orders JOIN customer ON c_custkey = o_custkey),
      a AS (SELECT
              SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS n_t0,
              SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS n_t1,
              SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS n_c0,
              SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS n_c1,
              CAST(SUM(CASE WHEN treat AND NOT post THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s_t0,
              CAST(SUM(CASE WHEN treat AND post THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s_t1,
              CAST(SUM(CASE WHEN NOT treat AND NOT post THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s_c0,
              CAST(SUM(CASE WHEN NOT treat AND post THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s_c1
            FROM b)
      SELECT CAST(n_t0 AS BIGINT) AS n_t0, CAST(n_t1 AS BIGINT) AS n_t1,
             CAST(n_c0 AS BIGINT) AS n_c0, CAST(n_c1 AS BIGINT) AS n_c1,
             CAST(ROUND(CAST(s_t0 AS DOUBLE) / NULLIF(n_t0, 0), 6) AS DOUBLE) AS mean_t0,
             CAST(ROUND(CAST(s_t1 AS DOUBLE) / NULLIF(n_t1, 0), 6) AS DOUBLE) AS mean_t1,
             CAST(ROUND(CAST(s_c0 AS DOUBLE) / NULLIF(n_c0, 0), 6) AS DOUBLE) AS mean_c0,
             CAST(ROUND(CAST(s_c1 AS DOUBLE) / NULLIF(n_c1, 0), 6) AS DOUBLE) AS mean_c1,
             CAST(ROUND(
               (CAST(s_t1 AS DOUBLE) / NULLIF(n_t1, 0)
                  - CAST(s_t0 AS DOUBLE) / NULLIF(n_t0, 0))
               - (CAST(s_c1 AS DOUBLE) / NULLIF(n_c1, 0)
                  - CAST(s_c0 AS DOUBLE) / NULLIF(n_c0, 0)),
               6) AS DOUBLE) AS did
      FROM a"""),

    // post-stratification ATE + Neyman SE (operators/Causal.scala):
    // strata = order priority, "treatment" = fulfilled status, outcome =
    // order cents; per-stratum DECIMAL-exact sufficient stats, the
    // stratum-ordered fold is metadata-scale
    Entry("agg_stratified_ate", (s, _) => {
      graft.operators.Causal.stratifiedAte(s.sql("""
        SELECT o_orderpriority AS strat, o_orderstatus = 'F' AS treated,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        FROM orders"""))
    },
      // identical per-stratum sufficient statistics; the ATE/SE folds
      // replayed over the same stratum-ordered list with the same term
      // expressions and division order
      """
      WITH b AS (SELECT o_orderpriority AS strat, o_orderstatus = 'F' AS treated,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
                 FROM orders),
      per AS (SELECT strat,
                     SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS n1,
                     SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS n0,
                     CAST(SUM(CASE WHEN treated THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1,
                     CAST(SUM(CASE WHEN NOT treated THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s0,
                     CAST(SUM(CASE WHEN treated THEN CAST(y * y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q1,
                     CAST(SUM(CASE WHEN NOT treated THEN CAST(y * y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q0
              FROM b GROUP BY strat),
      one AS (SELECT list(struct_pack(strat := strat, n1 := n1, n0 := n0,
                                      s1 := s1, s0 := s0, q1 := q1, q0 := q0)
                          ORDER BY strat) AS xs,
                     SUM(n1 + n0) AS n_total, COUNT(*) AS n_strata,
                     SUM(CASE WHEN n1 < 2 OR n0 < 2 THEN 1 ELSE 0 END) AS n_strata_skipped
              FROM per)
      SELECT CAST(n_total AS BIGINT) AS n_total,
             CAST(n_strata AS BIGINT) AS n_strata,
             CAST(n_strata_skipped AS BIGINT) AS n_strata_skipped,
             CAST(ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_filter(xs, x -> x.n1 >= 2 AND x.n0 >= 2),
                 x -> (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
                   * (CAST(x.s1 AS DOUBLE) / x.n1 - CAST(x.s0 AS DOUBLE) / x.n0))),
               (acc, v) -> acc + v), 6) AS DOUBLE) AS ate,
             CAST(ROUND(SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_filter(xs, x -> x.n1 >= 2 AND x.n0 >= 2),
                 x -> (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
                   * (CAST(x.n1 + x.n0 AS DOUBLE) / n_total)
                   * (CAST(CAST(x.n1 AS DECIMAL(38,0)) * x.q1 - x.s1 * x.s1 AS DOUBLE)
                        / CAST(x.n1 AS DOUBLE) / CAST(x.n1 - 1 AS DOUBLE) / CAST(x.n1 AS DOUBLE)
                      + CAST(CAST(x.n0 AS DECIMAL(38,0)) * x.q0 - x.s0 * x.s0 AS DOUBLE)
                        / CAST(x.n0 AS DOUBLE) / CAST(x.n0 - 1 AS DOUBLE) / CAST(x.n0 AS DOUBLE)))),
               (acc, v) -> acc + v)), 6) AS DOUBLE) AS se_ate
      FROM one"""),

    // separately, forecast = size/interval — is the standard answer.
    // Same driver-unrolled dyadic machinery as ts_holt_forecast
    Entry.sql("ts_croston", crostonSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)"),
      // identical filter text; only the day-index dialect differs
      crostonSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)")),

    // group-sequential A/B monitoring — the interim-look discipline that
    // lets an experiment STOP EARLY without inflating false positives:
    // four calendar looks, cumulative Welch z per look, Pocock boundary
    // literal. Driver-literal boundaries, DECIMAL-exact cumulative stats
    Entry.sql("agg_group_sequential", groupSeqSql(
        "CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT)",
        "DIV"),
      // identical statistic text; only day-index + integer-division differ
      groupSeqSql(
      "CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000 AS BIGINT)",
      "//")),

    // Pareto concentration — "how few customers carry 80% of revenue",
    // per market segment: rank customers by lifetime cents, find the
    // smallest prefix whose cumulative share reaches 4/5 (the crossing
    // is the integer comparison cum·5 ≥ total·4 — no float decides
    // membership). Revenue stays integer cents end-to-end; the window
    // runs over the POST-AGG customer table like agg_rfm_segments
    Entry.sql("agg_pareto_coverage", """
        WITH c AS (SELECT c_mktsegment AS seg, o_custkey AS cust,
                          SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
                   FROM orders JOIN customer ON c_custkey = o_custkey
                   GROUP BY c_mktsegment, o_custkey),
        r AS (SELECT seg, cust, cents,
                     row_number() OVER (PARTITION BY seg
                       ORDER BY cents DESC, cust) AS rk,
                     SUM(cents) OVER (PARTITION BY seg
                       ORDER BY cents DESC, cust ROWS UNBOUNDED PRECEDING) AS cum,
                     SUM(cents) OVER (PARTITION BY seg) AS total,
                     COUNT(*) OVER (PARTITION BY seg) AS n
              FROM c)
        SELECT seg, CAST(MIN(n) AS BIGINT) AS n_customers,
               CAST(MIN(rk) AS BIGINT) AS n_top80,
               CAST(ROUND(CAST(MIN(rk) AS DOUBLE) / CAST(MIN(n) AS DOUBLE), 6)
                    AS DOUBLE) AS frac_top80
        FROM r WHERE cum * 5 >= total * 4
        GROUP BY seg ORDER BY seg""",
      // the identical integer crossing rule over the same ranked prefix
      """
      WITH c AS (SELECT c_mktsegment AS seg, o_custkey AS cust,
                        SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
                 FROM orders JOIN customer ON c_custkey = o_custkey
                 GROUP BY c_mktsegment, o_custkey),
      r AS (SELECT seg, cust, cents,
                   row_number() OVER (PARTITION BY seg
                     ORDER BY cents DESC, cust) AS rk,
                   SUM(cents) OVER (PARTITION BY seg
                     ORDER BY cents DESC, cust ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cents) OVER (PARTITION BY seg) AS total,
                   COUNT(*) OVER (PARTITION BY seg) AS n
            FROM c)
      SELECT seg, CAST(MIN(n) AS BIGINT) AS n_customers,
             CAST(MIN(rk) AS BIGINT) AS n_top80,
             CAST(ROUND(CAST(MIN(rk) AS DOUBLE) / CAST(MIN(n) AS DOUBLE), 6)
                  AS DOUBLE) AS frac_top80
      FROM r WHERE cum * 5 >= total * 4
      GROUP BY seg ORDER BY seg"""),

    // the bitmap monoid composed with GROUPING SETS — the hierarchy
    // rollup (per-stream AND corpus-total distinct users) pays ONE scan
    // because bit_or re-aggregates: the per-(type, chunk) bitmaps and
    // the per-chunk union bitmaps come out of the same Expand, and both
    // popcount to EXACT distinct counts. The reason sketch state beats
    // materialized counts in a cube: counts don't merge, bitmaps do
    Entry.sql("agg_bitmap_rollup", """
        WITH b AS (SELECT event_type, user_id DIV 62 AS chunk,
                          bit_or(shiftleft(CAST(1 AS BIGINT),
                                 CAST(user_id % 62 AS INT))) AS bm
                   FROM events
                   GROUP BY GROUPING SETS ((event_type, user_id DIV 62),
                                           (user_id DIV 62)))
        SELECT COALESCE(event_type, '__ALL__') AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct
        FROM b GROUP BY event_type
        ORDER BY event_type""",
      // the same grouping sets through DuckDB's GROUPING SETS + bit_or
      """
      WITH b AS (SELECT event_type, user_id // 62 AS chunk,
                        bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bm
                 FROM events
                 GROUP BY GROUPING SETS ((event_type, user_id // 62),
                                         (user_id // 62)))
      SELECT COALESCE(event_type, '__ALL__') AS event_type,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct
      FROM b GROUP BY COALESCE(event_type, '__ALL__')
      ORDER BY event_type"""),

    // maximum drawdown — the peak-to-trough risk metric over each
    // stream's cumulative daily revenue: running cumsum (integer cents),
    // running peak (windowed MAX), drawdown = peak − cum, answer = MAX —
    // four exact windowed integers, the classic sequential metric with
    // zero sequential execution
    Entry.sql("ts_max_drawdown", """
        WITH dd AS (SELECT event_type,
                           CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT) AS day,
                           SUM(CAST(ROUND(value * 100) AS BIGINT)
                               * CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS cents
                    FROM events GROUP BY 1, 2),
        c AS (SELECT event_type, day, cents,
                     SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM dd),
        p AS (SELECT event_type, day, cum,
                     MAX(cum) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS peak
              FROM c)
        SELECT event_type,
               CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
               CAST(MAX(peak) AS BIGINT) AS peak_cents
        FROM p GROUP BY event_type
        ORDER BY event_type""",
      // the same cumulative / peak windows
      """
      WITH dd AS (SELECT event_type,
                         CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                              // 86400000000 AS BIGINT) AS day,
                         SUM(CAST(ROUND(value * 100) AS BIGINT)
                             * CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS cents
                  FROM events GROUP BY 1, 2),
      c AS (SELECT event_type, day, cents,
                   SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM dd),
      p AS (SELECT event_type, day, cum,
                   MAX(cum) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS peak
            FROM c)
      SELECT event_type,
             CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
             CAST(MAX(peak) AS BIGINT) AS peak_cents
      FROM p GROUP BY event_type
      ORDER BY event_type"""),

    // EXACT distinct counting via bitmap chunks — the roaring-bitmap
    // pattern: pack each 62-id block into ONE bit_or-aggregated int64
    // (62 not 64 — DuckDB's `<<` refuses the sign bit), then popcount.
    // Both aggregation levels are map-side combinable (bit_or and SUM
    // are monoids), so the full distinct count moves as |id-space|/62
    // longs instead of every id — the exact-answer middle ground
    // between COUNT(DISTINCT)'s full shuffle and the HLL/KMV sketches'
    // approximation, and the state unions across shards/versions by OR
    Entry.sql("agg_bitmap_distinct", """
        WITH b AS (SELECT event_type, user_id DIV 62 AS chunk,
                          bit_or(shiftleft(CAST(1 AS BIGINT),
                                 CAST(user_id % 62 AS INT))) AS bm
                   FROM events GROUP BY event_type, user_id DIV 62),
        a AS (SELECT event_type, COUNT(*) AS n_chunks,
                     SUM(bit_count(bm)) AS n_distinct_bitmap
              FROM b GROUP BY event_type),
        ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
               FROM events GROUP BY event_type)
        SELECT a.event_type, CAST(a.n_chunks AS BIGINT) AS n_chunks,
               CAST(a.n_distinct_bitmap AS BIGINT) AS n_distinct_bitmap,
               CAST(ex.n_exact AS BIGINT) AS n_exact
        FROM a JOIN ex ON ex.event_type = a.event_type
        ORDER BY event_type""",
      // the same 62-bit packing; DuckDB's `<<` + // division
      """
      WITH b AS (SELECT event_type, user_id // 62 AS chunk,
                        bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bm
                 FROM events GROUP BY event_type, user_id // 62),
      a AS (SELECT event_type, COUNT(*) AS n_chunks,
                   SUM(bit_count(bm)) AS n_distinct_bitmap
            FROM b GROUP BY event_type),
      ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
             FROM events GROUP BY event_type)
      SELECT a.event_type, CAST(a.n_chunks AS BIGINT) AS n_chunks,
             CAST(a.n_distinct_bitmap AS BIGINT) AS n_distinct_bitmap,
             CAST(ex.n_exact AS BIGINT) AS n_exact
      FROM a JOIN ex ON ex.event_type = a.event_type
      ORDER BY a.event_type"""),

    // Theil–Sen robust trend: per event stream, the MEDIAN of all
    // pairwise daily-count slopes over the TRAILING 120 days — one wild
    // day moves OLS (agg_regression_exact) but not the pairwise median.
    // Slopes are single IEEE divisions of exact integers (identical
    // both engines); the median picks rank (n+1) DIV 2 and (n+2) DIV 2
    // and averages — never a float percentile. The trailing clamp is
    // what keeps the pairwise form viable: pairs are (window days)² —
    // ≤ 7,140 per key forever — where an unbounded multi-year calendar
    // went quadratic (110 s at the factor-100 time-replicated staging)
    Entry.sql("ts_theilsen", """
        WITH dc0 AS (SELECT event_type,
                           CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 AS BIGINT) AS day,
                           COUNT(*) AS c
                    FROM events GROUP BY 1, 2),
        mx AS (SELECT event_type AS met, MAX(day) AS mxd FROM dc0 GROUP BY event_type),
        dc AS (SELECT dc0.* FROM dc0 JOIN mx
                 ON mx.met = dc0.event_type AND dc0.day > mx.mxd - 120),
        p AS (SELECT a.event_type, a.day AS di, b.day AS dj,
                     CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
              FROM dc a JOIN dc b
                ON b.event_type = a.event_type AND b.day > a.day),
        r AS (SELECT event_type, slope,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY slope, di, dj) AS rk,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM p)
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
               CAST(ROUND(SUM(slope) / COUNT(*), 6) AS DOUBLE) AS theil_slope
        FROM r WHERE rk IN ((n + 1) DIV 2, (n + 2) DIV 2)
        GROUP BY event_type ORDER BY event_type""",
      // the identical pairwise-slope median (ranks, never percentile)
      """
      WITH dc0 AS (SELECT event_type,
                         CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                              // 86400000000 AS BIGINT) AS day,
                         COUNT(*) AS c
                  FROM events GROUP BY 1, 2),
      mx AS (SELECT event_type AS met, MAX(day) AS mxd FROM dc0 GROUP BY event_type),
      dc AS (SELECT dc0.* FROM dc0 JOIN mx
               ON mx.met = dc0.event_type AND dc0.day > mx.mxd - 120),
      p AS (SELECT a.event_type, a.day AS di, b.day AS dj,
                   CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
            FROM dc a JOIN dc b
              ON b.event_type = a.event_type AND b.day > a.day),
      r AS (SELECT event_type, slope,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY slope, di, dj) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM p)
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
             CAST(ROUND(SUM(slope) / COUNT(*), 6) AS DOUBLE) AS theil_slope
      FROM r WHERE rk IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type ORDER BY event_type"""),

    // RFM segmentation — the marketing-analytics classic: per customer
    // recency (days since last order), frequency (order count), monetary
    // (lifetime cents), each cut into quartiles by the CLOSED-FORM rank
    // formula ((rank-1)·4) DIV n + 1 — never ntile, whose remainder
    // distribution would have to be trusted to agree across engines.
    // Ties break on custkey, so every rank is total. The three global
    // windows run over the POST-AGG customer table (|customers| ≪
    // |orders| — the realistic segment-table shape); a pre-agg input at
    // 100 TB would use the two-phase prefix-sum rank instead
    Entry.sql("agg_rfm_segments", """
        WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
        c AS (SELECT o_custkey AS cust,
                     MIN(datediff(mx, CAST(o_orderdate AS DATE))) AS recency_days,
                     COUNT(*) AS freq,
                     SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
              FROM orders CROSS JOIN maxd GROUP BY o_custkey),
        n AS (SELECT COUNT(*) AS nc FROM c),
        sc AS (SELECT cust, cents,
                      ((row_number() OVER (ORDER BY recency_days ASC, cust) - 1) * 4) DIV nc + 1 AS r_score,
                      ((row_number() OVER (ORDER BY freq DESC, cust) - 1) * 4) DIV nc + 1 AS f_score,
                      ((row_number() OVER (ORDER BY cents DESC, cust) - 1) * 4) DIV nc + 1 AS m_score
               FROM c CROSS JOIN n)
        SELECT concat(CAST(r_score AS STRING), CAST(f_score AS STRING),
                      CAST(m_score AS STRING)) AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM sc GROUP BY 1 ORDER BY segment""",
      // the same closed-form quartile rank ((rank-1)*4 // n + 1) —
      // deliberately NOT ntile on either side
      """
      WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
      c AS (SELECT o_custkey AS cust,
                   MIN(date_diff('day', CAST(o_orderdate AS DATE), mx)) AS recency_days,
                   COUNT(*) AS freq,
                   SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
            FROM orders CROSS JOIN maxd GROUP BY o_custkey),
      n AS (SELECT COUNT(*) AS nc FROM c),
      sc AS (SELECT cust, cents,
                    ((row_number() OVER (ORDER BY recency_days ASC, cust) - 1) * 4) // nc + 1 AS r_score,
                    ((row_number() OVER (ORDER BY freq DESC, cust) - 1) * 4) // nc + 1 AS f_score,
                    ((row_number() OVER (ORDER BY cents DESC, cust) - 1) * 4) // nc + 1 AS m_score
             FROM c CROSS JOIN n)
      SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM sc GROUP BY 1 ORDER BY segment""")
  )
}
