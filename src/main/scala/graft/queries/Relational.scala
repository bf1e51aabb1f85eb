package graft.queries

/** Relational-surface widening beyond the TPC-H corpus: set operations,
  * GROUPING SETS / ROLLUP / CUBE, aggregate FILTER, LIMIT/OFFSET,
  * right/full-outer/cross/non-equi joins, VALUES inline relations and
  * UNNEST/explode — every row of SURVEY.md §2.B the round-1 verdict marked
  * "untested" that DuckDB can also express.
  *
  * Reference evidence: UNION `datafusion.proto:319-321,1067-1069`;
  * GROUPING SETS/CUBE/ROLLUP `datafusion.proto:422-432`; UNNEST
  * `datafusion.proto:285-317,794-805`; join types
  * `datafusion_common.proto:78-88`; nested-loop join
  * `datafusion.proto:1197-1203`; VALUES `datafusion.proto:214-217`;
  * offset/fetch `datafusion.proto:1169-1180`; agg FILTER
  * `datafusion.proto:513-520`.
  *
  * Scale: set ops are map-side unions (no shuffle beyond the downstream
  * agg); ROLLUP/CUBE expand via Catalyst's Expand operator before a single
  * hash aggregation (no per-grouping re-scan); the non-equi joins keep the
  * small side literal/dimension-sized so the nested-loop build is broadcast.
  */
object Relational {
  private val TP = "CAST(o_totalprice AS DECIMAL(12,2))"
  private val QTY = "CAST(l_quantity AS DECIMAL(12,2))"

  /** ts_cusum_drift's text, shared with Io's ts_stream_cusum oracle. */
  private[queries] val cusumDriftSql = s"""
      WITH v AS (SELECT event_type, event_id, ts,
                        CAST(ROUND(value * 1000000) AS BIGINT) - 500000 AS d
                 FROM events),
      p AS (SELECT event_type, event_id, ts,
                   SUM(d) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS pr
            FROM v),
      m AS (SELECT event_type, pr,
                   MIN(pr) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS mn
            FROM p),
      s AS (SELECT event_type, pr - LEAST(0, mn) AS cusum FROM m)
      SELECT event_type, COUNT(*) AS n_points,
             CAST(SUM(CASE WHEN cusum >= 5000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms,
             CAST(MAX(cusum) AS BIGINT) AS max_cusum
      FROM s GROUP BY event_type ORDER BY event_type"""

  /** Most entries run the same SQL text in Spark and DuckDB; the
    * engine-specific pairs at the end spell it once for each.
    */
  val entries: Seq[Entry] = Seq(
    // Bit-exact Pearson correlation: the five sufficient statistics are
    // EXACT integer sums (quantities, price cents; DECIMAL(18,0) products
    // stay inside precision 38, so ANSI overflows loudly instead of
    // rounding), each converts to DOUBLE once, and the closing formula is
    // a fixed tree of correctly-rounded IEEE ops (sqrt included) — the
    // tokenDiversity discipline applied to corr, which neither engine's
    // native corr() gives (streaming covariance folds in partition order).
    // One scan, two-phase aggregation; NULLIF guards zero variance.
    Entry.sql("agg_corr_exact", s"""
      WITH b AS (
        SELECT l_suppkey,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM lineitem WHERE l_suppkey < 25),
      s AS (
        SELECT l_suppkey,
               COUNT(*) AS n,
               CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(q AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(q AS DECIMAL(18,0)) * CAST(q AS DECIMAL(18,0))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS DOUBLE) AS sy2
        FROM b GROUP BY l_suppkey)
      SELECT l_suppkey, n,
             CAST(ROUND((n * sxy - sx * sy) /
                    NULLIF(sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy), 0.0),
                  6) AS DOUBLE) AS corr_qp
      FROM s ORDER BY l_suppkey"""),

    // Truncated dyadic EWMA (alpha = 1/2, 4 lags): the weighted numerator
    // is an exact INTEGER (micro-unit values x powers of two), so the one
    // closing division is the only rounding and it is correctly rounded
    // identically in both engines. LAG chain instead of a frame SUM on
    // purpose: windowed double SUMs fold in engine-specific order (DuckDB
    // segment tree vs sequential) and cannot cross engines bit-exactly.
    Entry.sql("ts_ewma", s"""
      WITH v AS (
        SELECT user_id, event_id, ts,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v
        FROM events WHERE user_id < 50),
      l AS (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER w AS rn,
               v * 16 + (LAG(v, 1) OVER w) * 8 + (LAG(v, 2) OVER w) * 4
                 + (LAG(v, 3) OVER w) * 2 + (LAG(v, 4) OVER w) AS num
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id, CAST(num AS DOUBLE) / 31000000.0 AS ewma
      FROM l WHERE rn > 4
      ORDER BY user_id, event_id"""),

    // EXACT two-sample Kolmogorov–Smirnov D (distribution-shift gate —
    // the drift alarm between two arms/corpus versions) shared verbatim:
    // D = max|F1−F2| evaluated on the distinct-value histogram with the
    // supremum taken over CROSS-MULTIPLIED integers (|c1·n2 − c2·n1| —
    // no per-value division, so the max is exact), ONE closing division.
    // Same histogram-window machinery as agg_mann_whitney
    Entry.sql("agg_ks_test", """
      WITH vals AS (SELECT o_orderstatus AS st,
                           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
                    FROM orders
                    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      h AS (SELECT st, v,
                   CAST(SUM(ia) AS BIGINT) AS ca,
                   CAST(SUM(1 - ia) AS BIGINT) AS cb
            FROM vals GROUP BY st, v),
      c AS (SELECT st, v, ca, cb,
                   CAST(SUM(ca) OVER w AS BIGINT) AS cum1,
                   CAST(SUM(cb) OVER w AS BIGINT) AS cum2
            FROM h
            WINDOW w AS (PARTITION BY st ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      n AS (SELECT st, CAST(SUM(ca) AS BIGINT) AS n1,
                   CAST(SUM(cb) AS BIGINT) AS n2
            FROM h GROUP BY st),
      d AS (SELECT c.st, n.n1, n.n2,
                   CAST(MAX(ABS(c.cum1 * n.n2 - c.cum2 * n.n1)) AS BIGINT) AS dnum
            FROM c JOIN n ON c.st = n.st
            GROUP BY c.st, n.n1, n.n2)
      SELECT st AS o_orderstatus, n1, n2, dnum,
             CAST(ROUND(CAST(dnum AS DOUBLE)
                        / CAST(n1 * n2 AS DOUBLE), 6) AS DOUBLE) AS ks_d
      FROM d WHERE n1 > 0 AND n2 > 0
      ORDER BY o_orderstatus"""),

    // chi-square INDEPENDENCE test on the status × priority contingency
    // table, shared verbatim: observed counts and row/col marginals are
    // exact integers, each cell's term (o − r·c/n)²/(r·c/n) reduces to
    // (o·n − r·c)² / (r·c·n) — numerator an exact integer product
    // (DECIMAL(38,0) headroom), ONE division per cell, per-cell output
    // (cross-cell sums would fold in aggregation order)
    Entry.sql("agg_chi2_independence", """
      WITH o AS (SELECT o_orderstatus AS st, o_orderpriority AS pri,
                        count(*) AS obs
                 FROM orders GROUP BY 1, 2),
      r AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY st),
      c AS (SELECT pri, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY pri),
      n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nt FROM o)
      SELECT o.st AS o_orderstatus, o.pri AS o_orderpriority,
             CAST(o.obs AS BIGINT) AS obs,
             CAST(ROUND(CAST(r.rt * c.ct AS DOUBLE) / CAST(n.nt AS DOUBLE),
                  6) AS DOUBLE) AS expected,
             CAST(ROUND(
               CAST(CAST(o.obs AS DECIMAL(38,0)) * n.nt
                    - CAST(r.rt AS DECIMAL(38,0)) * c.ct AS DOUBLE)
               * CAST(CAST(o.obs AS DECIMAL(38,0)) * n.nt
                      - CAST(r.rt AS DECIMAL(38,0)) * c.ct AS DOUBLE)
               / (CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
                  * CAST(n.nt AS DOUBLE)), 6) AS DOUBLE) AS chi2_term
      FROM o JOIN r ON o.st = r.st
             JOIN c ON o.pri = c.pri
             CROSS JOIN n
      ORDER BY o_orderstatus, o_orderpriority"""),

    // EXACT distributed Mann–Whitney U (the nonparametric A/B sibling of
    // agg_ab_welch) shared verbatim: rank sums computed from the
    // per-distinct-VALUE histogram, never a per-row sort — midranks with
    // ties carry a /2, so everything is DOUBLED to stay integer
    // (2·midrank-sum for arm a at value v = ca·(2·cum_before + c + 1));
    // U2 = 2R1 − n1(n1+1) is an exact BIGINT, and the common-language
    // effect size AUC = U/(n1·n2) is the single closing division. The
    // cumulative window runs over the value histogram per status
    // (histogram-sized partitions, the agg_gini discipline)
    Entry.sql("agg_mann_whitney", """
      WITH vals AS (SELECT o_orderstatus AS st,
                           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
                    FROM orders
                    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      h AS (SELECT st, v,
                   CAST(SUM(ia) AS BIGINT) AS ca,
                   CAST(SUM(1 - ia) AS BIGINT) AS cb
            FROM vals GROUP BY st, v),
      c AS (SELECT st, v, ca, cb,
                   COALESCE(SUM(ca + cb) OVER (PARTITION BY st ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
            FROM h),
      s AS (SELECT st,
                   CAST(SUM(ca) AS BIGINT) AS n1,
                   CAST(SUM(cb) AS BIGINT) AS n2,
                   CAST(SUM(ca * (2 * cum_before + ca + cb + 1)) AS BIGINT) AS r1_x2
            FROM c GROUP BY st)
      SELECT st AS o_orderstatus, n1, n2,
             CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
             CAST(ROUND(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
                        / CAST(2 * n1 * n2 AS DOUBLE), 6) AS DOUBLE) AS auc
      FROM s WHERE n1 > 0 AND n2 > 0
      ORDER BY o_orderstatus"""),

    // market-basket association (support + lift) shared verbatim: orders
    // are baskets, parts are items; co-occurrence from the within-basket
    // self-join (a.pk < b.pk — baskets are bounded, so the pair
    // expansion is per-basket quadratic in a SMALL constant, never a
    // corpus blowup), lift = n·c(a,b)/(c(a)·c(b)) with exact integer
    // counts and ONE closing division. The recommendation/affinity
    // primitive of any analytics engine
    Entry.sql("agg_basket_lift", """
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
      n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
      sup AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
      pairs AS (SELECT a.pk AS pk_a, b.pk AS pk_b, count(*) AS both_c
                FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2
                HAVING count(*) >= 3)
      SELECT p.pk_a, p.pk_b, CAST(p.both_c AS BIGINT) AS both_c,
             CAST(sa.c AS BIGINT) AS c_a, CAST(sb.c AS BIGINT) AS c_b,
             CAST(ROUND(CAST(p.both_c * n.n_orders AS DOUBLE)
                        / CAST(sa.c * sb.c AS DOUBLE), 6) AS DOUBLE) AS lift
      FROM pairs p
      JOIN sup sa ON sa.pk = p.pk_a
      JOIN sup sb ON sb.pk = p.pk_b
      CROSS JOIN n
      ORDER BY pk_a, pk_b"""),

    // Holt linear-trend forecast as a DRIVER-UNROLLED linear filter
    // (operators/Forecast.scala): the α=β=1/2 recurrence over each
    // user's last 8 observations is linear, so level/trend/forecast are
    // fixed dyadic dot products — coefficients derived ONCE on the
    // driver as exact BigInt rationals, the plan pays one integer dot
    // product per key (micro-unit values × integer literals, a single
    // closing IEEE division). Pivot by reverse row_number instead of a
    // LAG chain: one aggregation, map-side partial, no per-key state —
    // forecasting a billion keys is one groupBy. Keys with fewer than 8
    // points drop (the truncated-filter contract, as ts_ewma).
    Entry.sql("ts_holt_forecast", {
      val (cl, cb, cf, den) = graft.operators.Forecast.holtCoefficients(8)
      def xc(k: Int) = s"x$k"
      val pivots = (1 to 8).map(k =>
        s"CAST(SUM(CASE WHEN rn = ${9 - k} THEN v ELSE 0 END) AS BIGINT) AS x$k")
        .mkString(",\n               ")
      s"""
      WITH v AS (
        SELECT user_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id < 40),
      p AS (SELECT user_id,
               $pivots,
               count(*) AS n
            FROM v WHERE rn <= 8 GROUP BY user_id HAVING count(*) = 8)
      SELECT user_id,
             ${graft.operators.Forecast.dotSql(cl, den, 1000000L, xc)} AS level,
             ${graft.operators.Forecast.dotSql(cb, den, 1000000L, xc)} AS trend,
             ${graft.operators.Forecast.dotSql(cf, den, 1000000L, xc)} AS forecast1
      FROM p ORDER BY user_id"""
    }),

    // Holt–Winters ADDITIVE seasonal forecast, driver-unrolled like
    // ts_holt_forecast: dyadic α=β=γ=1/2 with a power-of-two period
    // (m=4) keeps every recurrence halving exact, so level / trend /
    // next-season / 1-step forecast over each key's last 12 points are
    // four integer dot products with one closing IEEE division each —
    // the SEASONAL model still costs one aggregation for a billion keys
    Entry.sql("ts_hw_forecast", {
      val (cl, cb, cs, cf, den) =
        graft.operators.Forecast.holtWintersCoefficients(12, 4)
      def xc(k: Int) = s"x$k"
      val pivots = (1 to 12).map(k =>
        s"CAST(SUM(CASE WHEN rn = ${13 - k} THEN v ELSE 0 END) AS BIGINT) AS x$k")
        .mkString(",\n               ")
      s"""
      WITH v AS (
        SELECT user_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id < 40),
      p AS (SELECT user_id,
               $pivots,
               count(*) AS n
            FROM v WHERE rn <= 12 GROUP BY user_id HAVING count(*) = 12)
      SELECT user_id,
             ${graft.operators.Forecast.dotSql(cl, den, 1000000L, xc)} AS level,
             ${graft.operators.Forecast.dotSql(cb, den, 1000000L, xc)} AS trend,
             ${graft.operators.Forecast.dotSql(cs, den, 1000000L, xc)} AS season_next,
             ${graft.operators.Forecast.dotSql(cf, den, 1000000L, xc)} AS forecast1
      FROM p ORDER BY user_id"""
    }),

    // rolling-origin BACKTEST of the Holt filter — the eval that decides
    // whether the forecast is trustworthy before anyone schedules it:
    // hold out each key's LAST observation, fit the same driver-unrolled
    // dyadic filter on the 8 points before it, report |forecast −
    // actual|. Same one-aggregation shape as ts_holt_forecast (the
    // pivot just shifts one rank); keys need 9 points (8 train + 1 test)
    Entry.sql("ts_forecast_backtest", {
      val (_, _, cf, den) = graft.operators.Forecast.holtCoefficients(8)
      def xc(k: Int) = s"x$k"
      val pivots = (1 to 8).map(k =>
        s"CAST(SUM(CASE WHEN rn = ${10 - k} THEN v ELSE 0 END) AS BIGINT) AS x$k")
        .mkString(",\n               ")
      s"""
      WITH v AS (
        SELECT user_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id < 40),
      p AS (SELECT user_id,
               $pivots,
               CAST(SUM(CASE WHEN rn = 1 THEN v ELSE 0 END) AS BIGINT) AS actual_micro,
               count(*) AS n
            FROM v WHERE rn <= 9 GROUP BY user_id HAVING count(*) = 9),
      f AS (SELECT user_id,
               ${graft.operators.Forecast.dotSql(cf, den, 1000000L, xc)} AS forecast1,
               actual_micro
            FROM p)
      SELECT user_id, forecast1,
             CAST(actual_micro AS DOUBLE) / 1000000.0 AS actual,
             CAST(ROUND(ABS(forecast1 - CAST(actual_micro AS DOUBLE) / 1000000.0),
                  6) AS DOUBLE) AS abs_err
      FROM f ORDER BY user_id"""
    }),

    // bitwise aggregate surface shared verbatim: bit_and / bit_or /
    // bit_xor fold exact integers (order-free, no rounding anywhere) —
    // the flag-mask rollups feature tables use
    Entry.sql("fn_bitwise_surface", s"""
      SELECT l_linenumber AS g,
             CAST(bit_and(l_orderkey % 256) AS BIGINT) AS mask_and,
             CAST(bit_or(l_orderkey % 256) AS BIGINT) AS mask_or,
             CAST(bit_xor(l_orderkey % 256) AS BIGINT) AS mask_xor,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      GROUP BY l_linenumber
      ORDER BY g"""),

    // GROUP BY ALL / ORDER BY ALL shared verbatim — every non-aggregate
    // select item becomes a grouping key (and every output column a sort
    // key) by position in both engines; money on DECIMAL, DOUBLE at edge
    Entry.sql("sql_group_by_all", s"""
      SELECT o_orderpriority, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ALL
      ORDER BY ALL"""),

    // string-function surface shared verbatim: split_part (1-based in
    // both engines), translate, levenshtein, left/right, lpad, repeat
    Entry.sql("fn_string_surface", s"""
      SELECT c_custkey,
             split_part(c_name, '#', 2) AS name_num,
             translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
             levenshtein(c_mktsegment, 'BUILDING') AS lev_b,
             left(c_name, 8) AS name_l,
             right(c_name, 3) AS name_r,
             lpad(CAST(c_custkey AS STRING), 6, '0') AS key_pad,
             repeat('-', CAST(c_custkey % 4 AS INT)) AS dashes
      FROM customer WHERE c_custkey < 100
      ORDER BY c_custkey"""),

    // modern aggregate surface shared verbatim: count_if / bool_and /
    // bool_or / max_by — the argmax key is a unique integer (cents·1e9 +
    // orderkey) so the pick is deterministic in both engines (a bare
    // max_by over a tied key is engine-arbitrary)
    Entry.sql("fn_agg_surface", s"""
      SELECT o_orderpriority,
             CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
             bool_and(o_totalprice > 0) AS all_pos,
             bool_or(o_orderstatus = 'F') AS any_f,
             max_by(o_orderkey,
                    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                      * 1000000000 + o_orderkey) AS top_order
      FROM orders GROUP BY 1
      ORDER BY o_orderpriority"""),

    // lateral column aliases: each SELECT item references the previous
    // alias in the same list — both engines resolve the chain left to
    // right, all arithmetic integer-exact doubles
    Entry.sql("sql_lateral_alias", s"""
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS base,
             base * 2 AS doubled,
             doubled + 1 AS plus_one
      FROM lineitem WHERE l_orderkey < 100
      ORDER BY l_orderkey, l_linenumber"""),

    // UNION ALL of two labeled segments
    Entry.sql("set_union_all", s"""
      SELECT k, seg FROM (
        SELECT c_custkey AS k, 'high' AS seg FROM customer WHERE c_acctbal > 9000
        UNION ALL
        SELECT c_custkey AS k, 'neg' AS seg FROM customer WHERE c_acctbal < -900
      ) u
      ORDER BY k, seg"""),

    // UNION (distinct) of overlapping key ranges
    Entry.sql("set_union_distinct", s"""
      SELECT k FROM (
        SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000
        UNION
        SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 5000
      ) u
      ORDER BY k"""),

    Entry.sql("set_intersect", s"""
      SELECT k FROM (
        SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9900
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
      ) u
      ORDER BY k"""),

    Entry.sql("set_except", s"""
      SELECT k FROM (
        SELECT CAST(p_size AS INT) AS k FROM part
        EXCEPT
        SELECT n_nationkey AS k FROM nation
      ) u
      ORDER BY k"""),

    // ROLLUP: grand total + per-flag subtotals + full groups.
    // COALESCE keeps the output NULL-free (fixture keys are non-null), so
    // cross-engine NULL-ordering differences cannot bite.
    Entry.sql("agg_rollup", s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS rf,
             COALESCE(l_linestatus, 'ALL') AS ls,
             CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
             CAST(SUM($QTY) AS DOUBLE) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY gid, rf, ls"""),

    Entry.sql("agg_cube", s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS rf,
             COALESCE(l_linestatus, 'ALL') AS ls,
             CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY gid, rf, ls"""),

    Entry.sql("agg_grouping_sets", s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS st,
             COALESCE(o_orderpriority, 'ALL') AS pri,
             CAST(SUM($TP) AS DOUBLE) AS tp,
             COUNT(*) AS cnt
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY st, pri"""),

    // aggregate FILTER clause (SUM FILTER over an empty set is NULL in both)
    Entry.sql("agg_filter_clause", s"""
      SELECT o_orderpriority,
        COUNT(*) AS n_all,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        CAST(SUM($TP) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS tp_open
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // global limit with skip (OFFSET) over a total order
    Entry.sql("limit_offset", s"""
      SELECT o_orderkey, o_custkey
      FROM orders
      ORDER BY o_orderkey
      LIMIT 20 OFFSET 40"""),

    // EXISTS under an OR cannot rewrite to a plain semi join (the
    // disjunction needs rows that fail the subquery too), so Catalyst
    // plans an ExistenceJoin — the mark join, reference JoinType LEFTMARK
    // (datafusion_common.proto:78-88); plan-asserted in PlanShapeSpec
    Entry.sql("join_existence", s"""
      SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 450000)
         OR c.c_acctbal > 9900
      ORDER BY c_custkey"""),

    Entry.sql("join_right_outer", s"""
      SELECT n_name, COUNT(c_custkey) AS n_rich
      FROM customer RIGHT OUTER JOIN nation
        ON c_nationkey = n_nationkey AND c_acctbal > 9500
      GROUP BY n_name
      ORDER BY n_name"""),

    Entry.sql("join_full_outer", s"""
      SELECT COALESCE(a.k, b.k) AS k, a.n_pending, b.n_rich
      FROM (SELECT o_custkey AS k, COUNT(*) AS n_pending
            FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey) a
      FULL OUTER JOIN
           (SELECT c_custkey AS k, COUNT(*) AS n_rich
            FROM customer WHERE c_acctbal > 9000 GROUP BY c_custkey) b
        ON a.k = b.k
      ORDER BY k"""),

    Entry.sql("join_cross", s"""
      SELECT r_name, n_name
      FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""),

    // pure theta join -> nested-loop (broadcast NLJ in Spark); 25x25 side
    Entry.sql("join_nonequi", s"""
      SELECT n1.n_name AS lo_nation, n2.n_name AS hi_nation
      FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey
      ORDER BY lo_nation, hi_nation"""),

    // correlated LATERAL subquery join (reference surface: DataFusion
    // plans lateral via subquery decorrelation, as Catalyst does) —
    // per-customer top-2 orders, the canonical lateral idiom; shared
    // verbatim with DuckDB, which executes the same decorrelation
    Entry.sql("join_lateral", s"""
      SELECT c_custkey, o_orderkey, CAST(tp AS DOUBLE) AS tp
      FROM customer c,
      LATERAL (SELECT o_orderkey, $TP AS tp
               FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2) t
      WHERE c_custkey < 200
      ORDER BY c_custkey, tp DESC, o_orderkey"""),

    // VALUES inline relation + range (BETWEEN) join against it
    Entry.sql("join_values_range", s"""
      SELECT b.bucket, COUNT(*) AS n_parts,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS price_sum
      FROM part p
      JOIN (VALUES ('small', 1, 10), ('mid', 11, 25), ('big', 26, 50))
           AS b(bucket, lo, hi)
        ON p.p_size BETWEEN b.lo AND b.hi
      GROUP BY b.bucket
      ORDER BY b.bucket"""),

    // scalar-function surface (SURVEY §2 row 43): string/math/conditional
    // built-ins shared verbatim by both engines; decimal math sticks to
    // multiplication (cross-engine decimal DIVISION scales differ)
    Entry.sql("fn_surface", s"""
      SELECT p_partkey,
        UPPER(p_name) AS up, LOWER(p_type) AS lo,
        SUBSTR(p_name, 2, 3) AS sub,
        CONCAT(p_brand, ':', p_type) AS cat,
        CAST(LENGTH(p_name) AS BIGINT) AS len,
        ABS(p_size - 25) AS ab,
        CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)) * 3, 2) AS DOUBLE) AS tripled,
        COALESCE(NULLIF(p_brand, 'Brand#13'), 'OTHER') AS co,
        GREATEST(p_size, 10) AS gr, LEAST(p_size, 10) AS le,
        CASE WHEN p_size % 2 = 0 THEN 'even' ELSE 'odd' END AS par
      FROM part
      WHERE p_partkey <= 200
      ORDER BY p_partkey"""),

    // explicit NULLS FIRST/LAST: the differential compare re-sorts rows, so
    // the ordering is baked into row_number values to actually be checked
    Entry.sql("sort_nulls_order", s"""
      SELECT k, seg,
             CAST(ROW_NUMBER() OVER (ORDER BY seg ASC NULLS LAST, k) AS INT) AS rn_nulls_last,
             CAST(ROW_NUMBER() OVER (ORDER BY seg DESC NULLS FIRST, k) AS INT) AS rn_nulls_first
      FROM (SELECT c_custkey AS k,
                   CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
            FROM customer WHERE c_custkey <= 100) t
      ORDER BY k"""),

    // recursive CTE (SURVEY §2.B row 38 — a Spark gap until 4.x shipped
    // WITH RECURSIVE; reference RecursiveQueryNode datafusion.proto:1270-1280)
    Entry.sql("recursive_cte", s"""
      WITH RECURSIVE sizes(n) AS (
        SELECT 1
        UNION ALL
        SELECT n + 1 FROM sizes WHERE n < 10
      )
      SELECT n, COUNT(p_partkey) AS n_parts,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM sizes LEFT JOIN part ON p_size = n
      GROUP BY n
      ORDER BY n"""),

    // fixed-width histogram: integer bin ids from floor(v / width) — one
    // hash aggregation, bin math exact in both engines (correctly-rounded
    // double divide + floor)
    Entry.sql("agg_histogram", s"""
      SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
             COUNT(*) AS n,
             CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
      FROM lineitem
      GROUP BY CAST(floor(l_extendedprice / 5000) AS BIGINT)
      ORDER BY bin"""),

    // per-group anomaly flagging over hourly event counts, in EXACT integer
    // arithmetic: |cnt - mean| > 2*stddev_pop rewritten as
    // (n*cnt - s)^2 > 4*(n*s2 - s^2) — every term an integer, so the flag
    // is bit-identical cross-engine with no sqrt/double anywhere (the same
    // log-free discipline as tokenDiversity). Headroom: BIGINT holds
    // (n*cnt)^2 up to n*cnt < 3e9 — at 100 TB event scale the hourly count
    // per type stays ~1e6 and hours ~1e5, inside the bound; beyond it the
    // same SQL runs on DECIMAL(38,0). Plan: two hash aggregations + a
    // broadcast-sized per-type stats join — no window, no global sort.
    Entry.sql("ts_anomaly_zscore", s"""
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                        COUNT(*) AS cnt
                 FROM events GROUP BY event_type, date_trunc('hour', ts)),
      st AS (SELECT event_type, COUNT(*) AS n,
                    CAST(SUM(cnt) AS BIGINT) AS s,
                    CAST(SUM(cnt*cnt) AS BIGINT) AS s2
             FROM h GROUP BY event_type)
      SELECT h.event_type, h.hr, h.cnt,
             CAST((st.n*h.cnt - st.s)*(st.n*h.cnt - st.s)
                    > 4*(st.n*st.s2 - st.s*st.s) AS BOOLEAN) AS is_anomaly
      FROM h JOIN st ON h.event_type = st.event_type
      ORDER BY h.event_type, h.hr"""),

    // first-order Markov transition matrix of the event stream — the
    // behavioral model a sessionization/recommendation pipeline fits:
    // successor pairs from ONE lead() window per user timeline (partition
    // cardinality = users, cluster-scale), then two tiny aggregations
    // over the |types|² transition domain. Transition probability = one
    // division at the output edge; counts stay integer
    Entry.sql("ts_markov_transitions", s"""
      WITH e AS (SELECT user_id, event_type,
                        lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS nxt
                 FROM events),
      t AS (SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
            FROM e WHERE nxt IS NOT NULL GROUP BY event_type, nxt),
      tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tn FROM t GROUP BY src)
      SELECT t.src, t.dst, CAST(t.n AS BIGINT) AS n,
             CAST(ROUND(CAST(t.n AS DOUBLE) / tot.tn, 6) AS DOUBLE) AS p
      FROM t JOIN tot ON t.src = tot.src
      ORDER BY t.src, t.dst"""),

    // 10%-trimmed mean on the agg_gini HISTOGRAM formulation: values
    // collapse to (value, count) bins, the cumulative window runs over
    // DISTINCT values per group (never a per-row sort), and each bin's
    // kept mass is closed-form rank-interval overlap — integer-exact
    // until the single closing division. floor(n/10.0) is safe double
    // math (exact when n is a multiple of 10, >1 ulp from integers
    // otherwise); money sums ride DECIMAL
    Entry.sql("agg_trimmed_mean", s"""
      WITH c AS (SELECT o_orderstatus AS g,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
                 FROM orders),
      b AS (SELECT g, v, COUNT(*) AS cnt FROM c GROUP BY g, v),
      w AS (SELECT g, v, cnt,
                   SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                   SUM(cnt) OVER (PARTITION BY g) AS n
            FROM b),
      k AS (SELECT g, v, cnt, cum,
                   CAST(floor(n / 10.0) AS BIGINT) AS lo,
                   n - CAST(floor(n / 10.0) AS BIGINT) AS hi
            FROM w),
      t AS (SELECT g, v,
                   CAST(GREATEST(0, LEAST(cum, hi) - GREATEST(cum - cnt, lo))
                        AS BIGINT) AS kept
            FROM k)
      SELECT g AS o_orderstatus,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0)) * kept) AS DOUBLE)
                        / SUM(kept) / 100, 6) AS DOUBLE) AS trimmed_mean
      FROM t WHERE kept > 0
      GROUP BY g ORDER BY o_orderstatus"""),

    // one-sided CUSUM drift detector per metric series — the classic
    // sequential change alarm (Page 1954). The recurrence
    // s_t = max(0, s_{t-1} + (x_t − target)) is NOT a window aggregate,
    // but its closed form is: s_t = P_t − min(0, min_{j≤t} P_j) with P
    // the running sum of deviations — ONE ordered window computing two
    // running aggregates, integer-exact end to end (micro-unit values,
    // the ts_rolling_median ROUND discipline). Partitions = monitored
    // series (CUSUM is inherently sequential per series); alarms
    // thresholded at h = 5e6 micro-units, reported as per-series counts
    Entry.sql("ts_cusum_drift", cusumDriftSql),

    // Engine-specific pairs: the Spark text, then the DuckDB text. Spark
    // uses LATERAL VIEW posexplode (0-based), DuckDB uses unnest +
    // generate_subscripts (1-based) — same rows out.

    // EXACT rolling median (5-point) per user — the robust smoother a
    // noisy telemetry pipeline runs where a rolling mean chases spikes:
    // the frame's micro-unit values collect into a 5-element array,
    // sort, take the middle — integer selection, no arithmetic at all,
    // so cross-engine exact by construction (an engine-native
    // median()-over-window would interpolate in engine-specific float).
    // Frame width bounds per-row state; the window partitions by key
    Entry.sql("ts_rolling_median", """
      WITH v AS (SELECT user_id, event_id, ts,
                        CAST(ROUND(value * 1000000) AS BIGINT) AS v
                 FROM events WHERE user_id < 40),
      w AS (SELECT user_id, event_id,
                   ROW_NUMBER() OVER win AS rn,
                   element_at(sort_array(
                     collect_list(v) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)), 3)
                     AS med_micros
            FROM v
            WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id, med_micros
      FROM w WHERE rn >= 5
      ORDER BY user_id, event_id""",
      // the same frame collected via DuckDB's list window + list_sort —
      // identical multiset, identical middle pick
      """
      WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                        CAST(ROUND(value * 1000000) AS BIGINT) AS v
                 FROM events WHERE user_id < 40),
      w AS (SELECT user_id, event_id,
                   ROW_NUMBER() OVER win AS rn,
                   list_sort(list(v) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))[3]
                     AS med_micros
            FROM v
            WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id, med_micros
      FROM w WHERE rn >= 5
      ORDER BY user_id, event_id"""),

    // ordered string aggregation (Spark 4's listagg WITHIN GROUP): the
    // report-formatting classic; the ORDER BY inside the aggregate is
    // total, so the concatenation is deterministic — md5 the long string
    // at the edge (scalar-output contract)
    Entry.sql("fn_listagg", """
      SELECT o_orderstatus, o_orderpriority,
             count(*) AS n,
             md5(listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey)) AS keys_md5
      FROM orders WHERE o_custkey < 100
      GROUP BY 1, 2 ORDER BY 1, 2""",
      // DuckDB's string_agg with in-call ORDER BY
      """
      SELECT o_orderstatus, o_orderpriority,
             count(*) AS n,
             md5(string_agg(CAST(o_orderkey AS VARCHAR), ','
                 ORDER BY o_orderkey)) AS keys_md5
      FROM orders WHERE o_custkey < 100
      GROUP BY 1, 2 ORDER BY 1, 2"""),

    // cryptographic-hash function surface (DuckDB has no sha1 — md5 and
    // sha-256 are the shared set): hex digests + the house 60-bit
    // digest-prefix integer derivation, the content-addressing
    // primitives every fingerprint in this repo rides
    Entry.sql("fn_hash_surface", """
      SELECT c_custkey,
             md5(c_name) AS h_md5,
             sha2(c_name, 256) AS h_sha256,
             CAST(conv(substr(md5(c_name), 1, 15), 16, 10) AS BIGINT) AS h_int60
      FROM customer WHERE c_custkey < 200
      ORDER BY c_custkey""",
      // DuckDB's sha256/hex-cast spellings
      """
      SELECT c_custkey,
             md5(c_name) AS h_md5,
             sha256(c_name) AS h_sha256,
             ('0x' || substr(md5(c_name), 1, 15))::BIGINT AS h_int60
      FROM customer WHERE c_custkey < 200
      ORDER BY c_custkey"""),

    // rolling 7-day distinct users per event type (the WAU/MAU family):
    // EXACT trailing-window distinct — not expressible as a window
    // aggregate, so it joins the day-level (type, day, user) DISTINCT
    // pre-aggregate to the tiny (type, day) spine over a 7-day band and
    // re-distincts. Work ∝ active-days × 7, never events × 7; the spine
    // broadcasts
    Entry.sql("ts_rolling_distinct", """
      WITH du AS (SELECT DISTINCT event_type,
                         CAST(date_trunc('day', ts) AS DATE) AS day, user_id
                  FROM events),
      days AS (SELECT DISTINCT event_type, day FROM du)
      SELECT d.event_type, d.day,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
      FROM days d JOIN du u
        ON u.event_type = d.event_type
       AND u.day BETWEEN date_sub(d.day, 6) AND d.day
      GROUP BY 1, 2 ORDER BY event_type, day""",
      // DuckDB spells the date band with plain integer day arithmetic
      """
      WITH du AS (SELECT DISTINCT event_type,
                         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                         user_id
                  FROM events),
      days AS (SELECT DISTINCT event_type, day FROM du)
      SELECT d.event_type, d.day,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
      FROM days d JOIN du u
        ON u.event_type = d.event_type
       AND u.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1, 2 ORDER BY 1, 2"""),

    // longest per-user PURCHASE STREAK (gaps-and-islands): consecutive
    // purchase events grouped by the row_number-difference trick — two
    // per-user windows and an integer subtraction, no self-join, no
    // recursion; the classic engagement/run-length analytic. Shared
    // verbatim except the ts cast
    Entry.sql("win_streaks", """
      WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
                 WHERE user_id < 80),
      r AS (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn_all,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn_type
            FROM e),
      isl AS (SELECT user_id, count(*) AS streak
              FROM r WHERE event_type = 'purchase'
              GROUP BY user_id, rn_all - rn_type)
      SELECT user_id, CAST(max(streak) AS BIGINT) AS max_streak,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM isl GROUP BY user_id ORDER BY user_id""",
      // identical islands, DuckDB ts cast
      """
      WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                        event_type
                 FROM events WHERE user_id < 80),
      r AS (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn_all,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn_type
            FROM e),
      isl AS (SELECT user_id, count(*) AS streak
              FROM r WHERE event_type = 'purchase'
              GROUP BY user_id, rn_all - rn_type)
      SELECT user_id, CAST(max(streak) AS BIGINT) AS max_streak,
             CAST(count(*) AS BIGINT) AS n_streaks
      FROM isl GROUP BY user_id ORDER BY user_id"""),

    // last-touch attribution: each purchase credited to the user's most
    // recent preceding non-purchase event — IGNORE-NULLS last_value over
    // the per-user timeline (per-key partitions, no self-join); the
    // conversion-credit primitive of event analytics
    Entry.sql("ts_attribution", """
      WITH m AS (SELECT user_id, event_type,
                        last_value(CASE WHEN event_type <> 'purchase'
                                        THEN event_type END, true)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS last_touch
                 FROM events)
      SELECT coalesce(last_touch, 'none') AS channel,
             CAST(count(*) AS BIGINT) AS n_purchases
      FROM m WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY channel""",
      // DuckDB spells ignore-nulls inside the call
      """
      WITH m AS (SELECT user_id, event_type,
                        last_value(CASE WHEN event_type <> 'purchase'
                                        THEN event_type END IGNORE NULLS)
                          OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS last_touch
                 FROM events)
      SELECT coalesce(last_touch, 'none') AS channel,
             CAST(count(*) AS BIGINT) AS n_purchases
      FROM m WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY channel"""),

    // MAP lambda-function surface: map_from_arrays / transform_values /
    // map_filter / map_values plus zip_with — the map-typed half of the
    // higher-order family (fn_collection_surface covers the array half).
    // All-integer lambda arithmetic; the oracle recomputes each result
    // FLAT from the generating lists (DuckDB has no map lambdas — the
    // semantics, not the operators, are what must agree)
    Entry.sql("fn_map_lambda_surface", """
      WITH b AS (SELECT l_orderkey, l_linenumber, l_partkey,
                        sequence(1, 1 + l_linenumber) AS arr
                 FROM lineitem WHERE l_orderkey < 1000),
      m AS (SELECT l_orderkey, l_linenumber, arr,
                   map_from_arrays(arr,
                     transform(arr, x -> (x * l_partkey) % 97)) AS mp
            FROM b)
      SELECT l_orderkey, l_linenumber,
             CAST(aggregate(map_values(transform_values(mp, (k, v) -> v * 2)),
                            0L, (a, x) -> a + x) AS BIGINT) AS mv_sum,
             CAST(size(map_filter(mp, (k, v) -> k % 2 = 0)) AS INT) AS mk_even,
             CAST(aggregate(zip_with(arr, reverse(arr), (a, b) -> a * b),
                            0L, (acc, x) -> acc + x) AS BIGINT) AS zip_dot
      FROM m ORDER BY l_orderkey, l_linenumber""",
      // each map-lambda result recomputed flat from the generating list
      """
      WITH b AS (SELECT l_orderkey, l_linenumber, l_partkey,
                        generate_series(1, 1 + l_linenumber) AS arr
                 FROM lineitem WHERE l_orderkey < 1000)
      SELECT l_orderkey, l_linenumber,
             CAST(list_reduce(list_prepend(0,
                    list_transform(arr, x -> 2 * ((x * l_partkey) % 97))),
                    (a, x) -> a + x) AS BIGINT) AS mv_sum,
             CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INT) AS mk_even,
             CAST(list_reduce(list_prepend(0,
                    list_transform(generate_series(1, len(arr)),
                      i -> arr[i] * arr[len(arr) + 1 - i])),
                    (a, x) -> a + x) AS BIGINT) AS zip_dot
      FROM b ORDER BY l_orderkey, l_linenumber"""),

    // interval-union coverage (the sweep-line classic): per user, total
    // time covered by overlapping 10-minute activity windows — merged
    // segments found by comparing each start to the running max of all
    // PRIOR ends (never a self-join), segment ids by prefix sum, span =
    // max(e)−min(s) per segment (gap-free within a merged segment by
    // construction). Exact integer micros end-to-end; per-user window
    // partitions
    Entry.sql("ts_interval_union", """
      WITH iv AS (SELECT user_id, event_id, unix_micros(ts) AS s,
                         unix_micros(ts) + 600000000 AS e
                  FROM events WHERE user_id < 60),
      m AS (SELECT user_id, event_id, s, e,
                   max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max
            FROM iv),
      g AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
                           THEN 1 ELSE 0 END AS new_seg
            FROM m),
      seg AS (SELECT *, SUM(new_seg) OVER (PARTITION BY user_id
                          ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS seg_id
              FROM g),
      spans AS (SELECT user_id, seg_id, max(e) - min(s) AS span_us,
                       count(*) AS n_iv
                FROM seg GROUP BY user_id, seg_id)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(SUM(span_us) AS BIGINT) AS covered_us,
             CAST(SUM(n_iv) AS BIGINT) AS n_intervals
      FROM spans GROUP BY user_id ORDER BY user_id""",
      // identical sweep, DuckDB's epoch_us for Spark's unix_micros
      """
      WITH iv AS (SELECT user_id, event_id,
                         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                         epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
                  FROM events WHERE user_id < 60),
      m AS (SELECT user_id, event_id, s, e,
                   max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max
            FROM iv),
      g AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
                           THEN 1 ELSE 0 END AS new_seg
            FROM m),
      seg AS (SELECT *, SUM(new_seg) OVER (PARTITION BY user_id
                          ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS seg_id
              FROM g),
      spans AS (SELECT user_id, seg_id, max(e) - min(s) AS span_us,
                       count(*) AS n_iv
                FROM seg GROUP BY user_id, seg_id)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(SUM(span_us) AS BIGINT) AS covered_us,
             CAST(SUM(n_iv) AS BIGINT) AS n_intervals
      FROM spans GROUP BY user_id ORDER BY user_id"""),

    // templated-name surface: IDENTIFIER() resolves table/column names
    // from string literals at analysis time — the injection-safe way a
    // metadata-driven pipeline parameterizes WHICH table/column a shared
    // statement touches (Spark 4); the oracle runs the resolved statement
    Entry.sql("sql_identifier_clause", """
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(IDENTIFIER('o_totalprice') AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM IDENTIFIER('orders')
      GROUP BY IDENTIFIER('o_orderstatus')
      ORDER BY o_orderstatus""",
      """
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // dynamic SQL surface: EXECUTE IMMEDIATE compiles a query literal at
    // runtime with a positional USING parameter — the programmatic-SQL
    // escape hatch (Spark 4); the oracle runs the resolved statement
    Entry.sql("sql_execute_immediate", """
      EXECUTE IMMEDIATE
        'SELECT l_returnflag, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_quantity < ? GROUP BY l_returnflag
         ORDER BY l_returnflag'
        USING 10""",
      """
      SELECT l_returnflag, count(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_quantity < 10
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // data-masking surface: mask() with default chars, full custom
    // chars, and all-NULL (identity) — the PII-redaction function
    // family; the oracle rebuilds each via regexp_replace chains
    Entry.sql("fn_mask_surface", """
      SELECT c_custkey,
             mask(c_name) AS m_default,
             mask(c_name, 'U', 'l', '9', '-') AS m_custom,
             mask(c_mktsegment, NULL, NULL, NULL, NULL) AS m_keep
      FROM customer WHERE c_custkey < 100
      ORDER BY c_custkey""",
      // replacement chars are alphanumeric, so later passes never touch
      // earlier substitutions; default mask keeps non-alnum chars
      """
      SELECT c_custkey,
             regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS m_default,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '9', 'g'),
               '[^A-Za-z0-9]', '-', 'g') AS m_custom,
             c_mktsegment AS m_keep
      FROM customer WHERE c_custkey < 100
      ORDER BY c_custkey"""),

    // URL function surface: parse_url component extraction (+ keyed
    // query lookup) and the encode/decode round-trip over synthesized
    // URLs; the oracle rebuilds every component from the same columns
    Entry.sql("fn_url_surface", """
      SELECT c_custkey,
             parse_url(url, 'HOST') AS host,
             parse_url(url, 'PATH') AS path,
             parse_url(url, 'QUERY') AS query,
             parse_url(url, 'QUERY', 'seg') AS seg,
             url_encode(concat(c_mktsegment, ' & co')) AS enc,
             url_decode(url_encode(concat(c_mktsegment, ' & co'))) AS dec
      FROM (SELECT c_custkey, c_mktsegment,
                   concat('https://', lower(c_mktsegment),
                          '.example.com:8080/cust/', c_custkey,
                          '?seg=', c_mktsegment, '&x=1#top') AS url
            FROM customer WHERE c_custkey < 50) u
      ORDER BY c_custkey""",
      // every URL component rebuilt from the source columns (segments are
      // single uppercase words, so encoding only touches the ' & ' suffix)
      """
      SELECT c_custkey,
             lower(c_mktsegment) || '.example.com' AS host,
             '/cust/' || c_custkey AS path,
             'seg=' || c_mktsegment || '&x=1' AS query,
             c_mktsegment AS seg,
             c_mktsegment || '+%26+co' AS enc,
             c_mktsegment || ' & co' AS dec
      FROM customer WHERE c_custkey < 50
      ORDER BY c_custkey"""),

    // Spark-4 collation surface: UTF8_LCASE comparison drives both an
    // ORDER BY (rank baked into row_number — the comparator canonicalizes
    // row order) and a case-insensitive grouped count; the oracle
    // emulates with lower() (same semantics for these ASCII fixtures)
    Entry.sql("sql_collation", """
      SELECT id, s,
             row_number() OVER (ORDER BY collate(s, 'UTF8_LCASE'), id) AS rank_ci,
             count(*) OVER (PARTITION BY collate(s, 'UTF8_LCASE')) AS n_ci,
             collate(s, 'UTF8_LCASE') = 'apple' AS is_apple
      FROM (VALUES (1, 'Apple'), (2, 'apple'), (3, 'BANANA'), (4, 'banana'),
                   (5, 'Cherry'), (6, 'APPLE'), (7, 'cherry'), (8, 'Banana'))
           AS v(id, s)
      ORDER BY id""",
      """
      SELECT id, s,
             row_number() OVER (ORDER BY lower(s), id) AS rank_ci,
             count(*) OVER (PARTITION BY lower(s)) AS n_ci,
             lower(s) = 'apple' AS is_apple
      FROM (VALUES (1, 'Apple'), (2, 'apple'), (3, 'BANANA'), (4, 'banana'),
                   (5, 'Cherry'), (6, 'APPLE'), (7, 'cherry'), (8, 'Banana'))
           AS v(id, s)
      ORDER BY id"""),

    // ANSI-mode error surface: try_* forms return NULL where strict
    // evaluation would raise (division by zero, malformed cast, int64
    // overflow) — the oracle recomputes with NULLIF/TRY_CAST/constant
    // NULL equivalents
    Entry.sql("fn_try_surface", """
      SELECT l_orderkey, l_linenumber,
             try_divide(CAST(l_extendedprice AS DOUBLE), l_quantity) AS ratio,
             try_divide(CAST(l_extendedprice AS DOUBLE),
                        l_quantity - l_quantity) AS div0,
             TRY_CAST(l_returnflag AS INT) AS bad_int,
             try_add(CAST(9223372036854775807 AS BIGINT),
                     CAST(l_orderkey + 1 AS BIGINT)) AS ovf
      FROM lineitem WHERE l_orderkey < 50
      ORDER BY l_orderkey, l_linenumber""",
      """
      SELECT l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DOUBLE) / l_quantity AS ratio,
             CAST(l_extendedprice AS DOUBLE)
               / NULLIF(l_quantity - l_quantity, 0) AS div0,
             TRY_CAST(l_returnflag AS INT) AS bad_int,
             CAST(NULL AS BIGINT) AS ovf
      FROM lineitem WHERE l_orderkey < 50
      ORDER BY l_orderkey, l_linenumber"""),

    // calendar arithmetic surface; month addition clamps to month end in
    // both engines, day-of-week re-based to Spark's 1=Sunday convention
    Entry.sql("fn_datetime_surface", """
      SELECT o_orderkey,
             date_add(CAST(o_orderdate AS DATE), 30) AS plus30,
             add_months(CAST(o_orderdate AS DATE), 2) AS plus2m,
             last_day(CAST(o_orderdate AS DATE)) AS eom,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mstart,
             datediff(DATE '1998-12-31', CAST(o_orderdate AS DATE)) AS days_left,
             year(o_orderdate) * 100 + month(o_orderdate) AS yyyymm,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow
      FROM orders WHERE o_orderkey < 200
      ORDER BY o_orderkey""",
      """
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
             last_day(CAST(o_orderdate AS DATE)) AS eom,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mstart,
             CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_left,
             CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow
      FROM orders WHERE o_orderkey < 200
      ORDER BY o_orderkey"""),

    // ANSI interval-type surface: YEAR TO MONTH / DAY TO SECOND interval
    // literals in date/timestamp arithmetic — month addition clamps to
    // month end in both engines; outputs leave as DATE / exact micros /
    // day counts (never a raw interval, whose rendering differs)
    Entry.sql("fn_interval_surface", """
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL '1-2' YEAR TO MONTH AS DATE) AS plus_ym,
             CAST(CAST(o_orderdate AS DATE) - INTERVAL '3' MONTH AS DATE) AS minus_q,
             unix_micros(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
                         + INTERVAL '2 03:04:05' DAY TO SECOND) AS plus_dt_us,
             datediff(CAST(CAST(o_orderdate AS DATE) + INTERVAL '1-2' YEAR TO MONTH AS DATE),
                      CAST(o_orderdate AS DATE)) AS ym_days
      FROM orders WHERE o_orderkey < 200
      ORDER BY o_orderkey""",
      """
      SELECT o_orderkey,
             CAST(o_orderdate + INTERVAL '1 year 2 months' AS DATE) AS plus_ym,
             CAST(o_orderdate - INTERVAL '3 months' AS DATE) AS minus_q,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)
                           + INTERVAL '2 days 3 hours 4 minutes 5 seconds') AS BIGINT) AS plus_dt_us,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(o_orderdate + INTERVAL '1 year 2 months' AS DATE)) AS INT) AS ym_days
      FROM orders WHERE o_orderkey < 200
      ORDER BY o_orderkey"""),

    // Spark 4 SQL pipe syntax: the same relational content as a classic
    // GROUP BY (the oracle), staged as |> operators; grouping keys lead
    // the AGGREGATE output schema
    Entry.sql("sql_pipe_syntax", """
      FROM lineitem
      |> WHERE l_shipdate >= DATE '1994-01-01'
      |> AGGREGATE COUNT(*) AS n_items,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         GROUP BY l_returnflag
      |> ORDER BY l_returnflag""",
      // the classic formulation of the pipe-syntax entry
      """
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= DATE '1994-01-01'
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry.sql("unnest_pos", """
      SELECT vec_id, CAST(pos + 1 AS BIGINT) AS pos,
             CAST(ROUND(CAST(val AS DOUBLE), 6) AS DOUBLE) AS val
      FROM embeddings
      LATERAL VIEW POSEXPLODE(embedding) t AS pos, val
      WHERE vec_id < 20
      ORDER BY vec_id, pos""",
      """
      SELECT vec_id, pos, CAST(ROUND(val, 6) AS DOUBLE) AS val
      FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings WHERE vec_id < 20) t
      ORDER BY vec_id, pos"""),
    // explode + re-aggregation: per-vector element count and abs-sum
    Entry.sql("unnest_reagg", """
      SELECT vec_id, COUNT(*) AS n_dims,
             CAST(ROUND(SUM(CAST(ABS(val) AS DECIMAL(18,9))), 6) AS DOUBLE) AS l1_norm
      FROM embeddings
      LATERAL VIEW EXPLODE(embedding) t AS val
      GROUP BY vec_id
      ORDER BY vec_id""",
      """
      SELECT vec_id, COUNT(*) AS n_dims,
             CAST(ROUND(SUM(CAST(ABS(val) AS DECIMAL(18,9))), 6) AS DOUBLE) AS l1_norm
      FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings) t
      GROUP BY vec_id
      ORDER BY vec_id"""),
    // DISTINCT ON (reference DistinctOnNode datafusion.proto:251-260):
    // Spark has no DISTINCT ON syntax — the idiom is row_number()=1 over
    // the same (partition, order) spec, which Spark executes with
    // WindowGroupLimit pushdown (rank filter prunes before the sort)
    Entry.sql("distinct_on", """
      SELECT c_nationkey, c_custkey, c_acctbal
      FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer) t
      WHERE rn = 1
      ORDER BY c_nationkey""",
      // DuckDB's native DISTINCT ON, same first-row-per-group ordering
      """
      SELECT c_nationkey, c_custkey, c_acctbal
      FROM (SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
            FROM customer
            ORDER BY c_nationkey, c_acctbal DESC, c_custkey) t
      ORDER BY c_nationkey"""),
    // predicate surface: ILIKE (case-insensitive), IS NOT TRUE (3-valued),
    // TRY_CAST (never errors), regex match — Spark spells it regexp_like
    Entry.sql("pred_surface", """
      SELECT p_partkey, p_name, p_type,
             CAST(p_name ILIKE '%WIDGET%' AS BOOLEAN) AS is_widget,
             TRY_CAST(p_brand AS INT) AS brand_num
      FROM part
      WHERE p_name ILIKE '%ROD%'
        AND regexp_like(p_type, '^(ECONOMY|PROMO)$')
        AND (p_size > 40) IS NOT TRUE
      ORDER BY p_partkey""",
      // DuckDB spells the regex predicate regexp_matches
      """
      SELECT p_partkey, p_name, p_type,
             CAST(p_name ILIKE '%WIDGET%' AS BOOLEAN) AS is_widget,
             TRY_CAST(p_brand AS INT) AS brand_num
      FROM part
      WHERE p_name ILIKE '%ROD%'
        AND regexp_matches(p_type, '^(ECONOMY|PROMO)$')
        AND (p_size > 40) IS NOT TRUE
      ORDER BY p_partkey"""),
    // GROUPS window frame — absent from Spark 4 (probed; SURVEY §2.B) —
    // composed Spark-first: dense_rank numbers the peer groups, the frame
    // becomes a ROWS frame over per-group partial sums, and rows join
    // their group's result back. DECIMAL end-to-end so the emulation is
    // bit-identical to DuckDB's NATIVE `GROUPS BETWEEN 1 PRECEDING AND
    // CURRENT ROW` in the oracle.
    Entry.sql("win_groups_frame", """
      WITH g AS (SELECT c_custkey, c_mktsegment, c_nationkey,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                        dense_rank() OVER (PARTITION BY c_mktsegment
                                           ORDER BY c_nationkey) AS grp
                 FROM customer),
      gs AS (SELECT c_mktsegment, grp, SUM(bal) AS gsum
             FROM g GROUP BY c_mktsegment, grp),
      gw AS (SELECT c_mktsegment, grp,
                    SUM(gsum) OVER (PARTITION BY c_mktsegment ORDER BY grp
                                    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS wsum
             FROM gs)
      SELECT g.c_custkey, g.c_mktsegment, g.c_nationkey,
             CAST(gw.wsum AS DOUBLE) AS groups_sum
      FROM g JOIN gw ON g.c_mktsegment = gw.c_mktsegment AND g.grp = gw.grp
      ORDER BY g.c_custkey""",
      // DuckDB 1.0 lacks GROUPS frames too ("not implemented yet"), so the
      // oracle recomputes the frame semantics INDEPENDENTLY as a dense_rank
      // range join: sum every row of the partition whose peer-group rank is
      // within [grp-1, grp] — a different plan shape reaching the same
      // definition, which is exactly what a differential check wants
      """
      WITH g AS (SELECT c_custkey, c_mktsegment, c_nationkey,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                        dense_rank() OVER (PARTITION BY c_mktsegment
                                           ORDER BY c_nationkey) AS grp
                 FROM customer)
      SELECT a.c_custkey, a.c_mktsegment, a.c_nationkey,
             CAST((SELECT SUM(b.bal) FROM g b
                   WHERE b.c_mktsegment = a.c_mktsegment
                     AND b.grp BETWEEN a.grp - 1 AND a.grp) AS DOUBLE) AS groups_sum
      FROM g a ORDER BY a.c_custkey"""),

    // MapType surface (the last proto type-lattice row Spark can express,
    // datafusion_common.proto:320-359): per-customer status->count map
    // built with map_from_entries, consumed with try_element_at (ANSI mode
    // makes plain element_at THROW on a missing key) and size(); the map
    // never reaches the output schema (driver comparator contract)
    Entry.sql("map_entries_lookup", """
      WITH per AS (SELECT o_custkey AS k, o_orderstatus AS st, COUNT(*) AS n
                   FROM orders GROUP BY o_custkey, o_orderstatus),
      m AS (SELECT k, map_from_entries(collect_list(struct(st, n))) AS sm
            FROM per GROUP BY k)
      SELECT k AS custkey,
             CAST(COALESCE(try_element_at(sm, 'F'), 0) AS BIGINT) AS n_f,
             CAST(COALESCE(try_element_at(sm, 'O'), 0) AS BIGINT) AS n_o,
             CAST(COALESCE(try_element_at(sm, 'P'), 0) AS BIGINT) AS n_p,
             CAST(size(sm) AS INT) AS n_statuses
      FROM m
      WHERE k < 500
      ORDER BY custkey""",
      // the oracle reaches the same numbers WITHOUT a map type at all
      // (conditional aggregation) — an independent recomputation, which is
      // exactly what the differential check wants for a type Spark and
      // DuckDB spell incompatibly
      """
      SELECT o_custkey AS custkey,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
             CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses
      FROM orders
      WHERE o_custkey < 500
      GROUP BY o_custkey
      ORDER BY custkey"""),

    // PIVOT (reference surface: wide-format reshaping; Spark's native
    // PIVOT clause, 2.4+). Aggregates DECIMAL under the pivot, casts to
    // DOUBLE at the edge; a (pri, status) combination with no orders
    // yields NULL in both engines.
    Entry.sql("agg_pivot", """
      SELECT pri, CAST(f AS DOUBLE) AS sum_f, CAST(o AS DOUBLE) AS sum_o,
             CAST(p AS DOUBLE) AS sum_p
      FROM (SELECT o_orderpriority AS pri, o_orderstatus AS st,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS tp FROM orders)
      PIVOT (SUM(tp) FOR st IN ('F' AS f, 'O' AS o, 'P' AS p))
      ORDER BY pri""",
      // conditional aggregation — the pivot recomputed without a PIVOT
      // clause anywhere (independent recomputation)
      """
      SELECT o_orderpriority AS pri,
        CAST(SUM(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'O'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'P'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_p
      FROM orders GROUP BY o_orderpriority
      ORDER BY pri"""),
    // UNPIVOT back to long format (Spark's UNPIVOT clause, 3.4+); the
    // wide input is built by conditional aggregation so the entry
    // exercises both reshapes in one plan
    Entry.sql("agg_unpivot", """
      WITH wide AS (
        SELECT o_orderpriority AS pri,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY o_orderpriority)
      SELECT pri, st, cnt
      FROM wide UNPIVOT (cnt FOR st IN (n_f, n_o, n_p))
      ORDER BY pri, st""",
      // UNION ALL of labeled counts — the unpivot recomputed long-form
      """
      WITH base AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st FROM orders)
      SELECT pri, lbl AS st, cnt FROM (
        SELECT pri, 'n_f' AS lbl, COUNT(*) FILTER (WHERE st = 'F') AS cnt
        FROM base GROUP BY pri
        UNION ALL
        SELECT pri, 'n_o' AS lbl, COUNT(*) FILTER (WHERE st = 'O') AS cnt
        FROM base GROUP BY pri
        UNION ALL
        SELECT pri, 'n_p' AS lbl, COUNT(*) FILTER (WHERE st = 'P') AS cnt
        FROM base GROUP BY pri) u
      ORDER BY pri, st"""),

    // null-safe equi-join (SQL-standard IS NOT DISTINCT FROM; reference
    // surface: DataFusion plans eq_null_safe as a hash-join key exactly as
    // Catalyst's EqualNullSafe does — NOT a nested loop). Spark spells the
    // operator `<=>`; the NULL lookup row only matches because of it — a
    // plain `=` would leave `delinquent` at zero, so the semantics are
    // actually under test.
    Entry.sql("join_null_safe", """
      WITH c AS (SELECT c_custkey,
                        CASE WHEN c_acctbal < 0 THEN NULL
                             ELSE c_mktsegment END AS seg
                 FROM customer),
      l AS (SELECT seg, lbl FROM VALUES
              ('AUTOMOBILE', 'auto'), ('BUILDING', 'bldg'),
              (CAST(NULL AS STRING), 'delinquent') AS t(seg, lbl))
      SELECT l.lbl, COUNT(c.c_custkey) AS n_cust
      FROM l LEFT JOIN c ON c.seg <=> l.seg
      GROUP BY l.lbl
      ORDER BY l.lbl""",
      // DuckDB's ANSI spelling of the null-safe comparison
      """
      WITH c AS (SELECT c_custkey,
                        CASE WHEN c_acctbal < 0 THEN NULL
                             ELSE c_mktsegment END AS seg
                 FROM customer),
      l AS (SELECT * FROM (VALUES ('AUTOMOBILE', 'auto'), ('BUILDING', 'bldg'),
                                  (NULL, 'delinquent')) t(seg, lbl))
      SELECT l.lbl, COUNT(c.c_custkey) AS n_cust
      FROM l LEFT JOIN c ON c.seg IS NOT DISTINCT FROM l.seg
      GROUP BY l.lbl
      ORDER BY l.lbl"""),

    // higher-order collection functions over the embedding lists
    // (filter/exists/min/max/left-fold) — scalar outputs only per the
    // driver-comparator contract; the fold mirrors the cosine
    // determinism rules (0.0 init, left-to-right)
    Entry.sql("fn_collection_surface", """
      SELECT vec_id,
        CAST(size(filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        CAST(exists(embedding, x -> x > 0.5) AS BOOLEAN) AS has_big,
        CAST(ROUND(CAST(array_max(embedding) AS DOUBLE), 6) AS DOUBLE) AS mx,
        CAST(ROUND(CAST(array_min(embedding) AS DOUBLE), 6) AS DOUBLE) AS mn,
        CAST(ROUND(aggregate(slice(embedding, 1, 8), CAST(0.0 AS DOUBLE),
                             (acc, x) -> acc + x), 6) AS DOUBLE) AS head_sum
      FROM embeddings
      WHERE vec_id < 50
      ORDER BY vec_id""",
      // DuckDB's list-lambda spellings; + 0.0 canonicalizes ROUND's -0.0
      """
      SELECT vec_id,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        CAST(len(list_filter(embedding, x -> x > 0.5)) > 0 AS BOOLEAN) AS has_big,
        CAST(ROUND(CAST(list_max(embedding) AS DOUBLE), 6) + 0.0 AS DOUBLE) AS mx,
        CAST(ROUND(CAST(list_min(embedding) AS DOUBLE), 6) + 0.0 AS DOUBLE) AS mn,
        CAST(ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))),
               (acc, x) -> acc + x), 6) + 0.0 AS DOUBLE) AS head_sum
      FROM embeddings
      WHERE vec_id < 50
      ORDER BY vec_id"""),

    // cohort retention (the classic event-analytics matrix): users keyed
    // by first-active day, activity counted at day offsets. Two hash
    // aggregations + one equi-join on user_id — the first-day table is
    // user-sized and joins on the same key layout, no window anywhere.
    // Engine-specific only in the datediff spelling.
    Entry.sql("ts_retention_cohorts", """
      WITH act AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS DATE) AS day
                   FROM events),
      first AS (SELECT user_id, MIN(day) AS cohort_day
                FROM act GROUP BY user_id)
      SELECT f.cohort_day,
             CAST(datediff(a.day, f.cohort_day) AS INT) AS offset_days,
             COUNT(*) AS n_users
      FROM act a JOIN first f ON a.user_id = f.user_id
      GROUP BY f.cohort_day, datediff(a.day, f.cohort_day)
      ORDER BY cohort_day, offset_days""",
      // DuckDB's datediff takes the unit first and the endpoints reversed
      """
      WITH act AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS DATE) AS day
                   FROM events),
      first AS (SELECT user_id, MIN(day) AS cohort_day
                FROM act GROUP BY user_id)
      SELECT f.cohort_day,
             CAST(datediff('day', f.cohort_day, a.day) AS INT) AS offset_days,
             COUNT(*) AS n_users
      FROM act a JOIN first f ON a.user_id = f.user_id
      GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.day)
      ORDER BY cohort_day, offset_days"""),

    // exact percentiles (sort-based linear interpolation at (n-1)*p, the
    // SQL-standard PERCENTILE_CONT definition): Spark spells it
    // percentile(), DuckDB quantile_cont() — ROUND(6) absorbs any
    // last-bit interpolation difference
    Entry.sql("agg_percentile", """
      SELECT c_mktsegment,
             COUNT(*) AS n,
             CAST(ROUND(percentile(c_acctbal, 0.5), 6) AS DOUBLE) AS median_bal,
             CAST(ROUND(percentile(c_acctbal, 0.9), 6) AS DOUBLE) AS p90_bal
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
      """
      SELECT c_mktsegment,
             COUNT(*) AS n,
             CAST(ROUND(quantile_cont(c_acctbal, 0.5), 6) AS DOUBLE) AS median_bal,
             CAST(ROUND(quantile_cont(c_acctbal, 0.9), 6) AS DOUBLE) AS p90_bal
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  )
}
