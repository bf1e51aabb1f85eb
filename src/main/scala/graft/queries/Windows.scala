package graft.queries

/** Window-function coverage: the reference ships the full window surface in
  * its plan protobuf (`src/proto/datafusion.proto:1129-1139` WindowAggExec,
  * `:528-540` window exprs, `:597-622` ROWS/RANGE frames) but its TPC-H corpus
  * never exercises it; these queries do, with DuckDB-verifiable SQL.
  *
  * Determinism rules (cross-engine hash compare):
  *   - every ORDER BY inside an OVER() ends in a unique key chain, so
  *     ROW_NUMBER / LAG / LEAD / NTILE are well-defined;
  *   - windowed SUMs aggregate DECIMAL (order-independent, exact), cast to
  *     DOUBLE only at the output edge;
  *   - RANGE frames are peer-inclusive, so they are deterministic even
  *     without a unique ordering.
  *
  * Scale: Spark plans each window as hash-partition-by-key exchange + local
  * sort (`WindowExec`); partition keys here (custkey/suppkey/brand) have
  * cluster-scale cardinality, so no single-partition global window exists
  * in any of these plans (the classic 100 TB window killer).
  */
object Windows {
  private val TP = "CAST(o_totalprice AS DECIMAL(12,2))"
  private val QTY = "CAST(l_quantity AS DECIMAL(12,2))"

  /** Each entry runs the same SQL text in Spark and DuckDB. */
  val entries: Seq[Entry] = Seq(
    // row_number top-n per group — the canonical partitioned top-k
    Entry.sql("win_row_number_topn", s"""
      SELECT o_custkey, o_orderkey, o_totalprice, rn
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""),

    // time-interval RANGE frame — the frame a real sliding metric uses
    // (trailing 1 hour BY EVENT TIME, not by row count): peer-inclusive,
    // so deterministic without a unique ordering; money enters as
    // ROUND(value·100) integer cents and the windowed SUM stays integer
    Entry.sql("win_range_interval", s"""
      SELECT user_id, event_id,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cents_1h,
        CAST(COUNT(*) OVER (
          PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_1h
      FROM events
      ORDER BY user_id, event_id"""),

    // named-WINDOW clause — one definition, many consumers (and the
    // engine plans ONE sort for both functions); unique ordering chain
    Entry.sql("sql_window_clause", s"""
      SELECT user_id, event_id,
        ROW_NUMBER() OVER w AS rn,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w2 AS BIGINT)
          AS cum_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id),
             w2 AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS UNBOUNDED PRECEDING)
      ORDER BY user_id, rn"""),

    // rank/dense_rank/percent_rank with ties (deterministic under ties)
    Entry.sql("win_rank_dense", s"""
      SELECT p_brand, p_size, p_partkey,
        RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS rnk,
        DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS drnk,
        CAST(ROUND(PERCENT_RANK() OVER (PARTITION BY p_brand ORDER BY p_size), 6)
             AS DOUBLE) AS prnk
      FROM part
      WHERE p_size <= 5
      ORDER BY p_brand, p_size, p_partkey"""),

    // sliding ROWS frame sum (running 4-row window per supplier)
    Entry.sql("win_sliding_sum", s"""
      SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(SUM($QTY) OVER (PARTITION BY l_suppkey
                             ORDER BY l_shipdate, l_orderkey, l_linenumber
                             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS qty_sum
      FROM lineitem
      WHERE l_suppkey < 25
      ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber"""),

    // RANGE frame over a timestamp ordering (trailing 30-day revenue)
    Entry.sql("win_range_frame", s"""
      SELECT o_custkey, o_orderkey,
        CAST(SUM($TP) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                            RANGE BETWEEN INTERVAL '30' DAY PRECEDING
                                      AND CURRENT ROW)
             AS DOUBLE) AS tp_30d
      FROM orders
      WHERE o_custkey < 150
      ORDER BY o_custkey, o_orderkey"""),

    // lag/lead navigation + delta vs previous order
    Entry.sql("win_lag_lead", s"""
      SELECT o_custkey, o_orderkey,
        LAG(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS prev_ord,
        LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS next_ord,
        CAST($TP - LAG($TP) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
             AS DOUBLE) AS tp_delta
      FROM orders
      WHERE o_custkey < 150
      ORDER BY o_custkey, o_orderkey"""),

    // ratio-to-report: each row's share of its partition total — the
    // windowed sum aggregates DECIMAL (order-independent, exact), and the
    // one share division is correctly-rounded identically in both engines
    Entry.sql("win_ratio_to_total", s"""
      SELECT o_custkey, o_orderkey,
        CAST($TP AS DOUBLE) AS tp,
        CAST(ROUND(CAST($TP AS DOUBLE) /
               CAST(SUM($TP) OVER (PARTITION BY o_custkey) AS DOUBLE), 6)
             AS DOUBLE) AS share
      FROM orders
      WHERE o_custkey < 150
      ORDER BY o_custkey, o_orderkey"""),

    // ntile + cume_dist + first/last value with explicit full frame
    Entry.sql("win_ntile_firstlast", s"""
      SELECT o_custkey, o_orderkey,
        NTILE(4) OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS quartile,
        CAST(ROUND(CUME_DIST() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey), 6)
             AS DOUBLE) AS cd,
        FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING) AS top_ord,
        LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND UNBOUNDED FOLLOWING) AS bottom_ord
      FROM orders
      WHERE o_custkey < 150
      ORDER BY o_custkey, o_orderkey"""),

    // exact WEIGHTED median via cumulative-weight window: smallest value
    // whose running weight reaches half the partition total. DECIMAL
    // sums end-to-end (order-free, exact — the peer-inclusive RANGE
    // frame makes ties well-defined without a unique ordering); the one
    // DOUBLE cast is the output edge. Partition key is supplier —
    // cluster-scale cardinality, so no 100 TB single-partition window
    Entry.sql("agg_weighted_median", s"""
      WITH w AS (SELECT l_suppkey,
                        CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
                        $QTY AS wt
                 FROM lineitem),
      c AS (SELECT l_suppkey, v, wt,
                   SUM(wt) OVER (PARTITION BY l_suppkey ORDER BY v
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cw,
                   SUM(wt) OVER (PARTITION BY l_suppkey) AS tot
            FROM w)
      SELECT l_suppkey, CAST(min(v) AS DOUBLE) AS weighted_median
      FROM c WHERE cw * 2 >= tot
      GROUP BY l_suppkey ORDER BY l_suppkey"""),

    // running DISTINCT-user count per event type — the scale-correct
    // formulation: distinct collapses in a (type, user) pre-aggregate
    // (first event day per user), the cumulative window then runs over
    // the TINY (type, day) domain — never a per-event global window,
    // and no count(DISTINCT) inside any frame
    Entry.sql("win_cumulative_distinct", """
      WITH firsts AS (SELECT event_type, user_id,
                             CAST(min(ts) AS DATE) AS first_day
                      FROM events GROUP BY event_type, user_id),
      daily AS (SELECT event_type, first_day AS day, count(*) AS new_users
                FROM firsts GROUP BY event_type, first_day)
      SELECT event_type, day, CAST(new_users AS BIGINT) AS new_users,
             CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_users
      FROM daily ORDER BY event_type, day"""),

    // OHLC downsampling (the classic time-series resample): per
    // (type, hour) bucket — open/close picked by deterministic
    // (ts, event_id)-ordered row_numbers (single-row picks, exact
    // doubles, no aggregation arithmetic), high/low as plain min/max.
    // Window partitions are (type, hour) — bounded by per-hour data
    // rate, never a whole-key timeline
    Entry.sql("ts_resample_ohlc", """
      WITH r AS (SELECT event_type, date_trunc('hour', ts) AS bucket, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rno,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rnc
                 FROM events)
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
             MAX(CASE WHEN rno = 1 THEN value END) AS open,
             MAX(value) AS high, MIN(value) AS low,
             MAX(CASE WHEN rnc = 1 THEN value END) AS close
      FROM r GROUP BY event_type, bucket
      ORDER BY event_type, bucket"""),

    // exact GINI coefficient of per-doc length by source (the token-mass
    // inequality metric a curation team tracks per crawl) — the
    // HISTOGRAM formulation: ties collapse to (value, count) bins first,
    // so the cumulative window runs over DISTINCT values per source
    // (bounded domain), never a per-row sort — the tie-run rank algebra
    // Σ_{i=a..a+c-1}(2i-n-1) = c·(2a+c-n-2) keeps it exact in integers,
    // ONE double division at the edge
    Entry.sql("agg_gini", """
      WITH h AS (SELECT source, n_chars AS v, count(*) AS c
                 FROM documents GROUP BY source, n_chars),
      cum AS (SELECT source, v, c,
                COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0) AS bf,
                SUM(c) OVER (PARTITION BY source) AS n,
                SUM(v * c) OVER (PARTITION BY source) AS s
              FROM h)
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
             CAST(ROUND(
               CAST(SUM(v * c * (2 * (bf + 1) + c - n - 2)) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * CAST(max(s) AS DOUBLE)), 6)
               AS DOUBLE) AS gini
      FROM cum GROUP BY source ORDER BY source"""),

    // EXACT distributed OLS per group — never the built-in regr_*
    // aggregates (their double running sums are aggregation-order-
    // dependent): work in integer cents, per-row BIGINT products (bounded
    // by domain), DECIMAL(38,0) exact sums, the classic closed forms
    // n·Σxy−ΣxΣy over n·Σx²−(Σx)², and IEEE divisions only at the edge.
    // r² avoids squaring 38-digit decimals by moving to double first.
    Entry.sql("agg_regression_exact", """
      WITH pts AS (SELECT l_returnflag AS flag,
                          CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS xi,
                          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS yi
                   FROM lineitem),
      s AS (SELECT flag, count(*) AS n,
                   CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(yi AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(xi * yi AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(xi * xi AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(yi * yi AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
            FROM pts GROUP BY flag),
      d AS (SELECT flag, n,
                   CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS num,
                   CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS denx,
                   CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS deny,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
            FROM s)
      SELECT flag, CAST(n AS BIGINT) AS n,
             CAST(ROUND(num / denx, 6) AS DOUBLE) AS slope,
             CAST(ROUND((syd - num / denx * sxd) / (100.0 * n), 6) AS DOUBLE) AS intercept,
             CAST(ROUND(num * num / (denx * deny), 6) AS DOUBLE) AS r2
      FROM d ORDER BY flag"""),

    // hour-of-day seasonality profile per event type: DECIMAL-exact
    // hourly means + each hour's share of the type's traffic — the
    // diurnal fingerprint a scheduler/anomaly baseline consumes; one
    // scan, |types|×24 output rows at any event volume
    Entry.sql("ts_seasonality", """
      WITH e AS (SELECT event_type,
                        CAST(extract(HOUR FROM CAST(ts AS TIMESTAMP)) AS INT) AS hh,
                        CAST(value AS DECIMAL(18,6)) AS v
                 FROM events),
      h AS (SELECT event_type, hh, count(*) AS n, SUM(v) AS sv
            FROM e GROUP BY 1, 2),
      t AS (SELECT event_type, SUM(n) AS nt FROM h GROUP BY 1)
      SELECT h.event_type, h.hh, CAST(h.n AS BIGINT) AS n_events,
             CAST(ROUND(CAST(h.sv AS DOUBLE) / h.n, 6) AS DOUBLE) AS mean_value,
             CAST(ROUND(CAST(h.n AS DOUBLE) / t.nt, 6) AS DOUBLE) AS hour_share
      FROM h JOIN t ON h.event_type = t.event_type
      ORDER BY h.event_type, h.hh"""),

    // exact HOOVER (Robin Hood) index of per-doc length by source —
    // agg_gini's sortless companion: the share of total mass that would
    // have to move to equalize, H = Σ|x_i·n − S| / (2·n·S). No ordering
    // at all: one per-source (n, S) aggregate broadcast back over the
    // rows, integer products (int128 in DuckDB, BIGINT here — document
    // lengths × doc counts stay < 2^63 per source at any plausible
    // shard), ONE double division at the edge
    Entry.sql("agg_hoover", """
      WITH st AS (SELECT source, count(*) AS n, SUM(n_chars) AS s
                  FROM documents GROUP BY source)
      SELECT d.source, CAST(max(st.n) AS BIGINT) AS n_docs,
             CAST(ROUND(
               CAST(SUM(ABS(d.n_chars * st.n - st.s)) AS DOUBLE)
                 / (2.0 * CAST(max(st.n) AS DOUBLE) * CAST(max(st.s) AS DOUBLE)),
               6) AS DOUBLE) AS hoover
      FROM documents d JOIN st ON d.source = st.source
      GROUP BY d.source ORDER BY d.source"""),

    // sample-ratio-mismatch guardrail — the FIRST check any A/B readout
    // runs: users deterministically split 50/50 by an md5 bit, per-arm
    // DISTINCT-user counts compared with the 1-df chi-square in
    // cross-multiplied integers (one ROUND division at the edge) plus an
    // integer |z|>2 flag ((na−nb)² > 4(na+nb)) that never touches IEEE.
    // One scan, per-event-type rollup; md5 is the shared hash
    Entry.sql("agg_srm_check", """
      WITH arms AS (SELECT event_type, user_id,
                           substr(md5('srm' || user_id), 1, 1)
                             IN ('0','1','2','3','4','5','6','7') AS in_a
                    FROM events),
      c AS (SELECT event_type,
                   CAST(count(DISTINCT CASE WHEN in_a THEN user_id END) AS BIGINT) AS na,
                   CAST(count(DISTINCT CASE WHEN NOT in_a THEN user_id END) AS BIGINT) AS nb
            FROM arms GROUP BY event_type)
      SELECT event_type, na, nb,
             CAST(ROUND(CAST((na - nb) * (na - nb) AS DOUBLE)
                  / CAST(na + nb AS DOUBLE), 6) AS DOUBLE) AS chi2,
             CAST((na - nb) * (na - nb) > 4 * (na + nb) AS BOOLEAN) AS srm_flag
      FROM c ORDER BY event_type"""),

    // Lincoln–Petersen capture–recapture with the Chapman correction —
    // "how big is the corpus we HAVEN'T crawled": two independent md5-bit
    // samples play the two capture occasions, the overlap estimates the
    // population that produced both. n_true is published beside the
    // estimate (the fixture knows the answer — the point is checking the
    // estimator wiring, not pretending ignorance). Integer marks, one
    // ROUND division
    Entry.sql("agg_capture_recapture", """
      WITH s AS (SELECT doc_id,
                        substr(md5('capA' || doc_id), 1, 1)
                          IN ('0','1','2','3','4','5','6','7') AS in_a,
                        substr(md5('capB' || doc_id), 1, 1)
                          IN ('0','1','2','3','4','5','6','7') AS in_b
                 FROM documents)
      SELECT CAST(count_if(in_a) AS BIGINT) AS n1,
             CAST(count_if(in_b) AS BIGINT) AS n2,
             CAST(count_if(in_a AND in_b) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(ROUND(CAST((count_if(in_a) + 1) * (count_if(in_b) + 1) AS DOUBLE)
                  / CAST(count_if(in_a AND in_b) + 1 AS DOUBLE) - 1, 6)
                  AS DOUBLE) AS n_hat_chapman
      FROM s"""),

    // Welch two-sample t-statistic (the unequal-variance A/B test) per
    // status: urgent vs low priority order values. The five sufficient
    // statistics per arm are EXACT (counts + DECIMAL(38,0) sums of cents
    // and squared cents — never regr_*/var_samp, whose double running
    // sums fold in partition order), the closed form is a fixed tree of
    // correctly-rounded IEEE ops; one scan, conditional aggregation
    Entry.sql("agg_ab_welch", """
      WITH g AS (SELECT o_orderstatus AS st,
                        CASE WHEN o_orderpriority = '1-URGENT' THEN 'a'
                             ELSE 'b' END AS grp,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
                 FROM orders
                 WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      s AS (SELECT st,
                   SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS n1,
                   CAST(SUM(CASE WHEN grp = 'a' THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(CASE WHEN grp = 'a' THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q1,
                   SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS n2,
                   CAST(SUM(CASE WHEN grp = 'b' THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(CASE WHEN grp = 'b' THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q2
            FROM g GROUP BY st),
      d AS (SELECT st, n1, n2,
                   CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                   CAST(CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE) AS v1,
                   CAST(CAST(n2 AS DECIMAL(38,0)) * q2 - s2 * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE) AS v2
            FROM s WHERE n1 >= 2 AND n2 >= 2)
      SELECT st AS o_orderstatus,
             CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(ROUND((m1 - m2) / 100.0, 6) AS DOUBLE) AS mean_diff,
             CAST(ROUND((m1 - m2)
               / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)),
               6) AS DOUBLE) AS t_welch
      FROM d ORDER BY o_orderstatus"""),

    // minimum detectable effect — the power-analysis number every
    // experiment design starts from: pooled SD from DECIMAL-exact
    // sufficient statistics, MDE = (z_{0.975} + z_{0.8})·sqrt(s²(1/n1 +
    // 1/n2)) with the PUBLISHED normal quantiles entering as one literal
    // (1.959964 + 0.841621 = 2.801585); arms are the md5 user bit
    Entry.sql("agg_mde", """
      WITH g AS (SELECT event_type,
                        substr(md5('mde' || user_id), 1, 1)
                          IN ('0','1','2','3','4','5','6','7') AS in_a,
                        CAST(ROUND(value * 100) AS BIGINT) AS v
                 FROM events),
      s AS (SELECT event_type,
                   CAST(count_if(in_a) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q1,
                   CAST(count_if(NOT in_a) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q2
            FROM g GROUP BY event_type),
      d AS (SELECT event_type, n1, n2,
                   CAST(CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE) AS v1,
                   CAST(CAST(n2 AS DECIMAL(38,0)) * q2 - s2 * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE) AS v2
            FROM s WHERE n1 >= 2 AND n2 >= 2)
      SELECT event_type, n1, n2,
             CAST(ROUND(sqrt((CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2)
                  / CAST(n1 + n2 - 2 AS DOUBLE)) / 100.0, 6) AS DOUBLE) AS sd_pooled,
             CAST(ROUND(2.801585 * sqrt(((CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2)
                  / CAST(n1 + n2 - 2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) / 100.0, 6)
                  AS DOUBLE) AS mde
      FROM d ORDER BY event_type"""),

    // TOST equivalence test (two one-sided Welch t's against a ±500-cent
    // margin) — the NON-inferiority readout an A/B platform needs when
    // "no difference" is the desired outcome: a non-significant Welch t
    // is NOT evidence of equivalence, TOST is. Same md5 arm split and
    // DECIMAL-exact sufficient statistics as agg_mde/agg_ab_welch; both
    // one-sided t's and the z_{0.95}=1.644854 decision are fixed IEEE
    // trees over them, the verdict compares identical doubles
    Entry.sql("agg_tost", """
      WITH g AS (SELECT event_type,
                        substr(md5('tost' || user_id), 1, 1)
                          IN ('0','1','2','3','4','5','6','7') AS in_a,
                        CAST(ROUND(value * 100) AS BIGINT) AS v
                 FROM events),
      s AS (SELECT event_type,
                   CAST(count_if(in_a) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(CASE WHEN in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q1,
                   CAST(count_if(NOT in_a) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(CASE WHEN NOT in_a THEN CAST(v * v AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS q2
            FROM g GROUP BY event_type),
      d AS (SELECT event_type, n1, n2,
                   CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
                   sqrt((CAST(CAST(n1 AS DECIMAL(38,0)) * q1 - s1 * s1 AS DOUBLE)
                          / CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE))
                          / CAST(n1 AS DOUBLE)
                        + (CAST(CAST(n2 AS DECIMAL(38,0)) * q2 - s2 * s2 AS DOUBLE)
                            / CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE))
                            / CAST(n2 AS DOUBLE)) AS se
            FROM s WHERE n1 >= 2 AND n2 >= 2)
      SELECT event_type,
             CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(ROUND(diff / 100.0, 6) AS DOUBLE) AS mean_diff,
             CAST(ROUND((diff + 500.0) / NULLIF(se, CAST(0.0 AS DOUBLE)), 6)
               AS DOUBLE) AS t_lower,
             CAST(ROUND((500.0 - diff) / NULLIF(se, CAST(0.0 AS DOUBLE)), 6)
               AS DOUBLE) AS t_upper,
             (diff + 500.0) / NULLIF(se, CAST(0.0 AS DOUBLE)) > 1.644854
               AND (500.0 - diff) / NULLIF(se, CAST(0.0 AS DOUBLE)) > 1.644854
               AS equivalent
      FROM d ORDER BY event_type"""),

    // temporal referential integrity — the VALID-TIME side of an FK the
    // row-level constraints can't see: every lineitem must ship inside
    // its order's window (never before the order, flagged past +60d);
    // integer timestamp compares, rates as one ROUND division
    Entry.sql("qc_temporal_fk", """
      SELECT o.o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count_if(l.l_shipdate < o.o_orderdate) AS BIGINT) AS n_ship_before_order,
             CAST(count_if(l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS BIGINT) AS n_ship_beyond_60d,
             CAST(ROUND(CAST(count_if(l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS DOUBLE)
                  * 1000000.0 / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS late_ppm
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderstatus ORDER BY o_orderstatus"""),

    // delta-method standard error of a RATIO metric (revenue per event)
    // with user-level clustering — the correction every A/B readout of a
    // ratio needs (naive per-row SEs ignore that events cluster within
    // users): R = ΣX/ΣY over per-user totals, Var(R) from the linearized
    // residuals x_i − R·y_i, whose mean is 0 BY CONSTRUCTION of R, so
    // S² = (Sxx − 2R·Sxy + R²·Syy)/(n−1) straight from the exact
    // DECIMAL sufficient statistics. Same one-scan shape as agg_ab_welch;
    // a fixed tree of correctly-rounded IEEE ops at the edge
    Entry.sql("agg_delta_method_ratio", """
      WITH u AS (SELECT event_type, user_id,
                        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x,
                        CAST(COUNT(*) AS BIGINT) AS y
                 FROM events GROUP BY event_type, user_id),
      s AS (SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
                   CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
            FROM u GROUP BY event_type),
      d AS (SELECT event_type, n,
                   CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
                   CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
            FROM s WHERE n >= 2)
      SELECT event_type, CAST(n AS BIGINT) AS n_users,
             CAST(ROUND(r / 100.0, 6) AS DOUBLE) AS ratio,
             CAST(ROUND(sqrt((sxxd - 2 * r * sxyd + r * r * syyd)
                    / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE))
                  / (syd / CAST(n AS DOUBLE)) / 100.0, 6) AS DOUBLE) AS se_ratio
      FROM d ORDER BY event_type"""),

    // sliding mean-shift CHANGEPOINT score per user timeline: |mean of
    // the 8 preceding - mean of the 8 following| events, flagged above
    // threshold. DECIMAL frame sums (exact, order-free — DuckDB's
    // segment-tree window summation order differs from Spark's
    // sequential frame scan, so double sums would drift), one double
    // division per side at the edge; partitions are per-user
    // (cluster-scale cardinality)
    Entry.sql("ts_changepoint", """
      WITH b AS (SELECT user_id, ts, event_id,
                        CAST(value AS DECIMAL(18,6)) AS v
                 FROM events),
      w AS (SELECT user_id, event_id,
              SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS ls,
              COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS lc,
              SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS rs,
              COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS rc
            FROM b)
      SELECT user_id, event_id,
             CAST(ROUND(ABS(CAST(ls AS DOUBLE) / lc
                          - CAST(rs AS DOUBLE) / rc), 6) AS DOUBLE) AS shift
      FROM w
      WHERE lc = 8 AND rc = 8
        AND ABS(CAST(ls AS DOUBLE) / lc - CAST(rs AS DOUBLE) / rc) > 30
      ORDER BY user_id, event_id""")
  )
}
