package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.streaming.OutputMode

/** Source/sink and session-surface coverage (round-2 verdict items #3, #4,
  * #6, #7, #9, #10):
  *
  *   - CSV source+sink: multi-file write then schema'd read-back
  *     (reference `register_csv`, context.rs:69-79, CsvSink
  *     datafusion.proto:766-779);
  *   - NDJSON source+sink (reference NdJsonExec, util.rs:498-500);
  *   - listing table: a DIRECTORY of parquet files read as one table with
  *     filters pushed into the multi-file scan (reference
  *     register_listing_table, context.rs:82-107);
  *   - partitioned parquet sink with overwrite + append modes
  *     (FileSinkConfig/InsertOp, datafusion.proto:738-792);
  *   - repartition/coalesce as user surface (RepartitionExecNode,
  *     datafusion.proto:1220-1236);
  *   - parameterized SQL (PrepareNode, datafusion.proto:179-183);
  *   - events time-series coverage: hourly windows + session gaps + JSON
  *     props extraction.
  *
  * Each entry round-trips through real files under `<run root>/io/<sf>/`
  * (`graft.Session.root`; deleted when the session stops) and
  * is verified against a DuckDB oracle computed from the ORIGINAL parquet
  * tables — so a lossy write or a misread split shows up as a hash
  * mismatch, not just a row count.
  *
  * Determinism: writes use mode("overwrite") (or overwrite-then-append
  * within one call), so re-runs converge to the same files. Timestamps are
  * compared only after date_trunc/CAST(DATE) — `events.ts` is nanosecond
  * parquet which Spark truncates to micros, so raw ts values must never
  * reach an output row (Tables.scala nanos note).
  */
object Io {

  /** The events fixture as the FOUR time-and-hash slices the late-data
    * streaming entries replay one micro-batch each (see the
    * ts_stream_late_drop scaladoc for the watermark design): f1a = the
    * on-time history up to H12 minus a held-back 10% md5 slice, f1b = the
    * rest of the on-time history (H12, H6], f2 = the held-back slice
    * arriving two batches late, f3 = the fresh tail (> H6).
    */
  private def lateSlices(s: SparkSession): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val evs = s.table("events").select("ts", "event_id", "event_type", "value")
    val Array(h6, h12) = s.sql(
      """SELECT date_trunc('HOUR', max(ts)) - INTERVAL 6 HOUR,
        |       date_trunc('HOUR', max(ts)) - INTERVAL 12 HOUR
        |FROM events""".stripMargin)
      .head.toSeq.map(_.asInstanceOf[java.sql.Timestamp]).toArray
    val held =
      expr("conv(substr(md5(cast(event_id AS STRING)),1,15),16,10) % 10 = 0")
    Seq(evs.where(col("ts") <= lit(h12) && !held),
      evs.where(col("ts") > lit(h12) && col("ts") <= lit(h6) && !held),
      evs.where(col("ts") <= lit(h6) && held),
      evs.where(col("ts") > lit(h6)))
  }

  /** The events fixture as three event_id slices with the columns of
    * [[Streams.Event]]: the replay of an entry whose state does not
    * depend on how its input is split.
    */
  private def eventSlices(s: SparkSession): Seq[DataFrame] =
    Streams.idSlices(s.table("events"), "event_id").map(_.select(col("ts"),
      col("user_id"), col("event_type"), expr("CAST(value AS DOUBLE)").as("value")))

  /** Shared body of the stream-stream join entries: the purchase and
    * view slices of events as two file-source streams over the fixture
    * file, driven through [[Streams.intervalJoin]] by a
    * real StreamingQuery to a fixed-name memory sink.
    * On bounded, fully-drained input the INNER join emits exactly the
    * batch answer; LEFT-OUTER additionally emits null-padded unmatched
    * left rows once the final watermark evicts their join window (the
    * no-data closing batch advances the watermark, so the emission set
    * is deterministic).
    */
  private def streamIntervalJoin(s: SparkSession, d: String,
                                 joinType: String, sink: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    def side(t: String): DataFrame = Tables.stream(s, d, "events")
      .where(col("event_type") === t).select("ts", "user_id", "event_type")
    val joined = Streams.intervalJoin(
      side("purchase"), side("view"), joinType = joinType)
    Streams.runToMemory(joined, sink,
      OutputMode.Append())
    s.table(sink).orderBy("user_id", "left_ts", "right_ts")
  }

  /** The keyed changelog the upsert and SCD2 streams fold, from events. */
  private val changelogCols = Seq("user_id AS k", "event_id AS seq",
    """CASE WHEN event_type = 'purchase' AND user_id % 7 = 0 THEN 'D'
            WHEN event_type = 'click' THEN 'U' ELSE 'I' END AS op""",
    "CAST(value AS DECIMAL(18,2)) AS total")

  /** The Io entries' file area for fixture dir `dir`: `<run root>/io/<sf>`. */
  private def base(s: SparkSession, dir: String): String =
    s"${graft.Session.root(s)}/io/${new java.io.File(dir).getName}"

  /** Fixed test polygons for the point-in-polygon join, centi-degree
    * integer vertices (x = lon, y = lat); polygon 2 and 3 are concave,
    * so a bbox test alone cannot fake the answer.
    */
  private val geoPolys: Seq[(Int, Seq[(Int, Int)])] = Seq(
    1 -> Seq((0, 0), (6000, 0), (3000, 6000)),
    2 -> Seq((-8000, -8000), (-2000, -8000), (-2000, -2000), (-5000, -4000)),
    3 -> Seq((-15000, 2000), (-9000, 2000), (-9000, 8000), (-12000, 5000),
      (-15000, 8000)))

  /** Point-in-polygon SQL, parameterized only by the engine's md5→int
    * idiom for the synthesized point coordinates. Integer ray casting:
    * an edge is crossed iff it straddles py ((y1<=py) != (y2<=py)) and
    * the point lies strictly on the ray side, decided by the SIGN of the
    * cross product t = (x2−x1)(py−y1) − (px−x1)(y2−y1) — upward edges
    * need t>0, downward t<0; no division anywhere, products bounded by
    * 36000² so int64-exact in both engines. Inside = crossings odd.
    */
  private def geoPolygonSql(pxExpr: String, pyExpr: String): String = {
    val edges = geoPolys.flatMap { case (pid, vs) =>
      vs.zip(vs.tail :+ vs.head).map { case ((x1, y1), (x2, y2)) =>
        s"($pid, $x1, $y1, $x2, $y2)"
      }
    }.mkString(", ")
    s"""WITH pts AS (SELECT c_custkey AS id, $pxExpr AS px, $pyExpr AS py
       |             FROM customer),
       |e(pid, x1, y1, x2, y2) AS (VALUES $edges),
       |bbox AS (SELECT pid,
       |                MIN(LEAST(x1, x2)) AS minx, MAX(GREATEST(x1, x2)) AS maxx,
       |                MIN(LEAST(y1, y2)) AS miny, MAX(GREATEST(y1, y2)) AS maxy
       |         FROM e GROUP BY pid),
       |cand AS (SELECT p.id, p.px, p.py, b.pid
       |         FROM pts p JOIN bbox b
       |           ON p.px >= b.minx AND p.px <= b.maxx
       |          AND p.py >= b.miny AND p.py <= b.maxy),
       |cx AS (SELECT c.id, c.pid,
       |              SUM(CASE WHEN ((e.y1 <= c.py) != (e.y2 <= c.py))
       |                        AND (CASE WHEN e.y2 > e.y1
       |                             THEN (e.x2 - e.x1) * (c.py - e.y1)
       |                                  - (c.px - e.x1) * (e.y2 - e.y1) > 0
       |                             ELSE (e.x2 - e.x1) * (c.py - e.y1)
       |                                  - (c.px - e.x1) * (e.y2 - e.y1) < 0 END)
       |                   THEN 1 ELSE 0 END) AS crossings
       |       FROM cand c JOIN e ON e.pid = c.pid
       |       GROUP BY c.id, c.pid)
       |SELECT pid AS polygon_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
       |       CAST(MIN(id) AS BIGINT) AS min_id,
       |       CAST(MAX(id) AS BIGINT) AS max_id,
       |       CAST(SUM(id) AS BIGINT) AS id_sum
       |FROM cx WHERE crossings % 2 = 1
       |GROUP BY pid ORDER BY polygon_id""".stripMargin
  }

  private val ivfOracleCtes: String =
    s"""cent AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS ce
       |         FROM embeddings WHERE vec_id IN (3, 17, 31, 59)),
       |asg0 AS (SELECT v.vec_id, c.cid,
       |                ${Llm.duckCosineRaw("v.embedding", "c.ce")} AS cos
       |         FROM embeddings v CROSS JOIN cent c),
       |mx AS (SELECT vec_id, MAX(cos) AS m FROM asg0 GROUP BY vec_id),
       |asg AS (SELECT a.vec_id, MIN(a.cid) AS cid
       |        FROM asg0 a JOIN mx ON a.vec_id = mx.vec_id AND a.cos = mx.m
       |        GROUP BY a.vec_id),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
       |pc AS (SELECT cid FROM asg WHERE vec_id = 7)""".stripMargin

  val entries: Seq[Entry] = Seq(
    // ---- sources / sinks -------------------------------------------------
    // dirty-ingest semantics: every c_custkey % 50 == 0 row lands with a
    // non-numeric key field; PERMISSIVE mode must null the typed columns
    // and capture the raw line in the corrupt-record column, leaving the
    // clean rows exact — the landing-zone contract a 100 TB ingest needs
    // before it can quarantine bad shards. The oracle recomputes both
    // populations from the fixture
    Entry("src_csv_malformed", (s, d) => {
      val cust = s.table("customer")
      val lines = cust.select(expr(
        "concat(CASE WHEN c_custkey % 50 = 0 THEN 'garbage' " +
          "ELSE CAST(c_custkey AS STRING) END, '|', c_mktsegment, '|', " +
          "CAST(c_acctbal AS STRING))").as("value"))
      val p = s"${base(s, d)}/customer_dirty_csv"
      lines.repartition(2).write.mode("overwrite").text(p)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE, _bad STRING")
      s.read.schema(schema)
        .option("sep", "|").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(p)
        .groupBy("c_mktsegment")
        // n_keys_parsed references c_custkey ON PURPOSE: corrupt-record
        // capture only fires for columns in the pruned read schema, so an
        // aggregate that never touches the key would never see its
        // conversion fail (probed — the documented CSV-pruning caveat)
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_custkey")).as("n_keys_parsed"),
          count(col("_bad")).as("n_corrupt"),
          expr("CAST(SUM(CASE WHEN _bad IS NULL THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE)")
            .as("sum_clean_bal"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment,
        |       count(*) AS n_rows,
        |       COUNT(CASE WHEN c_custkey % 50 <> 0 THEN 1 END) AS n_keys_parsed,
        |       COUNT(CASE WHEN c_custkey % 50 = 0 THEN 1 END) AS n_corrupt,
        |       CAST(SUM(CASE WHEN c_custkey % 50 <> 0
        |                     THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE)
        |         AS sum_clean_bal
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),

    Entry("src_csv_roundtrip", (s, d) => {
      val orders = s.table("orders")
      val p = s"${base(s, d)}/orders_csv"
      orders.repartition(4).write.mode("overwrite").option("header", "true").csv(p)
      s.read.schema(orders.schema).option("header", "true").csv(p)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_tp"),
          expr("CAST(MIN(o_orderdate) AS DATE)").as("first_date"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp,
        |       CAST(MIN(o_orderdate) AS DATE) AS first_date
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),

    // hidden file-metadata columns: Spark's _metadata struct exposes the
    // scan's own file name and PHYSICAL row index — the lineage /
    // row-provenance surface (debugging which file produced a row). The
    // oracle predicts the physical index independently: the fixture
    // writer emits documents in doc_id order (invariant checked across
    // all three SFs with DuckDB file_row_number), so row_index == doc_id
    Entry("src_metadata_cols", (s, d) => {
      val md = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_index"))
      // loud invariant (r15 ADVICE): the oracle's row_index == doc_id
      // prediction only holds while the fixture is ONE file written in
      // doc_id order. A regenerated multi-file/reordered fixture used to
      // surface as a confusing hash mismatch; assert_true over the FULL
      // table's distinct-file count (1-row broadcast, not a cartesian)
      // turns layout drift into a readable failure at the source.
      val files = md.agg(countDistinct("file_name").as("n_files"))
      md.where("doc_id < 100")
        .crossJoin(broadcast(files))
        .where(expr("assert_true(n_files = 1, " +
          "'src_metadata_cols: documents.parquet is no longer a single " +
          "file - row_index invariant broken') IS NULL"))
        .drop("n_files")
        .orderBy("doc_id")
    },
      // the physical index predicted from the fixture writer's doc_id
      // order (invariant verified with DuckDB file_row_number at every SF)
      """
      SELECT doc_id, 'documents.parquet' AS file_name,
             CAST(doc_id AS BIGINT) AS row_index
      FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    Entry("src_ndjson_roundtrip", (s, d) => {
      val customer = s.table("customer")
      val p = s"${base(s, d)}/customer_json"
      customer.repartition(3).write.mode("overwrite").json(p)
      s.read.schema(customer.schema).json(p)
        .groupBy("c_mktsegment")
        .agg(count("*").as("n_cust"),
          expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)").as("sum_bal"),
          min("c_name").as("first_name"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
        |       min(c_name) AS first_name
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),

    // Arrow IPC round-trip through the custom DataSource V2 (read+write):
    // two-phase-commit distributed write, multi-file scan, pruned read —
    // oracle over the original parquet proves value fidelity end to end
    Entry("src_arrow_roundtrip", (s, d) => {
      val sup = s.table("supplier").selectExpr(
        "CAST(s_suppkey AS BIGINT) AS s_suppkey", "s_name",
        "CAST(s_nationkey AS BIGINT) AS s_nationkey",
        "CAST(s_acctbal AS DOUBLE) AS s_acctbal")
      val p = s"${base(s, d)}/supplier_arrow"
      sup.repartition(3).write.format("graft.sources.ArrowIpcSource")
        .mode("overwrite").save(p)
      s.read.format("graft.sources.ArrowIpcSource").load(p)
        .groupBy("s_nationkey")
        .agg(count("*").as("n_supp"),
          expr("CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)").as("sum_bal"),
          min("s_name").as("first_name"))
        .orderBy("s_nationkey")
    },
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_supp,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
        |       min(s_name) AS first_name
        |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin),

    // ANN INDEX AS TABLE LAYOUT: the IVF assignment becomes a
    // partitionBy(centroid_id) parquet layout, and a query probes ONE
    // partition — Hive-style partition pruning (gated in PlanShapeSpec)
    // turns nprobe=1 into "read 1/k of the corpus from disk", the
    // serving-side half of the IVF design the in-memory llm_ivf_topk
    // entry computes inline. The oracle replays assignment for the
    // whole corpus and ranks within the probe's cluster
    Entry("sink_ivf_partitioned", (s, d) => {
      import graft.llm.Ivf
      val e = s.table("embeddings")
      val cents = e.where(col("vec_id").isin(3, 17, 31, 59))
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid"))
      val p = s"${base(s, d)}/ivf_shards"
      Ivf.assign(e, cents).write.mode("overwrite")
        .partitionBy("centroid_id").parquet(p)
      val probe = e.where("vec_id = 7")
      val pc = Ivf.assign(probe, cents)
        .select(col("centroid_id").cast("int")).collect()(0).getInt(0)
      val shard = s.read.parquet(p)
        .where(col("centroid_id") === lit(pc) && col("vec_id") =!= 7)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("vec_id"))
      shard
        .crossJoin(broadcast(probe.select(col("embedding").as("__pe"))))
        .select(col("vec_id"),
          expr("CAST(ROUND(graft_cosine(embedding, __pe), 6) AS DOUBLE)")
            .as("cos"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("rank"), col("vec_id"), lit(pc).as("centroid_id"),
          col("cos"))
        .orderBy("rank")
    },
      // assignment replayed corpus-wide (raw-cosine argmax, min-cid ties
      // — the Ivf.assign contract), then ranked within the probe's cluster
      s"""WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS ce
         |           FROM embeddings WHERE vec_id IN (3, 17, 31, 59)),
         |a AS (SELECT v.vec_id, c.cid,
         |             ${Llm.duckCosineRaw("v.embedding", "c.ce")} AS cos
         |      FROM embeddings v CROSS JOIN c),
         |mx AS (SELECT vec_id, MAX(cos) AS m FROM a GROUP BY vec_id),
         |asg AS (SELECT a.vec_id, MIN(a.cid) AS cid
         |        FROM a JOIN mx ON a.vec_id = mx.vec_id AND a.cos = mx.m
         |        GROUP BY a.vec_id),
         |pc AS (SELECT cid FROM asg WHERE vec_id = 7),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
         |scored AS (SELECT e.vec_id,
         |                  ${Llm.duckCosine("e.embedding", "qe")} AS cos
         |           FROM asg JOIN embeddings e ON e.vec_id = asg.vec_id,
         |                pc, q
         |           WHERE asg.cid = pc.cid AND asg.vec_id <> 7),
         |r AS (SELECT vec_id, cos,
         |             row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
         |      FROM scored)
         |SELECT CAST(rank AS INT) AS rank, vec_id,
         |       (SELECT CAST(cid AS INT) FROM pc) AS centroid_id, cos
         |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin),

    // IVF-PQ SERVING: the full composition a 100 TB ANN serving tier
    // runs — PQ codes stored INSIDE the partitionBy(centroid_id) layout
    // (the serving tier never stores raw floats: 64x smaller shards),
    // probe = partition-prune to ONE shard + ADC scan against a
    // REQUEST-SIDE literal lookup table. The m x nCodes LUT is computed
    // driver-side from the probe vector (serving-request-sized state by
    // definition), so the shard scan is pure map work: no join carries
    // the probe, no NLJ anywhere — plan-gated in PlanShapeSpec
    Entry("llm_ivfpq_serving", (s, d) => {
      import graft.llm.{Ivf, Similarity}
      val e = s.table("embeddings")
      val cents = e.where(col("vec_id").isin(3, 17, 31, 59))
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid"))
      val p = s"${base(s, d)}/ivfpq_shards"
      Similarity.pqCodes(Ivf.assign(e, cents))
        .select("vec_id", "pq_codes", "centroid_id")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(p)
      val probe = e.where("vec_id = 7")
      val pc = Ivf.assign(probe, cents)
        .select(col("centroid_id").cast("int")).collect()(0).getInt(0)
      val pe = probe.select("embedding").collect()(0)
        .getSeq[Float](0).map(_.toDouble)
      val lutLit = Similarity.pqLookupTable(pe)
        .map(_.mkString("array(", "D, ", "D)"))
        .mkString("array(", ", ", ")")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("dist_raw").asc, col("cand_id"))
      s.read.parquet(p)
        .where(col("centroid_id") === lit(pc) && col("vec_id") =!= 7)
        .select(col("vec_id").as("cand_id"), expr(
          s"""aggregate(transform(pq_codes,
             |  (c, m) -> element_at(element_at($lutLit, m + 1), c + 1)),
             |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
          .as("dist_raw"))
        .orderBy(col("dist_raw").asc, col("cand_id")).limit(3)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("cand_id"), lit(pc).as("centroid_id"),
          expr("CAST(ROUND(dist_raw, 6) AS DOUBLE)").as("dist"))
        .orderBy("rank")
    },
      // PQ codes + assignment replayed corpus-wide; the probe's ADC
      // distance is its per-subspace distance to each candidate's assigned
      // centroid, folded in subspace order (the llm_pq_topk fold), ranked
      // within the probe's own cluster only
      s"""WITH ${Llm.pqCodeCtes},
         |$ivfOracleCtes,
         |pdist AS (SELECT m, j, d FROM pd WHERE vec_id = 7),
         |adc AS (SELECT cq.vec_id AS cand_id,
         |               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                 list(pdist.d ORDER BY cq.m)), (acc, v) -> acc + v) AS dist
         |        FROM pqcodes cq
         |        JOIN asg a ON a.vec_id = cq.vec_id
         |        JOIN pdist ON pdist.m = cq.m AND pdist.j = cq.code, pc
         |        WHERE a.cid = pc.cid AND cq.vec_id <> 7
         |        GROUP BY cq.vec_id),
         |r AS (SELECT cand_id, dist,
         |             row_number() OVER (ORDER BY dist, cand_id) AS rank
         |      FROM adc)
         |SELECT CAST(rank AS INT) AS rank, cand_id,
         |       (SELECT CAST(cid AS INT) FROM pc) AS centroid_id,
         |       CAST(ROUND(dist, 6) AS DOUBLE) AS dist
         |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin),

    // the serving path's quality row: recall@3 of the IVF-PQ shard scan
    // against the exact full-corpus cosine top-3 — the number an ANN
    // deployment publishes next to its latency
    Entry("llm_ivfpq_recall", (s, d) => {
      import graft.llm.{Ivf, Similarity}
      val e = s.table("embeddings")
      val cents = e.where(col("vec_id").isin(3, 17, 31, 59))
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid"))
      val p = s"${base(s, d)}/ivfpq_shards_r"
      Similarity.pqCodes(Ivf.assign(e, cents))
        .select("vec_id", "pq_codes", "centroid_id")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(p)
      val probe = e.where("vec_id = 7")
      val pc = Ivf.assign(probe, cents)
        .select(col("centroid_id").cast("int")).collect()(0).getInt(0)
      val pe = probe.select("embedding").collect()(0)
        .getSeq[Float](0).map(_.toDouble)
      val lutLit = Similarity.pqLookupTable(pe)
        .map(_.mkString("array(", "D, ", "D)"))
        .mkString("array(", ", ", ")")
      val approx = s.read.parquet(p)
        .where(col("centroid_id") === lit(pc) && col("vec_id") =!= 7)
        .select(lit(7L).as("probe_id"), col("vec_id").as("cand_id"), expr(
          s"""aggregate(transform(pq_codes,
             |  (c, m) -> element_at(element_at($lutLit, m + 1), c + 1)),
             |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
          .as("dist_raw"))
        .orderBy(col("dist_raw").asc, col("cand_id")).limit(3)
      Similarity.annRecall(Similarity.bruteForceTopK(probe, e, 3), approx)
        .orderBy("probe_id")
    },
      // the same ADC shard scan vs the exact full-corpus cosine top-3
      s"""WITH ${Llm.pqCodeCtes},
         |$ivfOracleCtes,
         |pdist AS (SELECT m, j, d FROM pd WHERE vec_id = 7),
         |adc AS (SELECT cq.vec_id AS cand_id,
         |               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                 list(pdist.d ORDER BY cq.m)), (acc, v) -> acc + v) AS dist
         |        FROM pqcodes cq
         |        JOIN asg a ON a.vec_id = cq.vec_id
         |        JOIN pdist ON pdist.m = cq.m AND pdist.j = cq.code, pc
         |        WHERE a.cid = pc.cid AND cq.vec_id <> 7
         |        GROUP BY cq.vec_id),
         |ap AS (SELECT cand_id FROM (
         |         SELECT cand_id, row_number() OVER (ORDER BY dist, cand_id) AS rnk
         |         FROM adc) WHERE rnk <= 3),
         |ex AS (SELECT cand_id FROM (
         |         SELECT e.vec_id AS cand_id, row_number() OVER (
         |           ORDER BY ${Llm.duckCosine("e.embedding", "qe")} DESC,
         |                    e.vec_id) AS rnk
         |         FROM embeddings e, q WHERE e.vec_id <> 7) WHERE rnk <= 3)
         |SELECT CAST(7 AS BIGINT) AS probe_id,
         |       CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |       CAST((SELECT count(*) FROM ex JOIN ap USING (cand_id))
         |            AS BIGINT) AS n_hit,
         |       CAST(ROUND(
         |         CAST((SELECT count(*) FROM ex JOIN ap USING (cand_id)) AS DOUBLE)
         |         / NULLIF((SELECT count(*) FROM ex), 0), 6) AS DOUBLE) AS recall
         |""".stripMargin),

    // MULTI-PROBE IVF: the nprobe/recall frontier over the SAME
    // partition-pruned layout — nprobe shards selected with an IN on the
    // partition column (plan-gated: the scan's PartitionFilters carry the
    // probed centroid set), exact cosine within the probed shards,
    // recall@5 against the exact full-corpus top-5 per nprobe
    Entry("llm_ivf_nprobe", (s, d) => {
      import graft.llm.{Ivf, Similarity}
      val e = s.table("embeddings")
      val cents = e.where(col("vec_id").isin(3, 17, 31, 59))
        .select(col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid"))
      val p = s"${base(s, d)}/ivf_nprobe_shards"
      Ivf.assign(e, cents).write.mode("overwrite")
        .partitionBy("centroid_id").parquet(p)
      val probe = e.where("vec_id = 7")
      // probe-side centroid ranking: k rows, request-sized driver state
      val ranked = probe.crossJoin(broadcast(cents))
        .select(col("centroid_id"),
          expr("graft_cosine(embedding, centroid)").as("__c"))
        .orderBy(col("__c").desc, col("centroid_id"))
        .collect().map(_.getInt(0))
      val exact = Similarity.bruteForceTopK(probe, e, 5)
      Seq(1, 2, 4).map { np =>
        val shards = s.read.parquet(p)
          .where(col("centroid_id").isin(ranked.take(np).map(Int.box): _*) &&
            col("vec_id") =!= 7)
        val approx = shards
          .crossJoin(broadcast(probe.select(col("embedding").as("__pe"))))
          .select(lit(7L).as("probe_id"), col("vec_id").as("cand_id"),
            expr("CAST(ROUND(graft_cosine(embedding, __pe), 6) AS DOUBLE)")
              .as("cos"))
          .orderBy(col("cos").desc, col("cand_id")).limit(5)
        Similarity.annRecall(exact, approx).withColumn("nprobe", lit(np))
      }.reduce(_ unionByName _)
        .select("nprobe", "probe_id", "n_exact", "n_hit", "recall")
        .orderBy("nprobe")
    },
      // the nprobe sweep: probe-side centroid ranking (raw cosine, cid
      // ties), per-nprobe candidates from the top-nprobe clusters, exact
      // rounded-cosine top-5 within, recall vs the full-corpus top-5
      s"""WITH $ivfOracleCtes,
         |pr AS (SELECT cid, row_number() OVER (
         |         ORDER BY ${Llm.duckCosineRaw("c.ce", "qe")} DESC, c.cid) AS rnk
         |       FROM cent c, q),
         |np(nprobe) AS (VALUES (1), (2), (4)),
         |scored AS (SELECT a.vec_id AS cand_id, a.cid,
         |                  ${Llm.duckCosine("e.embedding", "qe")} AS cos
         |           FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id, q
         |           WHERE a.vec_id <> 7),
         |ap AS (SELECT np.nprobe, s.cand_id, row_number() OVER (
         |         PARTITION BY np.nprobe ORDER BY s.cos DESC, s.cand_id) AS rnk
         |       FROM np, scored s JOIN pr ON pr.cid = s.cid
         |       WHERE pr.rnk <= np.nprobe),
         |ex AS (SELECT cand_id FROM (
         |         SELECT cand_id, row_number() OVER (
         |           ORDER BY cos DESC, cand_id) AS rnk
         |         FROM scored) WHERE rnk <= 5),
         |hits AS (SELECT a.nprobe, count(*) AS n_hit
         |         FROM ap a JOIN ex ON ex.cand_id = a.cand_id
         |         WHERE a.rnk <= 5 GROUP BY a.nprobe)
         |SELECT np.nprobe, CAST(7 AS BIGINT) AS probe_id,
         |       CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |       CAST(ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |            / NULLIF((SELECT count(*) FROM ex), 0), 6) AS DOUBLE) AS recall
         |FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe
         |ORDER BY np.nprobe""".stripMargin),

    // FEDERATED query across three storage formats in ONE plan: the
    // parquet fact joins a dimension landed as Arrow IPC (our DSv2) and
    // another landed as Avro (our DSv2) — Catalyst treats all three as
    // ordinary relations (pruning/pushdown per source), which is the
    // whole point of the source abstraction: a 100 TB lake is never one
    // format, and the engine must not care
    Entry("src_federated_join", (s, d) => {
      val pArrow = s"${base(s, d)}/fed_supplier_arrow"
      val pAvro = s"${base(s, d)}/fed_nation_avro"
      s.table("supplier").selectExpr(
          "CAST(s_suppkey AS BIGINT) AS s_suppkey",
          "CAST(s_nationkey AS BIGINT) AS s_nationkey")
        .write.format("graft.sources.ArrowIpcSource")
        .mode("overwrite").save(pArrow)
      s.table("nation").selectExpr(
          "CAST(n_nationkey AS BIGINT) AS n_nationkey", "n_name")
        .write.format("graft.sources.AvroSource")
        .mode("overwrite").save(pAvro)
      s.table("lineitem")
        .join(s.read.format("graft.sources.ArrowIpcSource").load(pArrow),
          expr("l_suppkey = s_suppkey"))
        .join(s.read.format("graft.sources.AvroSource").load(pAvro),
          expr("s_nationkey = n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)")
            .as("sum_price"))
        .orderBy("n_name")
    },
      // recomputed over the parquet originals only — green proves both
      // DSv2 dimensions carried exactly the base rows into the join
      """SELECT n_name, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // TIME TRAVEL on the Arrow sink's commit log: overwrite lands
    // snapshot v1, append lands v2; a reader pinned to version 1 must
    // see ONLY the first generation even though the append already
    // published — the snapshot-isolation read a reproducible pipeline
    // pins its inputs with. The oracle recomputes each snapshot's
    // content from the base table: v1 = even keys, v2/latest = all
    Entry("src_arrow_time_travel", (s, d) => {
      val sup = s.table("supplier").selectExpr(
        "CAST(s_suppkey AS BIGINT) AS s_suppkey",
        "CAST(s_acctbal AS DOUBLE) AS s_acctbal")
      val p = s"${base(s, d)}/supplier_arrow_tt"
      graft.Tables.deleteRecursively(new java.io.File(p))
      sup.where("s_suppkey % 2 = 0").repartition(2)
        .write.format("graft.sources.ArrowIpcSource")
        .mode("overwrite").save(p)
      sup.where("s_suppkey % 2 = 1").repartition(2)
        .write.format("graft.sources.ArrowIpcSource")
        .mode("append").save(p)
      def snap(v: Option[Int], label: String) = {
        val r = s.read.format("graft.sources.ArrowIpcSource")
        v.foreach(x => r.option("version", x.toString))
        r.load(p)
          .agg(count(lit(1)).as("n"),
            expr("CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)")
              .as("sum_bal"))
          .select(lit(label).as("snap"), col("n"), col("sum_bal"))
      }
      snap(Some(1), "v1").unionAll(snap(Some(2), "v2"))
        .unionAll(snap(None, "latest"))
        .orderBy("snap")
    },
      // each snapshot recomputed from the base table: the v1-pinned read
      // must NOT see the appended odd keys
      """WITH ev AS (SELECT count(*) AS n,
        |              CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                AS sum_bal
        |            FROM supplier WHERE s_suppkey % 2 = 0),
        |al AS (SELECT count(*) AS n,
        |              CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                AS sum_bal
        |       FROM supplier)
        |SELECT 'v1' AS snap, n, sum_bal FROM ev
        |UNION ALL SELECT 'v2', n, sum_bal FROM al
        |UNION ALL SELECT 'latest', n, sum_bal FROM al
        |ORDER BY snap""".stripMargin),

    // embedding vectors through the Arrow DSv2 LIST type (the standard
    // vector-interchange format of embedding pipelines): per-vector fold
    // over the read-back list must be bit-identical to the parquet
    // original — a dropped/reordered/precision-damaged element cannot
    // hash-match
    Entry("src_arrow_vectors", (s, d) => {
      val e = s.table("embeddings")
      val p = s"${base(s, d)}/embeddings_arrow"
      e.repartition(3).write.format("graft.sources.ArrowIpcSource")
        .mode("overwrite").save(p)
      s.read.format("graft.sources.ArrowIpcSource").load(p)
        .selectExpr("vec_id",
          "CAST(size(embedding) AS INT) AS n_dims",
          """CAST(ROUND(aggregate(embedding, CAST(0.0 AS DOUBLE),
            |(acc, x) -> acc + x), 6) AS DOUBLE) AS vsum""".stripMargin,
          "label")
        .orderBy("vec_id")
    },
      // recomputed over the ORIGINAL parquet — green means the arrow list
      // write+read preserved every element bit-for-bit, in order
      """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
        |       CAST(ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(embedding, x -> CAST(x AS DOUBLE))),
        |         (acc, x) -> acc + x), 6) + 0.0 AS DOUBLE) AS vsum,
        |       label
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // Avro round-trip through the custom DataSource V2 (read+write; the
    // spark-avro module is absent, so the source builds on the Avro core
    // library): two-phase-commit distributed write, multi-file scan,
    // field-pruned decode — oracle over the original parquet
    Entry("src_avro_roundtrip", (s, d) => {
      val ord = s.table("orders").selectExpr(
        "CAST(o_orderkey AS BIGINT) AS o_orderkey", "o_orderstatus",
        "CAST(o_totalprice AS DOUBLE) AS o_totalprice")
      val p = s"${base(s, d)}/orders_avro"
      ord.repartition(3).write.format("graft.sources.AvroSource")
        .mode("overwrite").save(p)
      s.read.format("graft.sources.AvroSource").load(p)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_tp"),
          min("o_orderkey").as("first_key"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS first_key
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),

    // line-oriented text source with gzip codec (the raw-corpus landing
    // format): write tab-joined lines compressed, read back and re-split.
    // Scale note carried in the operator choice: gzip files are
    // NON-splittable — one file = one read task — so the writer controls
    // read parallelism via repartition(n) at write time; splittable
    // codecs or parquet are the right call once shards exceed ~1 GB
    Entry("src_text_gzip", (s, d) => {
      val lines = s.table("documents")
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("n_chars"))
          .as("value"))
      val p = s"${base(s, d)}/docs_txt_gz"
      lines.repartition(2).write.mode("overwrite")
        .option("compression", "gzip").text(p)
      s.read.text(p)
        .select(split(col("value"), "\t").as("f"))
        .selectExpr("CAST(f[0] AS BIGINT) AS doc_id", "f[1] AS lang",
          "CAST(f[2] AS BIGINT) AS n_chars")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS first_doc
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin),

    // ORC roundtrip through Spark's native columnar ORC source (predicate
    // pushdown + column pruning like parquet); the aggregate of the
    // read-back must equal the parquet-side oracle, so a lossy write or a
    // mis-read row hash-mismatches
    Entry("src_orc_roundtrip", (s, d) => {
      val part = s.table("part")
      val p = s"${base(s, d)}/part_orc"
      part.repartition(3).write.mode("overwrite").orc(p)
      s.read.orc(p)
        .where(col("p_size") <= 25)
        .groupBy("p_brand")
        .agg(count("*").as("n_parts"),
          expr("CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_price"),
          min("p_name").as("first_name"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, count(*) AS n_parts,
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |       min(p_name) AS first_name
        |FROM part WHERE p_size <= 25
        |GROUP BY 1 ORDER BY p_brand""".stripMargin),

    // XML round-trip through Spark 4's built-in XML source (rowTag
    // records, schema inference on read): entity escaping must preserve
    // the raw text bit-for-bit — the per-doc md5 fingerprint sum catches
    // any mangling; ignoreSurroundingSpaces=false so legitimate edge
    // whitespace survives. NULL text round-trips as an absent element →
    // both engines read it back through the same coalesce.
    Entry("src_xml_roundtrip", (s, d) => {
      val docsDf = s.table("documents")
      val p = s"${base(s, d)}/documents_xml"
      docsDf.repartition(3).write.mode("overwrite")
        .option("rowTag", "doc").format("xml").save(p)
      s.read.format("xml").option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .load(p)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars_sum"),
          // 48-bit digests: the per-lang SUM stays < 2^63 up to ~32k
          // docs per lang (15 hex chars overflowed int64 at 500 docs)
          sum(expr("CAST(conv(substr(md5(coalesce(text, '')), 1, 12), 16, 10) AS BIGINT)"))
            .as("fp_sum"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
        |       CAST(SUM(('0x' || substr(md5(coalesce(text, '')), 1, 12))::BIGINT)
        |            AS BIGINT) AS fp_sum
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin),

    // AGGREGATE PUSHDOWN into the parquet scan: with the v2 reader and
    // spark.sql.parquet.aggregatePushdown on, COUNT/MIN/MAX answer from
    // row-group FOOTER STATISTICS — zero data pages read, the
    // metadata-only plan a 100 TB "how big is this table" query needs
    // (plan-gated: PushedAggregation reaches the scan). Materialized
    // inside the conf scope (pushdown is decided at physical planning),
    // returned as the 1-row result.
    Entry("src_agg_pushdown", (s, d) => {
      import org.apache.spark.sql.functions.col
      val v1 = s.conf.get("spark.sql.sources.useV1SourceList").split(",")
        .map(_.trim).filterNot(v => v == "parquet" || v.isEmpty).mkString(",")
      graft.Session.withConf(s, Map("spark.sql.sources.useV1SourceList" -> v1,
          "spark.sql.parquet.aggregatePushdown" -> "true")) {
        // BIGINT columns only: footer min/max stats for them are always
        // present and pushdown-eligible (timestamp stats are not)
        val row = s.read.parquet(s"$d/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_okey"),
            max(col("l_orderkey")).as("max_okey"),
            min(col("l_partkey")).as("min_pkey"),
            max(col("l_partkey")).as("max_pkey"))
          .collect()(0)
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4)))
          .toDF("n_rows", "min_okey", "max_okey", "min_pkey", "max_pkey")
      }
    },
      """SELECT count(*) AS n_rows,
        |       min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |       min(l_partkey) AS min_pkey, max(l_partkey) AS max_pkey
        |FROM lineitem""".stripMargin, mutatesSession = true),

    Entry("src_listing_dir", (s, d) => {
      val li = s.table("lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      val p = s"${base(s, d)}/lineitem_dir"
      li.repartition(6).write.mode("overwrite").parquet(p)
      // directory-as-table: 6-file listing scan with the filter pushed down
      s.read.parquet(p)
        .where("l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'")
        .groupBy("l_returnflag")
        .agg(count("*").as("n_items"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    // NESTED-type round-trip: struct + array columns written to parquet
    // and read back with the projection reaching INSIDE the struct (the
    // ReadSchema prunes to the accessed fields — nested column pruning,
    // not a full-struct materialize); the oracle recomputes every field
    // from the flat source columns, so a shredding/reassembly bug in
    // either direction cannot hash-match
    Entry("src_nested_struct", (s, d) => {
      val p = s"${base(s, d)}/docs_nested"
      s.table("documents")
        .selectExpr("doc_id",
          "named_struct('lang', lang, 'n_chars', n_chars, 'src', source) AS meta",
          "array(source, lang) AS tags")
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
        .selectExpr("doc_id", "meta.lang AS lang",
          "meta.n_chars AS n_chars",
          "tags[0] AS tag0", "CAST(size(tags) AS INT) AS n_tags")
        .orderBy("doc_id")
    },
      // every nested field recomputed from the FLAT source columns
      """SELECT doc_id, lang, n_chars,
        |       source AS tag0, CAST(2 AS INT) AS n_tags
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("sink_parquet_partitioned", (s, d) => {
      val orders = s.table("orders")
      val p = s"${base(s, d)}/orders_by_status"
      orders.where("o_orderstatus = 'F'")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
      orders.where("o_orderstatus = 'O'")
        .write.mode("append").partitionBy("o_orderstatus").parquet(p)
      s.read.parquet(p)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_tp"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),

    // bucketed tables: both sides pre-hashed into the same bucket count on
    // the join key, so the join needs NO shuffle at all — at 100 TB this is
    // the difference between re-shuffling both fact tables per query and
    // reading co-located buckets (BucketedJoinSpec pins the no-Exchange
    // plan; here the differential check proves the bucketed files carry
    // the right rows)
    Entry("bucketed_join", (s, _) => {
      // project to the join/agg columns before bucketing: a bucketed layout
      // exists to be read many times, and materializing columns no reader
      // needs just multiplies the one-off write cost (at 100 TB, the write
      // IS the expensive step — it must carry only what the joins consume)
      val orders = s.table("orders").select("o_custkey", "o_totalprice")
      val cust = s.table("customer").select("c_custkey", "c_mktsegment")
      Tables.dropManaged(s, "b_orders")
      Tables.dropManaged(s, "b_customer")
      orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      cust.write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
      s.table("b_orders")
        .join(s.table("b_customer"), expr("o_custkey = c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count("*").as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_tp"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin, mutatesSession = true),

    // schema evolution: two parquet generations of the same table — the
    // later one grew a column — read as ONE table via mergeSchema (the
    // listing-table reality after any live pipeline adds a field; reference
    // users rely on the scan-level schema union). Early-generation rows
    // surface the new column as NULL; the oracle recomputes the same split
    // from the original fixture, so a dropped generation, a misaligned
    // column, or default-filled-instead-of-NULL all hash-mismatch.
    Entry("src_merge_schema", (s, d) => {
      val orders = s.table("orders")
      val dir = s"${base(s, d)}/orders_evolved"
      orders.where("o_orderkey % 2 = 0")
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/gen1")
      orders.where("o_orderkey % 2 = 1")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$dir/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
        .groupBy(coalesce(col("o_orderstatus"), lit("__pre_evolution")).as("status"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_tp"))
        .orderBy("status")
    },
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
        |            ELSE '__pre_evolution' END AS status,
        |       count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin),

    // small-file compaction (operators/Compact): 64 tiny files coalesced —
    // no shuffle — to the byte-target count, then the compacted copy is
    // aggregated against an oracle over the ORIGINAL fixture, so any row
    // lost or duplicated by the rewrite hash-mismatches. File-count
    // mechanics are pinned by LayoutOperatorSpec; this entry proves
    // losslessness.
    // parquet BLOOM FILTER write: a per-row-group bloom on the lookup key
    // rides in the footer, so a point predicate skips row groups whose
    // bloom misses — the data-skipping lever for HIGH-CARDINALITY keys
    // where min/max zone maps are useless (a uniform key spans every
    // file's min..max, but appears in few row groups). At 100 TB this is
    // the difference between scanning the corpus for one orderkey and
    // touching a handful of pages; needle-lookup pruning is what
    // LayoutOperatorSpec asserts on the footer (offset present, bloom
    // membership answers) — here the differential check proves the
    // filtered read returns exactly the base table's rows
    Entry("sink_parquet_bloom", (s, d) => {
      val p = s"${base(s, d)}/lineitem_bloom"
      s.table("lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
        .parquet(p)
      s.read.parquet(p)
        .where(col("l_orderkey").isin(7L, 1029L, 4480L, 29988L))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)")
            .as("sum_price"))
        .orderBy("l_orderkey")
    },
      // the bloom-written copy must answer the point lookup exactly like
      // the base table
      """SELECT l_orderkey, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM lineitem WHERE l_orderkey IN (7, 1029, 4480, 29988)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    Entry("sink_compact_small_files", (s, d) => {
      val staged = s"${base(s, d)}/compact_in"
      val compacted = s"${base(s, d)}/compact_out"
      s.table("events").repartition(64)
        .write.mode("overwrite").parquet(staged)
      graft.operators.Compact.parquetDir(s, staged, compacted,
        targetBytes = 64L * 1024 * 1024)
      s.read.parquet(compacted)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin, mutatesSession = true),

    // z-order layout (operators/ZOrder): Morton-interleave
    // (l_partkey, l_suppkey), then bucket the z-range with exact integer
    // arithmetic (z * 8 div (max+1) — `div`, not `/`: float division could
    // round a near-integer quotient the wrong way) and report each
    // bucket's bounding box in BOTH dimensions. Every row's 42-bit
    // interleave feeds some bucket's min/max, so one wrong bit anywhere
    // hash-mismatches; the per-file locality the layout buys is asserted
    // in LayoutOperatorSpec.
    Entry("layout_zorder", (s, _) => {
      import graft.operators.ZOrder
      val li = s.table("lineitem").select("l_partkey", "l_suppkey")
        .withColumn("z", ZOrder.zvalue(col("l_partkey"), col("l_suppkey")))
      val zmax = li.agg(max("z").as("zmax"))
      li.crossJoin(broadcast(zmax))
        .withColumn("bucket", expr("z * 8 div (zmax + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"),
          min("z").as("min_z"), max("z").as("max_z"))
        .orderBy("bucket")
    },
      {
      val z = graft.operators.ZOrder.zvalueSql("l_partkey", "l_suppkey")
      s"""WITH li AS (SELECT l_partkey, l_suppkey, $z AS z FROM lineitem),
         |m AS (SELECT max(z) AS zmax FROM li)
         |SELECT (z * 8) // (zmax + 1) AS bucket, count(*) AS n_rows,
         |       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
         |       min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk,
         |       min(z) AS min_z, max(z) AS max_z
         |FROM li CROSS JOIN m
         |GROUP BY 1 ORDER BY bucket""".stripMargin
    }),

    // LINEAR multi-touch attribution: each purchase's credit split 1/n
    // across the same user's touches in the preceding 2 hours — the
    // lookback is the binned point-in-interval join (touch = point,
    // purchase = [ts-2h, ts) interval; exactly-once by bin ownership,
    // never an NLJ), per-touch credit is ONE division rounded to 6 and
    // summed on DECIMAL (order-free). The fractional-credit sibling of
    // ts_attribution's last-touch rule
    Entry("ts_attribution_linear", (s, _) => {
      val ev = s.table("events")
      val touches = ev.where("event_type <> 'purchase'")
        .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
          col("event_type").as("touch_type"))
      val purchases = ev.where("event_type = 'purchase'")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          expr("ts - INTERVAL 2 HOURS").as("w_start"), col("ts").as("w_end"))
      val pairs = graft.operators.RangeJoin.pointInInterval(
          touches, "t_ts", purchases, "w_start", "w_end", binSeconds = 7200L)
        .where(col("t_user") === col("p_user"))
      // n per purchase via a whole-partition window (purchase-bounded
      // partitions) — no second join, one shuffle on p_id
      pairs
        .withColumn("n_touches", expr("count(1) OVER (PARTITION BY p_id)"))
        .withColumn("credit",
          expr("CAST(ROUND(CAST(1.0 AS DOUBLE) / n_touches, 6) AS DECIMAL(16,6))"))
        .groupBy("touch_type")
        .agg(count(lit(1)).as("n_touch_events"),
          expr("CAST(SUM(credit) AS DOUBLE)").as("credit_sum"))
        .orderBy("touch_type")
    },
      // the flat lookback join + the same rounded 1/n credit on DECIMAL
      """
      WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                 FROM events WHERE event_type <> 'purchase'),
      p AS (SELECT event_id AS p_id, user_id,
                   CAST(ts AS TIMESTAMP) AS w_end,
                   CAST(ts AS TIMESTAMP) - INTERVAL 2 HOUR AS w_start
            FROM events WHERE event_type = 'purchase'),
      pairs AS (SELECT p.p_id, t.event_type AS touch_type
                FROM t JOIN p ON t.user_id = p.user_id
                              AND t.ts >= p.w_start AND t.ts < p.w_end),
      c AS (SELECT p_id, touch_type,
                   CAST(ROUND(CAST(1.0 AS DOUBLE)
                              / count(*) OVER (PARTITION BY p_id), 6)
                        AS DECIMAL(16,6)) AS credit
            FROM pairs)
      SELECT touch_type, count(*) AS n_touch_events,
             CAST(SUM(credit) AS DOUBLE) AS credit_sum
      FROM c GROUP BY 1 ORDER BY touch_type"""),

    // spatial proximity join via CELL-NEIGHBORHOOD blocking (the geo
    // twin of the binned range join): one side explodes to its 3×3
    // neighbor cells, the other keeps its home cell, so every candidate
    // pair meets EXACTLY once (at the plain side's cell — no dedup
    // pass); residual = the exact integer centi-degree box. Never an
    // all-pairs NLJ: work ∝ points × 9 + per-cell density²
    Entry("join_geo_box", (s, _) => {
      val pts = s.table("customer").selectExpr("c_custkey AS id",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 18000 - 9000 AS lat_c",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10) AS BIGINT) % 36000 - 18000 AS lon_c")
      val a = pts.selectExpr("id AS a_id", "lat_c AS a_lat", "lon_c AS a_lon",
          "lat_c div 100 AS clat", "lon_c div 100 AS clon")
        .withColumn("dlat", explode(expr("sequence(-1, 1)")))
        .withColumn("dlon", explode(expr("sequence(-1, 1)")))
        .selectExpr("a_id", "a_lat", "a_lon",
          "clat + dlat AS clat", "clon + dlon AS clon")
      val b = pts.selectExpr("id AS b_id", "lat_c AS b_lat", "lon_c AS b_lon",
        "lat_c div 100 AS clat", "lon_c div 100 AS clon")
      a.join(b, Seq("clat", "clon"))
        .where(expr("""a_id < b_id
          | AND abs(a_lat - b_lat) <= 100
          | AND abs(a_lon - b_lon) <= 100""".stripMargin))
        .selectExpr("a_id", "b_id",
          "abs(a_lat - b_lat) AS dlat_c", "abs(a_lon - b_lon) AS dlon_c")
        .orderBy("a_id", "b_id")
    },
      """
      WITH p AS (SELECT c_custkey AS id,
                        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 18000 - 9000 AS lat_c,
                        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT % 36000 - 18000 AS lon_c
                 FROM customer)
      SELECT a.id AS a_id, b.id AS b_id,
             abs(a.lat_c - b.lat_c) AS dlat_c,
             abs(a.lon_c - b.lon_c) AS dlon_c
      FROM p a JOIN p b
        ON a.id < b.id
       AND abs(a.lat_c - b.lat_c) <= 100
       AND abs(a.lon_c - b.lon_c) <= 100
      ORDER BY a_id, b_id"""),

    // POINT-IN-POLYGON spatial join — the containment predicate the
    // box/knn/geohash family lacks: three fixed polygons (one concave)
    // as a broadcast edge table, integer ray-casting with the crossing
    // decided by an exact cross-product sign test (no division anywhere
    // — the edge-x-at-py comparison is cross-multiplied), inside =
    // crossings odd. Candidates prefilter on the polygon bbox, then the
    // per-(point, polygon) crossing count is one grouped SUM over ≤
    // |edges| rows; the corpus never shuffles — both joins broadcast
    Entry.sql("join_geo_polygon", geoPolygonSql(
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10) AS BIGINT) % 36000 - 18000",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 18000 - 9000"),
      // the flat box inequality join — a blocking bug (pair met twice or
      // missed at a cell edge) changes the multiset
      // identical ray-cast SQL, DuckDB md5→int idiom
      geoPolygonSql(
      "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT % 36000 - 18000",
      "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 18000 - 9000")),

    // bounded-radius spatial kNN on the SAME 3×3 cell blocking: each
    // point's 3 nearest neighbors among candidates within the 100-centi-
    // degree box (the box the neighborhood provably contains — the
    // OUTPUT contract is the box+rank, so the oracle needs no cell
    // arithmetic and the div-vs-floor negative-cell divergence can't
    // bite). Squared integer distance, ties by candidate id; the rank
    // window partitions per point over ≤ per-cell-density² candidates.
    // The standard geo serving shape: candidates from blocking, exact
    // top-k inside
    Entry("join_geo_knn", (s, _) => {
      val pts = s.table("customer").selectExpr("c_custkey AS id",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 18000 - 9000 AS lat_c",
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 9, 8), 16, 10) AS BIGINT) % 36000 - 18000 AS lon_c")
      val a = pts.selectExpr("id AS a_id", "lat_c AS a_lat", "lon_c AS a_lon",
          "lat_c div 100 AS clat", "lon_c div 100 AS clon")
        .withColumn("dlat", explode(expr("sequence(-1, 1)")))
        .withColumn("dlon", explode(expr("sequence(-1, 1)")))
        .selectExpr("a_id", "a_lat", "a_lon",
          "clat + dlat AS clat", "clon + dlon AS clon")
      val b = pts.selectExpr("id AS b_id", "lat_c AS b_lat", "lon_c AS b_lon",
        "lat_c div 100 AS clat", "lon_c div 100 AS clon")
      a.join(b, Seq("clat", "clon"))
        .where(expr("""a_id <> b_id
          | AND abs(a_lat - b_lat) <= 100
          | AND abs(a_lon - b_lon) <= 100""".stripMargin))
        .selectExpr("a_id", "b_id",
          """(a_lat - b_lat) * (a_lat - b_lat)
            | + (a_lon - b_lon) * (a_lon - b_lon) AS d2""".stripMargin)
        .withColumn("rank", expr(
          "row_number() OVER (PARTITION BY a_id ORDER BY d2, b_id)"))
        .where(col("rank") <= 3)
        .select(col("a_id"), col("rank").cast("int").as("rank"),
          col("b_id"), col("d2"))
        .orderBy("a_id", "rank")
    },
      // the box+rank contract replayed directly (no cell arithmetic — the
      // blocking is the entry's plan concern, not the output's)
      """
      WITH p AS (SELECT c_custkey AS id,
                        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 18000 - 9000 AS lat_c,
                        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))::BIGINT % 36000 - 18000 AS lon_c
                 FROM customer),
      cand AS (SELECT a.id AS a_id, b.id AS b_id,
                      (a.lat_c - b.lat_c) * (a.lat_c - b.lat_c)
                        + (a.lon_c - b.lon_c) * (a.lon_c - b.lon_c) AS d2
               FROM p a JOIN p b
                 ON a.id <> b.id
                AND abs(a.lat_c - b.lat_c) <= 100
                AND abs(a.lon_c - b.lon_c) <= 100),
      rk AS (SELECT a_id, b_id, d2,
                    row_number() OVER (PARTITION BY a_id
                      ORDER BY d2, b_id) AS rank
             FROM cand)
      SELECT a_id, CAST(rank AS INT) AS rank, b_id, CAST(d2 AS BIGINT) AS d2
      FROM rk WHERE rank <= 3
      ORDER BY a_id, rank"""),

    // geohash encode (geohash IS a Morton code in base32 dress — reuses
    // the ZOrder mask-table interleave, lon bit leading): synthesized
    // centi-degree points, 6-char cells, prefix-blocked aggregate (equal
    // prefixes = nearby cells — the spatial candidate generator)
    Entry("fn_geohash", (s, _) => {
      val pts = s.table("customer").selectExpr("c_custkey",
        "(c_custkey * 7919) % 18000 - 9000 AS lat_c",
        "(c_custkey * 104729) % 36000 - 18000 AS lon_c")
      pts
        .withColumn("geohash",
          expr(graft.operators.ZOrder.geohashSql("lat_c", "lon_c")))
        .groupBy(expr("substr(geohash, 1, 2)").as("cell"))
        .agg(count(lit(1)).as("n_points"),
          min("c_custkey").as("min_key"),
          min("geohash").as("min_hash"), max("geohash").as("max_hash"))
        .orderBy("cell")
    },
      // the identical interleave + alphabet lookups, DuckDB's // division
      {
      val gh = graft.operators.ZOrder.geohashDuckSql("lat_c", "lon_c")
      s"""WITH p AS (SELECT c_custkey,
         |                  (c_custkey * 7919) % 18000 - 9000 AS lat_c,
         |                  (c_custkey * 104729) % 36000 - 18000 AS lon_c
         |           FROM customer),
         |g AS (SELECT c_custkey, $gh AS geohash FROM p)
         |SELECT substr(geohash, 1, 2) AS cell, count(*) AS n_points,
         |       min(c_custkey) AS min_key,
         |       min(geohash) AS min_hash, max(geohash) AS max_hash
         |FROM g GROUP BY 1 ORDER BY cell""".stripMargin
    }),

    // SQL-defined functions (Spark 4): a scalar UDF (CREATE TEMPORARY
    // FUNCTION ... RETURN expr) and a TABLE function, both consumed by
    // one aggregate — the catalog-function surface; the optimizer
    // INLINES the bodies, so the oracle replays the inlined SQL
    Entry("sql_udf", (s, _) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc(p DOUBLE, disc DOUBLE)
               RETURNS DECIMAL(26,4)
               RETURN CAST(p AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(disc AS DECIMAL(4,2)))""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_big_orders(minp DOUBLE)
               RETURNS TABLE(o_orderkey BIGINT, o_orderstatus STRING)
               RETURN SELECT o_orderkey, o_orderstatus FROM orders
                      WHERE o_totalprice > minp""")
      s.sql("""SELECT l.l_returnflag, b.o_orderstatus, count(*) AS n,
                      CAST(SUM(graft_disc(l.l_extendedprice, l.l_discount))
                           AS DOUBLE) AS disc_total
               FROM lineitem l
               JOIN graft_big_orders(150000.0) b ON l.l_orderkey = b.o_orderkey
               GROUP BY 1, 2 ORDER BY 1, 2""")
    },
      // the two function bodies inlined by hand — what Spark's optimizer
      // does mechanically
      """SELECT l.l_returnflag, o.o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |                * (CAST(1 AS DECIMAL(4,2))
        |                   - CAST(l.l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS disc_total
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 150000.0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, mutatesSession = true),

    // Hilbert-curve layout index (ZOrder's stronger sibling — no quadrant
    // seams, consecutive indexes always grid neighbors): the unrolled
    // state-machine walk as 10 chained codegen projections; bucket
    // min/max spans of BOTH keys mirror layout_zorder's pruning audit
    Entry("layout_hilbert", (s, _) => {
      import graft.operators.Hilbert
      val li = s.table("lineitem")
        .selectExpr("l_partkey % 1024 AS px", "l_orderkey % 1024 AS sy")
      val h = Hilbert.hilbertIndex(li, "px", "sy", bits = 10)
      val hmax = h.agg(max("h").as("hmax"))
      h.crossJoin(broadcast(hmax))
        .withColumn("bucket", expr("h * 8 div (hmax + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("px").as("min_px"), max("px").as("max_px"),
          min("sy").as("min_sy"), max("sy").as("max_sy"),
          min("h").as("min_h"), max("h").as("max_h"))
        .orderBy("bucket")
    },
      // the identical unrolled walk as chained CTEs (Hilbert.hilbertCtes —
      // one shared per-level expression source, the ZOrder mask-table rule)
      {
      val ctes = graft.operators.Hilbert.hilbertCtes(10, "b", Seq("px", "sy"))
      s"""WITH b AS (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS sy,
         |                  CAST(l_partkey % 1024 AS BIGINT) & 1023 AS hx,
         |                  CAST(l_orderkey % 1024 AS BIGINT) & 1023 AS hy,
         |                  CAST(0 AS BIGINT) AS hd
         |           FROM lineitem),
         |$ctes,
         |hh AS (SELECT px, sy, hd AS h FROM h10),
         |m AS (SELECT max(h) AS hmax FROM hh)
         |SELECT (h * 8) // (hmax + 1) AS bucket, count(*) AS n_rows,
         |       min(px) AS min_px, max(px) AS max_px,
         |       min(sy) AS min_sy, max(sy) AS max_sy,
         |       min(h) AS min_h, max(h) AS max_h
         |FROM hh CROSS JOIN m GROUP BY 1 ORDER BY bucket""".stripMargin
    }),

    // ---- partitioning surface -------------------------------------------
    Entry("repartition_agg", (s, _) =>
      s.table("lineitem")
        .repartition(16, col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(count("*").as("n_items"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)").as("sum_price"))
        .coalesce(2)
        .orderBy("l_linestatus"),
      """SELECT l_linestatus, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY l_linestatus""".stripMargin),

    // manual salting (operators/Skew): results must be IDENTICAL to the
    // unsalted join/agg — the oracle below computes the plain versions, so
    // a salt that loses or duplicates rows shows up as a hash mismatch
    // (round-3 ADVICE: Skew had only unit tests, no differential entry)
    Entry("skew_salted_join", (s, _) => {
      val li = s.table("lineitem").select(col("l_orderkey"), col("l_quantity"))
      val ord = s.table("orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n_items"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),

    Entry("skew_salted_agg", (s, _) => {
      // DECIMAL before the two-phase sum: double partials would re-add in
      // salt order and drift from the oracle's single exact sum
      val li = s.table("lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("qty"))
      graft.operators.Skew.saltedCountSum(li, "l_returnflag", "qty", salts = 8)
        .select(col("l_returnflag"), col("n"),
          expr("CAST(s AS DOUBLE)").as("s"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    // ---- parameterized SQL ----------------------------------------------
    Entry("param_sql", (s, _) => {
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n
          |FROM orders
          |WHERE o_totalprice > :minp AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("minp" -> 150000, "cutoff" -> "1997-01-01 00:00:00"))
    },
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_totalprice > 150000 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Spark 4 session variables + dynamic SQL: DECLARE / SET VAR state
    // resolves both by name inside the statement and positionally through
    // EXECUTE IMMEDIATE ... USING; the oracle is the classic literal form
    Entry("sql_session_vars", (s, _) => {
      s.sql("DECLARE OR REPLACE VARIABLE qty_floor INT DEFAULT 0")
      s.sql("SET VAR qty_floor = 45")
      s.sql(
        """EXECUTE IMMEDIATE
          |  'SELECT l_returnflag, count(*) AS n_items,
          |          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
          |   FROM lineitem WHERE l_quantity >= ? GROUP BY 1 ORDER BY 1'
          |  USING qty_floor""".stripMargin)
    },
      """SELECT l_returnflag, count(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity >= 45
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Spark-4 SQL SCRIPTING surface (BEGIN…END compound, DECLARE, SET
    // from a subquery, WHILE loop, IF/ELSE branch): the script's control
    // flow runs on the driver, every statement inside is a full Catalyst
    // plan; the oracle recomputes the loop algebra in closed form
    Entry.sql("sql_scripting",
        """BEGIN
          |  DECLARE n BIGINT DEFAULT 0;
          |  DECLARE acc BIGINT DEFAULT 0;
          |  DECLARE i INT DEFAULT 0;
          |  SET n = (SELECT count(*) FROM nation);
          |  WHILE i < 4 DO
          |    SET acc = acc + i * n;
          |    SET i = i + 1;
          |  END WHILE;
          |  IF n > 10 THEN
          |    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
          |           n AS n_nations, acc AS acc
          |    FROM region ORDER BY r_regionkey;
          |  ELSE
          |    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
          |           CAST(0 AS BIGINT) AS n_nations, CAST(-1 AS BIGINT) AS acc
          |    FROM region ORDER BY r_regionkey;
          |  END IF;
          |END""".stripMargin,
      // the loop algebra in closed form: acc = (0+1+2+3)·n = 6n
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
        |       CAST((SELECT count(*) FROM nation) AS BIGINT) AS n_nations,
        |       CAST(6 * (SELECT count(*) FROM nation) AS BIGINT) AS acc
        |FROM region ORDER BY r_regionkey""".stripMargin),

    // ---- events time series ----------------------------------------------
    Entry.sql("ts_window_agg",
        """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
          |       COUNT(*) AS n_events,
          |       COUNT(DISTINCT user_id) AS n_users,
          |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY hour_ts, event_type""".stripMargin,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_ts, event_type""".stripMargin),

    // STREAMING differential entry (bounded replay): the events fixture
    // file itself, tailed by a REAL StreamingQuery (Tables.stream) —
    // file source -> watermarked tumbling-window aggregate -> memory
    // sink, Complete mode so bounded replay flushes every window (Append
    // would hold back windows the final watermark never passes). On
    // bounded input the streaming result is deterministic, so the same
    // DuckDB oracle that checks the batch twin checks the streaming
    // execution path — state store, watermark tracking and all. Sums
    // aggregate on DECIMAL (order-independent) so micro-batch order
    // cannot perturb the float result. COUNT(DISTINCT) is unsupported in
    // streaming aggs, hence no n_users column here (the batch
    // ts_window_agg keeps it).
    Entry("ts_stream_window_agg", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, window}
      val agg = Tables.stream(s, d, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count("*").as("n_events"),
          sum(expr("CAST(value AS DECIMAL(18,6))")).as("sv"))
        .select(col("w.start").as("hour_ts"), col("event_type"),
          col("n_events"), expr("CAST(sv AS DOUBLE)").as("sum_value"))
      // fixed sink name: runToMemory drops any previous run's table, so
      // the entry stays re-runnable without accumulating result tables
      val sink = "ts_stream_sink"
      Streams.runToMemory(agg, sink,
        OutputMode.Complete())
      s.table(sink).orderBy("hour_ts", "event_type")
    },
      // bounded replay makes streaming deterministic: the oracle is the
      // batch semantics of the same windowed aggregate
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_ts, event_type""".stripMargin, mutatesSession = true),

    // sliding (overlapping) windows through the real streaming engine:
    // each event contributes to length/slide = 4 window rows in the SAME
    // state store — the multi-assignment path the tumbling twin never
    // exercises; the oracle expands the epoch-aligned membership
    // arithmetic per event and re-aggregates from scratch
    Entry("ts_stream_sliding_agg", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, window}
      val agg = Tables.stream(s, d, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"),
          col("event_type"))
        .agg(count("*").as("n_events"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n_events"))
      val sink = "ts_stream_sliding_sink"
      Streams.runToMemory(agg, sink,
        OutputMode.Complete())
      s.table(sink).orderBy("win_start", "event_type")
    },
      // epoch-aligned sliding membership, expanded flat: an event at t sits
      // in the 4 windows starting at 30-min grid points (t's bucket, minus
      // 0..3 slides)
      """WITH x AS (SELECT event_type,
        |                  (epoch_us(ts) // 1800000000) * 1800000000 AS b
        |           FROM events),
        |w AS (SELECT event_type, b - k * 1800000000 AS ws
        |      FROM x, unnest(generate_series(0, 3)) AS u(k))
        |SELECT make_timestamp(ws) AS win_start, event_type,
        |       count(*) AS n_events
        |FROM w GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin, mutatesSession = true),

    // the session-window twin of ts_stream_window_agg: bounded replay
    // through the MERGING-state streaming path (session windows keep a
    // different state implementation than tumbling windows), checked by
    // the same lag-based DuckDB oracle the batch ts_session_window entry
    // has proven against this fixture
    Entry("ts_stream_session_window", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, session_window}
      val agg = Tables.stream(s, d, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count("*").as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
      val sink = "ts_stream_sess_sink"
      Streams.runToMemory(agg, sink,
        OutputMode.Complete())
      s.table(sink).orderBy("user_id", "session_start")
    },
      // identical semantics to ts_session_window (the streaming path must
      // produce the batch answer on bounded input)
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts,
        |             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM x)
        |SELECT user_id,
        |       MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin, mutatesSession = true),

    // stream-static enrichment join: each streamed event joins the
    // per-user lifetime stats computed BATCH-side from the same fixture
    // — the micro-batch BroadcastHashJoin path every streaming pipeline
    // uses for dimension lookup, distinct from the stream-stream joins
    // oracled below. On drained bounded input the enriched aggregate
    // must equal the plain batch join, which is the DuckDB oracle.
    Entry("ts_stream_enrich", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
      val userStats = s.table("events").groupBy("user_id")
        .agg(count(lit(1)).as("u_events"),
          expr("SUM(CAST(value AS DECIMAL(18,2)))").as("u_value"))
      val enriched = Tables.stream(s, d, "events")
        .join(userStats, Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum("u_events").as("sum_user_events"),
          expr("CAST(SUM(u_value) AS DOUBLE)").as("sum_user_value"))
      val sink = "ts_stream_enrich_sink"
      Streams.runToMemory(enriched, sink,
        OutputMode.Complete())
      s.table(sink).orderBy("event_type")
    },
      """WITH u AS (SELECT user_id, count(*) AS u_events,
        |                  SUM(CAST(value AS DECIMAL(18,2))) AS u_value
        |           FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(SUM(u_events) AS BIGINT) AS sum_user_events,
        |       CAST(SUM(u_value) AS DOUBLE) AS sum_user_value
        |FROM events e JOIN u USING (user_id)
        |GROUP BY 1 ORDER BY event_type""".stripMargin, mutatesSession = true),

    // transactional FILE sink: the stream lands purchases as parquet
    // through the _spark_metadata commit log (the exactly-once landing
    // path a 100 TB ingest uses), and the batch read-back honors only
    // manifest-committed files — a duplicated, lost or uncommitted batch
    // file changes the aggregate and hash-mismatches the plain oracle
    Entry("ts_stream_file_sink", (s, d) => {
      import org.apache.spark.sql.functions.{count, expr, lit}
      val root = s"${base(s, d)}/stream_file_sink"
      Tables.deleteRecursively(new java.io.File(root))
      val purchases = Tables.stream(s, d, "events")
        .where("event_type = 'purchase'")
        .select("ts", "user_id", "value")
      Streams.runToParquet(purchases,
        s"$root/out", s"$root/ck")
      // out/ lives until the NEXT invocation's cleanup: the returned
      // frame reads it lazily at the caller's action
      s.read.parquet(s"$root/out")
        .groupBy(expr("user_id % 10").as("user_mod"))
        .agg(count(lit(1)).as("n_purchases"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sum_value"),
          expr("max(unix_micros(ts))").as("max_ts_us"))
        .orderBy("user_mod")
    },
      """SELECT user_id % 10 AS user_mod, count(*) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY user_mod""".stripMargin, mutatesSession = true),

    // CRASH/RESTART exactly-once resume — the operational contract every
    // continuous ingest depends on: a file-sink query drains half its
    // input and STOPS; a second query starts from the SAME checkpoint
    // (source offset log + sink manifest) after more files land, and the
    // union of both runs' committed output must equal the whole input
    // EXACTLY ONCE. A re-read of phase-1 files doubles counts; a lost
    // offset drops them; an orphan uncommitted file surfaces extras —
    // all three hash-mismatch. The transform is stateless on purpose
    // (offset/manifest recovery is the surface under test; stateful
    // recovery semantics are pinned by the late-drop/timers entries).
    Entry("ts_stream_resume", (s, d) => {
      import org.apache.spark.sql.functions.col
      val evs = s.table("events")
        .select(col("event_id"), col("ts"), col("event_type"),
          expr("CAST(value AS DOUBLE)").as("value"))
      val root = s"${base(s, d)}/stream_resume"
      Tables.deleteRecursively(new java.io.File(root))
      val landing = s"$root/landing"
      new java.io.File(landing).mkdirs()
      val slices = Streams.idSlices(evs, "event_id", 4)
      Streams.stage(landing, slices.take(2))
      def run(): Unit = Streams.runToParquet(
        Streams.replaySource(s, landing, evs.schema)
          .where("value > 100.0")
          .selectExpr("event_id", "event_type",
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents",
            "CAST(date_trunc('DAY', ts) AS DATE) AS day"),
        s"$root/out", s"$root/ck")
      run() // phase 1: drains f0, f1, stops
      Streams.stage(landing, slices.drop(2), first = 2)
      run() // phase 2: resumes from the checkpoint, drains f2, f3
      s.read.parquet(s"$root/out").orderBy("event_id")
    },
      // the whole input exactly once, regardless of the two-phase replay
      """SELECT event_id, event_type,
        |       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
        |       CAST(date_trunc('DAY', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        |FROM events WHERE CAST(value AS DOUBLE) > 100.0
        |ORDER BY event_id""".stripMargin, mutatesSession = true),

    // CSV QUOTING TORTURE round-trip: fields carrying embedded
    // delimiters, double quotes AND raw newlines written through the
    // csv sink (RFC-4180 '"' escape) and read back with multiLine —
    // the ingest-robustness case real-world dumps hit constantly. The
    // oracle recomputes the derived strings from the base table and
    // md5-compares: one mangled quote or swallowed newline anywhere
    // hash-mismatches
    Entry("src_csv_quoted", (s, d) => {
      val tricky = s.table("part").where("p_partkey < 200")
        .selectExpr("CAST(p_partkey AS BIGINT) AS k",
          "concat(p_name, ',', p_type) AS f_comma",
          "concat('\"', p_brand, '\"', ' quoted') AS f_quote",
          "concat(p_name, chr(10), p_type) AS f_newline")
      val p = s"${base(s, d)}/csv_quoted"
      tricky.write.mode("overwrite")
        .option("header", "true").option("escape", "\"").csv(p)
      s.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"").schema(tricky.schema).csv(p)
        .selectExpr("k", "md5(f_comma) AS h_comma",
          "md5(f_quote) AS h_quote", "md5(f_newline) AS h_newline")
        .orderBy("k")
    },
      // the tricky strings recomputed straight from the base table — the
      // CSV files never enter the oracle's path
      """SELECT CAST(p_partkey AS BIGINT) AS k,
        |       md5(p_name || ',' || p_type) AS h_comma,
        |       md5('"' || p_brand || '"' || ' quoted') AS h_quote,
        |       md5(p_name || chr(10) || p_type) AS h_newline
        |FROM part WHERE p_partkey < 200 ORDER BY k""".stripMargin),

    // PER-KEY gap-fill at hourly grain — the complement of ts_gap_fill's
    // global daily spine: every (user, hour) slot between the user's OWN
    // first and last event (keys with disjoint active spans don't pay
    // for each other's calendar), observed hours carrying real
    // aggregates and missing hours explicit zeros with a filled flag.
    // Integer hour ids, never raw timestamps, cross the output edge
    Entry("ts_gap_fill_perkey", (s, _) => {
      val ev = s.table("events").where("user_id < 20")
        .withColumn("hour", expr("unix_micros(ts) div 3600000000"))
      val slots = ev.groupBy("user_id")
        .agg(min("hour").as("mn"), max("hour").as("mx"))
        .select(col("user_id"), explode(expr("sequence(mn, mx)")).as("hour"))
      val agg = ev.groupBy("user_id", "hour")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).as("sv"))
      slots.join(agg, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          expr("CAST(coalesce(sv, 0) AS DOUBLE)").as("sum_value"),
          col("n").isNull.as("filled"))
        .orderBy("user_id", "hour")
    },
      // the dense grid rebuilt with generate_series over the same
      // per-user hour bounds
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |                   CAST(value AS DECIMAL(18,2)) AS v
        |            FROM events WHERE user_id < 20),
        |b AS (SELECT user_id, min(hour) AS mn, max(hour) AS mx
        |      FROM ev GROUP BY user_id),
        |slots AS (SELECT user_id, h.h AS hour
        |          FROM b, unnest(generate_series(mn, mx)) h(h)),
        |ag AS (SELECT user_id, hour, count(*) AS n, SUM(v) AS sv
        |       FROM ev GROUP BY 1, 2)
        |SELECT s.user_id, s.hour,
        |       CAST(COALESCE(ag.n, 0) AS BIGINT) AS n_events,
        |       CAST(COALESCE(ag.sv, 0) AS DOUBLE) AS sum_value,
        |       ag.n IS NULL AS filled
        |FROM slots s LEFT JOIN ag ON ag.user_id = s.user_id
        |                         AND ag.hour = s.hour
        |ORDER BY s.user_id, s.hour""".stripMargin),

    // STREAMING READ OF THE TABLE'S OWN COMMIT LOG: three batch commits
    // land three generations in the Arrow sink; a micro-batch stream
    // over the same directory uses each published manifest version as
    // an offset (maxVersionsPerTrigger=1 -> one commit per trigger), so
    // batch N reads exactly generation N's files — the Delta/Iceberg
    // "table as stream source" pattern on our own commit protocol,
    // exactly-once because manifests are immutable and staging files
    // are invisible. The oracle recomputes each generation's membership
    // from the base table: green pins the offset-range file planning
    Entry("ts_stream_commit_log", (s, d) => {
      val sup = s.table("supplier").selectExpr(
        "CAST(s_suppkey AS BIGINT) AS s_suppkey",
        "CAST(s_acctbal AS DOUBLE) AS s_acctbal")
      val p = s"${base(s, d)}/supplier_arrow_log"
      Tables.deleteRecursively(new java.io.File(p))
      (0 to 2).foreach { g =>
        sup.where(s"s_suppkey % 3 = $g").repartition(2)
          .write.format("graft.sources.ArrowIpcSource")
          .mode("append").save(p)
      }
      val root = s"${base(s, d)}/stream_commit_log"
      Tables.deleteRecursively(new java.io.File(root))
      val stream = s.readStream.format("graft.sources.ArrowIpcSource")
        .option("maxVersionsPerTrigger", 1).load(p)
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      Streams.runForeachBatch(stream, s"$root/ck") {
        (batch, id) =>
          val r = batch.agg(
            count(lit(1)).as("n"),
            expr("CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)")
              .as("s")).collect()(0)
          acc += ((id, r.getLong(0), r.getDouble(1)))
      }
      import s.implicits._
      acc.toSeq.toDF("batch_id", "n_rows", "sum_bal").orderBy("batch_id")
    },
      // each micro-batch is one commit = one residue class of suppkey
      """SELECT CAST(s_suppkey % 3 AS BIGINT) AS batch_id,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_bal
        |FROM supplier GROUP BY 1 ORDER BY batch_id""".stripMargin, mutatesSession = true),

    // STREAMING MERGE/upsert materialization: a keyed changelog arrives
    // in micro-batches (3 event_id slices, one per batch) and
    // foreachBatch folds each batch into a serving snapshot with
    // latest-seq-wins INCLUDING delete tombstones (dropping a winning
    // delete early would let an out-of-order older change resurrect the
    // key in a later batch — Cdc.latestChanges scaladoc). Dirs alternate
    // per batch (read state N, write state N+1) — the no-transactional-
    // table MERGE; with Delta/Iceberg the rewrite becomes a keyed MERGE
    // INTO, the fold logic unchanged. The oracle applies the WHOLE
    // changelog at once: green proves batch-split-invariant convergence
    // of the incremental fold, tombstones and all.
    Entry("ts_stream_upsert", (s, d) => {
      val events = s.table("events")
        .select("event_id", "user_id", "event_type", "value")
      val root = s"${base(s, d)}/stream_upsert"
      Tables.deleteRecursively(new java.io.File(root))
      var last: Option[String] = None
      Streams.staged(Streams.idSlices(events, "event_id")) { src =>
        val stream = src.selectExpr(changelogCols: _*)
        Streams.runForeachBatch(stream, s"$root/ck") { (batch, id) =>
          val merged = graft.operators.Cdc.latestChanges(
            last.map(p => s.read.parquet(p).unionByName(batch))
              .getOrElse(batch), "k", "seq")
          val next = s"$root/state_${id % 2}"
          merged.write.mode("overwrite").parquet(next)
          last = Some(next)
        }
      }
      s.read.parquet(last.getOrElse(
          sys.error("upsert stream produced no batches")))
        .where("op <> 'D'")
        .selectExpr("k", "seq", "op", "CAST(total AS DOUBLE) AS total")
        .orderBy("k")
    },
      // the WHOLE changelog applied in one shot (window rank, no
      // incremental fold, no tombstone carrying) — green proves the
      // 3-batch foreachBatch merge converged to the same snapshot
      """WITH ch AS (SELECT user_id AS k, event_id AS seq,
        |    CASE WHEN event_type = 'purchase' AND user_id % 7 = 0 THEN 'D'
        |         WHEN event_type = 'click' THEN 'U' ELSE 'I' END AS op,
        |    CAST(value AS DECIMAL(18,2)) AS total
        |  FROM events),
        |last AS (SELECT k, seq, op, total,
        |           row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |         FROM ch)
        |SELECT k, seq, op, CAST(total AS DOUBLE) AS total
        |FROM last WHERE rn = 1 AND op <> 'D'
        |ORDER BY k""".stripMargin, mutatesSession = true),

    // STREAMING pattern matching (the ts_event_pattern regex as a live
    // state machine): v[ce]*p conversions counted per user across
    // micro-batches via transformWithState — two scalars of state per
    // user, never the sequence. Replay files are TIME-sliced quartiles
    // (order-dependent state: key-split files would interleave history —
    // the CLAUDE.md trap), rows re-sort by (ts, event_id) inside each
    // batch. The drained count per user must equal the batch
    // regexp_count over the full sequence — the differential oracle.
    Entry("ts_stream_pattern", (s, _) => {
      val evs = s.table("events")
        .select("ts", "event_id", "user_id", "event_type")
      import s.implicits._
      Streams.replay(Streams.timeQuartiles(evs), "ts_stream_pattern_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.conversionTws(src.as[Streams.ConvEvent]).toDF()
      }
        .groupBy("user_id")
        .agg(max("n_conversion").as("n_conversion"))
        .orderBy("user_id")
    },
      // the streaming state machine's drained counts == batch regexp_count
      // over each user's full ordered sequence
      """WITH seqs AS (SELECT user_id,
        |                     string_agg(substr(event_type, 1, 1), ''
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
        |              FROM events GROUP BY user_id)
        |SELECT user_id,
        |       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_conversion
        |FROM seqs ORDER BY user_id""".stripMargin, mutatesSession = true),

    // STREAMING CUSUM drift alarm (the ts_cusum_drift closed form run
    // live): per metric series the state is TWO Longs — running prefix
    // sum + running prefix min — because s_t = P_t − min(0, min P_j);
    // alarms/extremes are monotone counters, so max over the Update-mode
    // snapshots is the drained answer and the BATCH windows are the
    // differential oracle. Order-dependent state → TIME-sliced replay
    // quartiles (the CLAUDE.md trap), in-batch re-sort by (ts, event_id)
    Entry("ts_stream_cusum", (s, _) => {
      val evs = s.table("events")
        .select("ts", "event_id", "event_type", "value")
      import s.implicits._
      Streams.replay(Streams.timeQuartiles(evs), "ts_stream_cusum_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.cusumTws(src.as[Streams.MetricEvent],
          targetMicro = 500000L, alarmMicro = 5000000L).toDF()
      }
        .groupBy("event_type")
        .agg(max("n_points").as("n_points"),
          max("n_alarms").as("n_alarms"),
          max("max_cusum").as("max_cusum"))
        .orderBy("event_type")
    },
      // the drained CUSUM state must equal the batch closed form — the
      // oracle IS the batch twin's windows, verbatim
      Relational.cusumDriftSql, mutatesSession = true),

    // STREAMING SCD2 maintenance: each micro-batch of changelog rows
    // merges into the dimension's version history via scd2Incremental —
    // only batch keys' interval chains rebuild per trigger (the only
    // affordable continuous refresh of a 100 TB dimension); the
    // event_id-sliced replay interleaves sequence numbers across
    // batches, so green against the full-recompute oracle IS the
    // out-of-order convergence property, exercised through a real
    // checkpointed stream
    Entry("ts_stream_scd2", (s, d) => {
      val events = s.table("events")
        .select("event_id", "user_id", "event_type", "value")
      val root = s"${base(s, d)}/stream_scd2"
      Tables.deleteRecursively(new java.io.File(root))
      var last: Option[String] = None
      Streams.staged(Streams.idSlices(events, "event_id")) { src =>
        val stream = src.selectExpr(changelogCols: _*)
        Streams.runForeachBatch(stream, s"$root/ck") { (batch, id) =>
          val merged = last match {
            case None => graft.operators.Cdc.scd2State(batch, "k", "seq", "op")
            case Some(p) => graft.operators.Cdc.scd2Incremental(
              s.read.parquet(p), batch, "k", "seq", "op")
          }
          val next = s"$root/state_${id % 2}"
          merged.write.mode("overwrite").parquet(next)
          last = Some(next)
        }
      }
      s.read.parquet(last.getOrElse(
          sys.error("scd2 stream produced no batches")))
        .where("op <> 'D'")
        .selectExpr("k", "valid_from", "valid_to", "op",
          "CAST(total AS DOUBLE) AS total", "is_current")
        .orderBy("k", "valid_from")
    },
      // the FULL-changelog SCD2 recompute — whatever micro-batch split the
      // stream fed through scd2Incremental must converge to exactly this
      """WITH ch AS (SELECT user_id AS k, event_id AS seq,
        |    CASE WHEN event_type = 'purchase' AND user_id % 7 = 0 THEN 'D'
        |         WHEN event_type = 'click' THEN 'U' ELSE 'I' END AS op,
        |    CAST(value AS DECIMAL(18,2)) AS total
        |  FROM events)
        |SELECT k, seq AS valid_from,
        |       (SELECT min(c2.seq) FROM ch c2
        |        WHERE c2.k = ch.k AND c2.seq > ch.seq) AS valid_to,
        |       op, CAST(total AS DOUBLE) AS total,
        |       (SELECT min(c2.seq) FROM ch c2
        |        WHERE c2.k = ch.k AND c2.seq > ch.seq) IS NULL AS is_current
        |FROM ch WHERE op <> 'D'
        |ORDER BY k, valid_from""".stripMargin, mutatesSession = true),

    // STREAMING watermark-DROP semantics, differentially oracled: the one
    // streaming behavior bounded Complete-mode replay cannot pin is that
    // rows arriving LATER than the watermark horizon are dropped. Spark's
    // late filter (probed empirically, spark-shell, Spark 4.1) drops a
    // row iff its WINDOW END <= the watermark in effect during the
    // PREVIOUS micro-batch (SPARK-24634 two-watermark design: late-event
    // filtering lags eviction by one batch; eviction/emission uses the
    // current batch's watermark; both are floor-to-ms(max event ts) -
    // delay). So the fixture replays as FOUR landing files, one per
    // micro-batch (Streams.replay, mtime-ordered), with the on-time
    // history split so the filter watermark is already established one
    // batch before the late slice arrives:
    //   f1a on-time history up to H12 = trunc-hour(max ts) - 12 h (minus
    //       a held-back hash slice): its max event time becomes the
    //       late-filter watermark wmF = floor-ms(max ts(f1a)) - 2 h;
    //   f1b the rest of the on-time history (H12, H6];
    //   f2  the held-back 10% md5 slice of the whole on-time range,
    //       arriving two batches late: rows in windows ending <= wmF
    //       MUST be dropped, the rest MUST be aggregated;
    //   f3  the fresh tail (> H6), advancing the final watermark so
    //       every window the drops affected actually emits in Append
    //       mode (windows the final watermark never passes stay held).
    // Every ingredient (the H12/H6 boundaries, the md5 holdback slice,
    // the ms-floored watermark arithmetic, the emit-only-closed-windows
    // rule) is plain SQL, so the DuckDB oracle recomputes which rows
    // must have been dropped and which windows must have been emitted —
    // a value-level differential check of the drop path itself. The
    // fixture's microsecond-random timestamps guarantee no window
    // boundary ever falls exactly ON a watermark, so strict-vs-inclusive
    // comparisons cannot diverge silently.
    Entry("ts_stream_late_drop", (s, _) => {
      import org.apache.spark.sql.functions.{col, count, expr, window}
      Streams.replay(lateSlices(s), "ts_stream_late_sink", OutputMode.Append()) {
        _.withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count("*").as("n_events"),
            sum(expr("CAST(value AS DECIMAL(18,6))")).as("sv"))
          .select(col("w.start").as("hour_ts"), col("event_type"),
            col("n_events"), expr("CAST(sv AS DOUBLE)").as("sum_value"))
      }.orderBy("hour_ts", "event_type")
    },
      // replays the entry's watermark arithmetic in SQL: f1a/f1b/f2/f3 are
      // the same hash/boundary split the entry stages, wmf1a is the
      // ms-floored watermark established by f1a's batch — the late filter
      // for f2's batch, one batch later (probed: late-event filtering uses
      // the PREVIOUS batch's watermark against the window END) — and only
      // windows closed by the FINAL watermark may appear in Append output
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   event_type, value FROM events),
        |b AS (SELECT date_trunc('hour', max(ts)) - INTERVAL 6 HOUR AS h6,
        |             date_trunc('hour', max(ts)) - INTERVAL 12 HOUR AS h12 FROM ev),
        |f1a AS (SELECT ev.* FROM ev, b WHERE ts <= h12
        |        AND ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 10 <> 0),
        |f1b AS (SELECT ev.* FROM ev, b WHERE ts > h12 AND ts <= h6
        |        AND ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 10 <> 0),
        |f2 AS (SELECT ev.* FROM ev, b WHERE ts <= h6
        |       AND ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 10 = 0),
        |f3 AS (SELECT ev.* FROM ev, b WHERE ts > h6),
        |wmf1a AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS wm FROM f1a),
        |wmfin AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS wm FROM ev),
        |kept AS (SELECT * FROM f1a
        |         UNION ALL
        |         SELECT * FROM f1b
        |         UNION ALL
        |         SELECT f2.* FROM f2, wmf1a
        |         WHERE date_trunc('hour', f2.ts) + INTERVAL 1 HOUR > wmf1a.wm
        |         UNION ALL
        |         SELECT * FROM f3)
        |SELECT CAST(date_trunc('hour', k.ts) AS TIMESTAMP) AS hour_ts, event_type,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM kept k, wmfin
        |WHERE date_trunc('hour', k.ts) + INTERVAL 1 HOUR <= wmfin.wm
        |GROUP BY 1, 2
        |ORDER BY hour_ts, event_type""".stripMargin, mutatesSession = true),

    // INCREMENTAL-EMISSION semantics, differentially oracled: the same
    // four-file replay in UPDATE mode. Each micro-batch re-emits the
    // CUMULATIVE aggregate of every group it touched (probed: dropped
    // late rows touch nothing, eviction emits nothing, no-data batches
    // emit nothing), so the memory sink accumulates a deterministic
    // MULTISET — one row per (batch, touched group) carrying the
    // group's cumulative count/sum as of that batch. The oracle tags
    // each kept row with its batch number and replays the emission
    // history as a windowed cumulative sum — Update mode's entire
    // emission contract, value-checked.
    Entry("ts_stream_update_emit", (s, _) => {
      import org.apache.spark.sql.functions.{col, count, expr, window}
      Streams.replay(lateSlices(s), "ts_stream_update_sink", OutputMode.Update()) {
        _.withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count("*").as("n_events"),
            sum(expr("CAST(value AS DECIMAL(18,6))")).as("sv"))
          .select(col("w.start").as("hour_ts"), col("event_type"),
            col("n_events"), expr("CAST(sv AS DOUBLE)").as("sum_value"))
      }.orderBy("hour_ts", "event_type", "n_events")
    },
      // Update mode's emission history: tag each kept row with its batch
      // (the same 4-file split), then every (batch, group) with >= 1 kept
      // row emits the group's CUMULATIVE aggregate as of that batch — a
      // windowed cumulative sum over the batch ordering replays the
      // multiset the memory sink accumulates
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   event_type, value FROM events),
        |b AS (SELECT date_trunc('hour', max(ts)) - INTERVAL 6 HOUR AS h6,
        |             date_trunc('hour', max(ts)) - INTERVAL 12 HOUR AS h12 FROM ev),
        |tagged AS (SELECT ev.*, CASE
        |             WHEN ts <= h6 AND ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 10 = 0 THEN 3
        |             WHEN ts <= h12 THEN 1
        |             WHEN ts <= h6 THEN 2
        |             ELSE 4 END AS batch
        |           FROM ev, b),
        |wmf1a AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS wm
        |          FROM tagged WHERE batch = 1),
        |kept AS (SELECT t.* FROM tagged t, wmf1a
        |         WHERE batch <> 3
        |            OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wmf1a.wm),
        |g AS (SELECT batch, date_trunc('hour', ts) AS h, event_type,
        |             count(*) AS dn,
        |             sum(CAST(value AS DECIMAL(18,6))) AS ds
        |      FROM kept GROUP BY 1, 2, 3)
        |SELECT CAST(h AS TIMESTAMP) AS hour_ts, event_type,
        |       CAST(SUM(dn) OVER w AS BIGINT) AS n_events,
        |       CAST(SUM(ds) OVER w AS DOUBLE) AS sum_value
        |FROM g
        |WINDOW w AS (PARTITION BY h, event_type ORDER BY batch
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY hour_ts, event_type, n_events""".stripMargin, mutatesSession = true),

    // STREAM-STREAM join execution path, differentially oracled — the
    // third streaming family after the windowed/session aggregations and
    // the late-data entries: the interval join keeps watermark-bounded
    // state on BOTH sides and matches across micro-batches. On bounded,
    // fully-drained input an INNER interval join emits exactly the batch
    // answer, so the plain batch join is the oracle; the join itself
    // runs through a real StreamingQuery (two file-source streams over
    // the purchase/view slices of the fixture).
    Entry("ts_stream_interval_join", (s, d) =>
      streamIntervalJoin(s, d, "inner", "ts_stream_ij_sink"),
      // bounded replay of a drained stream-stream INNER join equals the
      // batch join — the oracle is the plain interval join
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |           FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM e WHERE event_type = 'view')
        |SELECT l.user_id, l.ts AS left_ts, r.ts AS right_ts,
        |       l.event_type AS left_type, r.event_type AS right_type
        |FROM p l JOIN v r ON l.user_id = r.user_id
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY l.user_id, left_ts, right_ts""".stripMargin, mutatesSession = true),

    // EXACTLY-ONCE dedup under at-least-once delivery, differentially
    // oracled: the same events file lands TWICE (two identical files,
    // mtime-ordered, one micro-batch each); dropDuplicatesWithinWatermark
    // on event_id must keep each record exactly once — batch 1 admits
    // every row, batch 2's verbatim re-delivery is dropped via keyed
    // state. A broken dedup doubles every row and cannot hash-match the
    // oracle (the plain distinct selection of the fixture).
    Entry("ts_stream_dedup", (s, _) => {
      import org.apache.spark.sql.functions.col
      val evs = s.table("events").select("ts", "event_id", "event_type", "value")
      Streams.replay(Seq(evs, evs), "ts_stream_dd_sink", OutputMode.Append()) {
        Streams.dedupStream(_, Seq("event_id"))
      }.orderBy("event_id").select(
        col("event_id"), col("event_type"), col("value"))
    },
      // exactly-once output from a doubled delivery == the plain fixture
      """SELECT event_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin, mutatesSession = true),

    // CONDITIONAL EMISSION (flatMapGroupsWithState), differentially
    // oracled: the zero-or-many path mapGroups cannot express. Events
    // replay as TWO ts-split micro-batches (history up to H12 =
    // trunc-hour(max ts) - 12h, then the tail); a user emits in batch 1
    // iff they have any history (first max always beats the initial
    // state) and in batch 2 iff their tail max EXCEEDS their history
    // max — quiet users stay silent. The oracle recomputes both halves'
    // per-user count/max and the strict-improvement rule in SQL, so the
    // emitted multiset (including the silent users) is value-checked.
    Entry("ts_stream_alerts", (s, _) => {
      import org.apache.spark.sql.functions.col
      val evs = s.table("events")
        .select(col("ts"), col("user_id"), col("event_type"),
          expr("CAST(value AS DOUBLE)").as("value"))
      val Array(h12) = s.sql(
        """SELECT date_trunc('HOUR', max(ts)) - INTERVAL 12 HOUR
          |FROM events""".stripMargin)
        .head.toSeq.map(_.asInstanceOf[java.sql.Timestamp]).toArray
      import s.implicits._
      val slices = Seq(evs.where(col("ts") <= lit(h12)), evs.where(col("ts") > lit(h12)))
      Streams.replay(slices, "ts_stream_al_sink", OutputMode.Append()) {
        src => Streams.maxValueAlerts(src.as[Streams.Event]).toDF()
      }.orderBy("user_id", "n_events")
    },
      // batch 1 emits every user with history; batch 2 emits only strict
      // max improvements (cumulative count, overall max)
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id,
        |                  CAST(value AS DOUBLE) AS value
        |           FROM events),
        |b AS (SELECT date_trunc('HOUR', max(ts)) - INTERVAL 12 HOUR AS h12
        |      FROM e),
        |h1 AS (SELECT user_id, count(*) AS n1, max(value) AS m1
        |       FROM e, b WHERE ts <= h12 GROUP BY user_id),
        |h2 AS (SELECT user_id, count(*) AS n2, max(value) AS m2
        |       FROM e, b WHERE ts > h12 GROUP BY user_id),
        |e1 AS (SELECT user_id, CAST(n1 AS BIGINT) AS n_events,
        |              m1 AS max_value
        |       FROM h1),
        |e2 AS (SELECT h2.user_id,
        |              CAST(COALESCE(h1.n1, 0) + h2.n2 AS BIGINT) AS n_events,
        |              GREATEST(COALESCE(h1.m1, h2.m2), h2.m2) AS max_value
        |       FROM h2 LEFT JOIN h1 ON h1.user_id = h2.user_id
        |       WHERE h1.user_id IS NULL OR h2.m2 > h1.m1)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |ORDER BY user_id, n_events""".stripMargin, mutatesSession = true),

    // CUSTOM KEYED STATE (mapGroupsWithState), differentially oracled:
    // the typed Dataset[Event] path through runningUserStats — per-user
    // state updated by a real StreamingQuery. One micro-batch over the
    // drained fixture makes each user emit exactly one cumulative
    // update, so the oracle is the plain per-user aggregate (count +
    // max are aggregation-order independent, so the check is exact).
    Entry("ts_stream_running_stats", (s, d) => {
      import org.apache.spark.sql.functions.col
      val stream = Tables.stream(s, d, "events")
        .select(col("ts"), col("user_id"), col("event_type"),
          expr("CAST(value AS DOUBLE)").as("value"))
      import s.implicits._
      val updates = Streams.runningUserStats(
        stream.as[Streams.Event])
      val sink = "ts_stream_mgs_sink"
      Streams.runToMemory(updates.toDF(), sink,
        OutputMode.Update())
      s.table(sink).orderBy("user_id")
    },
      // one drained micro-batch => one cumulative update per user; count
      // and max are aggregation-order independent, so the check is exact
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin, mutatesSession = true),

    // the Spark 4 transformWithState successor API to the entry above:
    // typed ValueState per user through the RocksDB state store (the only
    // provider implementing the v2 state layer — set around the query,
    // restored after), one micro-batch per event_id slice.
    // The LAST emission per user must equal the plain batch aggregate —
    // integer micro-unit sums, so state arithmetic crosses engines exactly
    Entry("ts_stream_tws_totals", (s, _) => {
      import s.implicits._
      Streams.replay(eventSlices(s), "ts_stream_tws_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.userTotalsTws(src.as[Streams.Event]).toDF()
      }
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"),
          expr("max_by(sum_micros, n_events)").as("sum_micros"))
        .orderBy("user_id")
    },
      // the drained-stream fixed point: whatever the trigger split, the
      // final ValueState per user must equal the whole-input aggregate
      """SELECT user_id, count(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin, mutatesSession = true),

    // ListState variant: deterministic 3-file replay (event_id % 3 ->
    // mtime-ordered landing files), one list element appended per
    // (user, trigger) = that batch's max value in micro-units; the
    // drained digest per user (n_batches / sum / max of per-batch maxes)
    // is recomputed by the oracle from the same % 3 split
    Entry("ts_stream_tws_batchmax", (s, _) => {
      import s.implicits._
      Streams.replay(eventSlices(s), "ts_stream_twsl_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.userBatchMaxTws(src.as[Streams.Event]).toDF()
      }
        .groupBy("user_id")
        .agg(max("n_batches").as("n_batches"),
          expr("max_by(sum_maxes, n_batches)").as("sum_maxes"),
          expr("max_by(max_max, n_batches)").as("max_max"))
        .orderBy("user_id")
    },
      // per (user, file) max -> per-user digest of those maxes, straight
      // from the same event_id % 3 split the staging uses
      """WITH mic AS (SELECT user_id, event_id % 3 AS f,
        |                    CAST(ROUND(value * 1000000) AS BIGINT) AS m
        |             FROM events),
        |bm AS (SELECT user_id, f, MAX(m) AS bmax FROM mic GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_batches,
        |       CAST(SUM(bmax) AS BIGINT) AS sum_maxes,
        |       MAX(bmax) AS max_max
        |FROM bm GROUP BY user_id ORDER BY user_id""".stripMargin, mutatesSession = true),

    // initial-state warm start: history (event_id % 3 = 0) lands as a
    // BATCH aggregate that seeds the v2 state via handleInitialState,
    // the remaining events stream on top — after draining, each
    // streaming user's totals must equal the aggregate over
    // history ∪ stream (users with history but no stream rows never
    // re-emit, so the oracle restricts to streaming users)
    Entry("ts_stream_tws_initial", (s, _) => {
      import org.apache.spark.sql.functions.col
      val evs = s.table("events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          expr("CAST(value AS DOUBLE)").as("value"))
      val initial = evs.where("event_id % 3 = 0")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)")
            .as("sum_micros"))
      // the live events' ids are 1 or 2 mod 3, so slice by the next digit
      val live = Streams.idSlices(evs.where("event_id % 3 <> 0"), "event_id div 3")
        .map(_.drop("event_id"))
      import s.implicits._
      Streams.replay(live, "ts_stream_twsi_sink", OutputMode.Update(), Streams.rocksDb) {
        src => Streams.userTotalsTwsWithInit(src.as[Streams.Event],
          initial.as[Streams.UserTotals]).toDF()
      }
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"),
          expr("max_by(sum_micros, n_events)").as("sum_micros"))
        .orderBy("user_id")
    },
      """WITH mic AS (SELECT user_id, event_id,
        |                    CAST(ROUND(value * 1000000) AS BIGINT) AS m
        |             FROM events),
        |tot AS (SELECT user_id, count(*) AS n_events,
        |               CAST(SUM(m) AS BIGINT) AS sum_micros
        |        FROM mic GROUP BY user_id),
        |streamers AS (SELECT DISTINCT user_id FROM events WHERE event_id % 3 <> 0)
        |SELECT t.user_id, t.n_events, t.sum_micros
        |FROM tot t JOIN streamers s ON s.user_id = t.user_id
        |ORDER BY t.user_id""".stripMargin, mutatesSession = true),

    // MapState twin of the entry above: per-user event_type -> count map
    // through the same RocksDB-backed v2 state layer; only touched types
    // re-emit per trigger, and the last emission per (user, type) must
    // equal the batch GROUP BY
    Entry("ts_stream_tws_typecounts", (s, _) => {
      import s.implicits._
      Streams.replay(eventSlices(s), "ts_stream_twsm_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.userTypeCountsTws(src.as[Streams.Event]).toDF()
      }
        .groupBy("user_id", "event_type")
        .agg(max("n").as("n_events"))
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin, mutatesSession = true),

    // STREAMING HLL: per event type, the 64-register distinct-user
    // sketch as TWS MapState — cardinality state stays 64 ints per key
    // at any user volume. Register max-merge is order-independent, so
    // the event_id-sliced replay converges to the batch
    // register pipeline (the differential oracle); estimate = the same
    // alpha*m^2 / harmonic division as llm_distinct_sketch
    Entry("ts_stream_hll", (s, _) => {
      import s.implicits._
      val alphaNum = 0.7213 / (1 + 1.079 / 64) * 64 * 64 * math.pow(2, 53)
      Streams.replay(eventSlices(s), "ts_stream_hll_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.hllDistinctTws(src.as[Streams.Event]).toDF()
      }
        .groupBy("event_type")
        .agg(max("n_buckets_hit").as("n_buckets_hit"),
          min("harmonic_s").as("harmonic_s"))
        .withColumn("hll_est", expr(
          s"CAST(ROUND(CAST($alphaNum AS DOUBLE) / harmonic_s, 6) AS DOUBLE)"))
        .orderBy("event_type")
    },
      // the batch register pipeline over the full table IS the drained
      // stream state (max-merge order independence); same md5 bucket/rho
      // derivation as llm_distinct_sketch, same estimate division
      {
      val alphaNum = 0.7213 / (1 + 1.079 / 64) * 64 * 64 * math.pow(2, 53)
      s"""WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh
         |           FROM events),
         |f AS (SELECT event_type,
         |             CAST(('0x' || substr(hh, 14, 3))::BIGINT % 64 AS INT) AS bucket,
         |             length(regexp_extract(substr(hh, 1, 13), '^0*')) AS zeros,
         |             substr(hh, length(regexp_extract(substr(hh, 1, 13), '^0*')) + 1, 1) AS fd
         |      FROM h),
         |r AS (SELECT event_type, bucket,
         |             CASE WHEN zeros = 13 THEN 53
         |             ELSE zeros * 4 + 1 + (CASE fd
         |               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
         |               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
         |               WHEN '7' THEN 1 ELSE 0 END) END AS rho
         |      FROM f),
         |regs AS (SELECT event_type, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
         |sk AS (SELECT event_type, count(*) AS nb,
         |              CAST(SUM(1::BIGINT << (53 - mj)) AS BIGINT) AS s_hit
         |       FROM regs GROUP BY 1)
         |SELECT event_type, CAST(nb AS BIGINT) AS n_buckets_hit,
         |       CAST(s_hit + (64 - nb) * (1::BIGINT << 53) AS BIGINT) AS harmonic_s,
         |       CAST(ROUND(CAST($alphaNum AS DOUBLE)
         |            / CAST(s_hit + (64 - nb) * (1::BIGINT << 53) AS BIGINT),
         |            6) AS DOUBLE) AS hll_est
         |FROM sk ORDER BY event_type""".stripMargin
    }, mutatesSession = true),

    // STREAMING exact distinct via bitmap chunks — agg_bitmap_distinct's
    // state held live as TWS MapState; OR-merge is idempotent, so the
    // event_id-sliced replay (and any duplicate delivery) converges and the
    // batch bit_or pipeline is the oracle. Both snapshot fields are
    // monotone → max picks the drained state
    Entry("ts_stream_bitmap_distinct", (s, _) => {
      import s.implicits._
      Streams.replay(eventSlices(s), "ts_stream_bmd_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.bitmapDistinctTws(src.as[Streams.Event]).toDF()
      }
        .groupBy("event_type")
        .agg(max("n_chunks").as("n_chunks"),
          max("n_distinct").as("n_distinct"))
        .selectExpr("event_type", "CAST(n_chunks AS BIGINT) AS n_chunks",
          "CAST(n_distinct AS BIGINT) AS n_distinct")
        .orderBy("event_type")
    },
      // the drained OR-merged bitmaps must equal the batch bit_or pipeline
      """
      WITH b AS (SELECT event_type, user_id // 62 AS chunk,
                        bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bm
                 FROM events GROUP BY event_type, user_id // 62)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct
      FROM b GROUP BY event_type
      ORDER BY event_type""", mutatesSession = true),

    // STREAMING top-k heavy hitters: the exact per-type (user → count)
    // map as TWS MapState, re-ranked each batch — counts are commutative
    // so the event_id-sliced replay converges and the batch
    // groupBy + rank window is the oracle verbatim; ties break on
    // user_id so the ranking itself is deterministic. n_total is
    // strictly monotone per key → max_by picks the drained snapshot
    Entry("ts_stream_topk", (s, _) => {
      import s.implicits._
      Streams.replay(eventSlices(s), "ts_stream_topk_sink",
          OutputMode.Update(), Streams.rocksDb) {
        src => Streams.topKTws(src.as[Streams.Event], k = 5).toDF()
      }
        .groupBy("event_type", "rank")
        .agg(expr("max_by(struct(user_id, cnt), n_total)").as("m"))
        .selectExpr("event_type", "CAST(rank AS INT) AS rank",
          "m.user_id AS user_id", "CAST(m.cnt AS BIGINT) AS cnt")
        .orderBy("event_type", "rank")
    },
      // the drained top-k map must equal the batch count + rank window
      // (ties on user_id make the ranking total)
      """
      WITH c AS (SELECT event_type, user_id, COUNT(*) AS cnt
                 FROM events GROUP BY event_type, user_id),
      r AS (SELECT event_type, user_id, cnt,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY cnt DESC, user_id) AS rank
            FROM c)
      SELECT event_type, CAST(rank AS INT) AS rank, user_id,
             CAST(cnt AS BIGINT) AS cnt
      FROM r WHERE rank <= 5
      ORDER BY event_type, rank""", mutatesSession = true),

    // STREAMING histogram-sketch quantiles: agg_quantile_sketch's
    // (bin → count) state held live as TWS MapState — the sketch is
    // commutative, so the o_orderkey-sliced replay converges and
    // the BATCH sketch SQL is the oracle verbatim; estimate arithmetic
    // is the identical all-integer interpolation. n_total is strictly
    // monotone per key → max_by picks the drained snapshot
    Entry("ts_stream_quantile", (s, _) => {
      val rows = Streams.idSlices(s.table("orders"), "o_orderkey")
        .map(_.selectExpr("o_orderstatus",
          "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents"))
      import s.implicits._
      Streams.replay(rows, "ts_stream_qsk_sink", OutputMode.Update(), Streams.rocksDb) {
        src => Streams.quantileSketchTws(src.as[Streams.OrderCents], Seq(50, 90, 99))
          .toDF()
      }
        .groupBy("o_orderstatus", "pct")
        .agg(expr("max_by(est_cents, n_total)").as("est_cents"))
        .selectExpr("o_orderstatus", "CAST(pct AS INT) AS pct",
          "CAST(est_cents AS BIGINT) AS est_cents")
        .orderBy("o_orderstatus", "pct")
    },
      // the drained sketch must equal the batch histogram sketch — oracle
      // = the agg_quantile_sketch algebra (DuckDB's //), verbatim
      Ops.quantileSketchOracle, mutatesSession = true),

    // event-time TIMERS — the last v2 surface without an entry (r9
    // verdict #8): per-user inactivity sessionization through
    // registerTimer/handleExpiredTimer on the RocksDB store, over a
    // 2-file TIME-SLICED replay (history | last 12 hours). Probed
    // semantics this entry pins (TimerProbeSpec): (a) rows older than
    // the doubly-lagged late-events watermark are DROPPED before the
    // processor, so a multi-batch replay must slice by TIME, never by
    // key — a key-split file lands as "late" history and silently never
    // arms; (b) each batch's end-of-batch sweep fires timers at or
    // below its eviction watermark (post-previous-batch max − delay),
    // same-batch arms included, and the post-drain no-data batch sweeps
    // too. With 2 ascending slices every mid-stream session timer is
    // deleted+re-armed before its expiry can pass a sweep ceiling, so
    // the contract collapses to: a user fires ONCE, with its TOTAL event
    // count, iff ms-floored last event ts + 4h gap < the final
    // watermark (ms-floored global max ts - 2h delay) — 86 of 150
    // fixture users at sf0.01; the rest stay in state and emit
    // nothing. The oracle recomputes the expiry arithmetic per user
    Entry("ts_stream_tws_timers", (s, _) => {
      import org.apache.spark.sql.functions.col
      val evs = s.table("events")
        .select(col("user_id"), col("ts"), col("event_type"),
          expr("CAST(value AS DOUBLE)").as("value"))
      val cut = evs.agg(expr("max(ts) - INTERVAL 12 HOURS").as("c"))
        .collect()(0).getTimestamp(0)
      import s.implicits._
      val slices = Seq(evs.where(col("ts") <= lit(cut)), evs.where(col("ts") > lit(cut)))
      Streams.replay(slices, "ts_stream_twst_sink", OutputMode.Append(),
          Streams.rocksDb) { src =>
        Streams.sessionExpiryTws(src.withWatermark("ts", "2 hours").as[Streams.Event],
          gapMs = 4L * 3600 * 1000).toDF()
      }
        .select(col("user_id"), col("n_events"),
          expr("timestamp_millis(expired_at_ms)").as("expired_at"))
        .orderBy("user_id")
    },
      // replay the timer arithmetic: a user fires iff its expiry
      // (ms-floored last event ts + 4h gap) is strictly below the final
      // watermark (ms-floored global max ts - 2h delay); the fired record
      // carries the whole-stream event count (the state at firing time —
      // every user's rows land in ONE batch, before its timer can fire)
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |u AS (SELECT user_id, count(*) AS n_events,
        |             date_trunc('milliseconds', max(ts)) AS last_ts
        |      FROM ev GROUP BY 1),
        |wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS wm
        |       FROM ev)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(last_ts + INTERVAL 4 HOUR AS TIMESTAMP) AS expired_at
        |FROM u, wm WHERE last_ts + INTERVAL 4 HOUR < wm.wm
        |ORDER BY user_id""".stripMargin, mutatesSession = true),

    // LEFT-OUTER stream-stream join: the WATERMARK-EVICTION emission
    // contract, differentially oracled. An unmatched left row emits
    // null-padded only once the watermark PROVES no match can still
    // arrive — probed empirically (sf0.001: of 202 purchases, 5 match,
    // 195 emit outer, 2 stay unemitted): the row emits iff its join
    // window upper bound (l.ts + 1h) is below the final watermark
    // (min of both streams' ms-floored max ts, minus the 2h delay).
    // The oracle recomputes match set, watermark, and eviction rule in
    // SQL, so the emitted/held-back split is value-checked.
    Entry("ts_stream_outer_join", (s, d) =>
      streamIntervalJoin(s, d, "left_outer", "ts_stream_oj_sink"),
      // left-outer replay: matched rows are the batch join; an UNMATCHED
      // left row emits null-padded iff its join window's upper bound
      // (l.ts + 1h) is below the final watermark — min of both streams'
      // ms-floored max event time minus the 2h delay (Spark's default
      // multiple-watermark policy is min; flooring pinned by the
      // late-drop entries)
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |           FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |         (SELECT date_trunc('milliseconds', max(ts)) FROM p),
        |         (SELECT date_trunc('milliseconds', max(ts)) FROM v))
        |       - INTERVAL 2 HOUR AS w),
        |m AS (SELECT l.user_id, l.ts AS left_ts, r.ts AS right_ts,
        |             l.event_type AS left_type, r.event_type AS right_type
        |      FROM p l JOIN v r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR),
        |o AS (SELECT l.user_id, l.ts AS left_ts,
        |             CAST(NULL AS TIMESTAMP) AS right_ts,
        |             l.event_type AS left_type,
        |             CAST(NULL AS VARCHAR) AS right_type
        |      FROM p l
        |      WHERE NOT EXISTS (SELECT 1 FROM v r
        |                        WHERE r.user_id = l.user_id
        |                          AND r.ts >= l.ts
        |                          AND r.ts <= l.ts + INTERVAL 1 HOUR)
        |        AND l.ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
        |SELECT * FROM m UNION ALL SELECT * FROM o
        |ORDER BY user_id, left_ts, right_ts""".stripMargin, mutatesSession = true),

    // FULL-OUTER stream-stream join — BOTH eviction contracts at once:
    // unmatched left emits under the left rule above, unmatched right
    // emits once the watermark passes its own ts (a right row can only
    // be matched by a left with l.ts in [r.ts - 1h, r.ts], and future
    // lefts sit above the watermark) — both rules recomputed in SQL
    Entry("ts_stream_full_outer_join", (s, d) =>
      streamIntervalJoin(s, d, "full_outer", "ts_stream_foj_sink"),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |           FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |         (SELECT date_trunc('milliseconds', max(ts)) FROM p),
        |         (SELECT date_trunc('milliseconds', max(ts)) FROM v))
        |       - INTERVAL 2 HOUR AS w),
        |m AS (SELECT l.user_id, l.ts AS left_ts, r.ts AS right_ts,
        |             l.event_type AS left_type, r.event_type AS right_type
        |      FROM p l JOIN v r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR),
        |o AS (SELECT l.user_id, l.ts AS left_ts,
        |             CAST(NULL AS TIMESTAMP) AS right_ts,
        |             l.event_type AS left_type,
        |             CAST(NULL AS VARCHAR) AS right_type
        |      FROM p l
        |      WHERE NOT EXISTS (SELECT 1 FROM v r
        |                        WHERE r.user_id = l.user_id
        |                          AND r.ts >= l.ts
        |                          AND r.ts <= l.ts + INTERVAL 1 HOUR)
        |        AND l.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)),
        |ro AS (SELECT r.user_id, CAST(NULL AS TIMESTAMP) AS left_ts,
        |              r.ts AS right_ts,
        |              CAST(NULL AS VARCHAR) AS left_type,
        |              r.event_type AS right_type
        |       FROM v r
        |       WHERE NOT EXISTS (SELECT 1 FROM p l
        |                         WHERE l.user_id = r.user_id
        |                           AND r.ts >= l.ts
        |                           AND r.ts <= l.ts + INTERVAL 1 HOUR)
        |         AND r.ts < (SELECT w FROM wm))
        |SELECT * FROM m UNION ALL SELECT * FROM o UNION ALL SELECT * FROM ro
        |ORDER BY user_id, left_ts, right_ts""".stripMargin, mutatesSession = true),

    Entry.sql("ts_sessionize",
        """SELECT user_id,
          |       CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
          |       COUNT(*) AS n_events
          |FROM (SELECT user_id,
          |             CASE WHEN prev_ts IS NULL
          |                    OR ts - prev_ts > INTERVAL '30' MINUTE THEN 1 ELSE 0 END AS new_sess
          |      FROM (SELECT user_id, ts, event_id,
          |                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |            FROM events))
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin,
      """SELECT user_id,
        |       CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM (SELECT user_id,
        |             CASE WHEN prev_ts IS NULL
        |                    OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |      FROM (SELECT user_id, ts, event_id,
        |                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |            FROM events) x) y
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // gap-based session windows in BATCH mode (the streaming twin lives in
    // graft.streaming.Streams): Spark's session_window merges events whose
    // gaps stay under 30 min; the oracle rebuilds the same sessions with
    // gaps-and-islands SQL. Boundary semantics (probed; SessionWindowSpec
    // pins them): an event EXACTLY 30 min after the previous one MERGES —
    // the merge rule is touch-inclusive even though each raw window is
    // half-open — so the oracle's break condition is STRICTLY `>`.
    // session_window must appear IN the GROUP BY — as a plain projection
    // it never merges, every event keeps its raw [ts, ts+gap) window
    Entry.sql("ts_session_window",
        """SELECT user_id,
          |       session_window.start AS session_start,
          |       session_window.end AS session_end,
          |       COUNT(*) AS n_events
          |FROM events
          |GROUP BY user_id, session_window(ts, '30 minutes')
          |ORDER BY user_id, session_start""".stripMargin,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts,
        |             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM x)
        |SELECT user_id,
        |       MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin),

    // as-of join: every purchase attributed to the user's latest preceding
    // view (backward inclusive), DuckDB's native ASOF JOIN as the oracle
    Entry("ts_asof_join", (s, _) => {
      val ev = s.table("events")
      val purchases = ev.where("event_type = 'purchase'")
        .select("event_id", "user_id", "ts")
      val views = ev.where("event_type = 'view'")
        .groupBy("user_id", "ts").agg(max("value").as("v_value"))
      graft.operators.AsOf.joinBackward(purchases, views, "user_id", "ts",
          Seq("v_value"))
        .selectExpr("event_id", "user_id", "ts AS p_ts",
          "CAST(right_v_value AS DOUBLE) AS v_value")
        .orderBy("event_id")
    },
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS v_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts AS p_ts, v.v_value
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY event_id""".stripMargin),

    // the skew-safe as-of (time-bucketed pre-carry, hourly buckets): must
    // produce EXACTLY the rows of ts_asof_join — same DuckDB ASOF oracle,
    // so the boundary stitch is differentially checked on real data
    Entry("ts_asof_bucketed", (s, _) => {
      val ev = s.table("events")
      val purchases = ev.where("event_type = 'purchase'")
        .select("event_id", "user_id", "ts")
      val views = ev.where("event_type = 'view'")
        .groupBy("user_id", "ts").agg(max("value").as("v_value"))
      graft.operators.AsOf.joinBackwardBucketed(purchases, views, "user_id",
          "ts", Seq("v_value"), bucketSeconds = 3600L)
        .selectExpr("event_id", "user_id", "ts AS p_ts",
          "CAST(right_v_value AS DOUBLE) AS v_value")
        .orderBy("event_id")
    },
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS v_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts AS p_ts, v.v_value
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY event_id""".stripMargin),

    // forward as-of: every view attributed to the user's next purchase
    // (at-or-after, inclusive) — the mirror of ts_asof_join, oracled by
    // DuckDB's ASOF JOIN with the inequality flipped
    Entry("ts_asof_forward", (s, _) => {
      val ev = s.table("events")
      val views = ev.where("event_type = 'view'")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where("event_type = 'purchase'")
        .groupBy("user_id", "ts").agg(max("value").as("p_value"))
      graft.operators.AsOf.joinForward(views, purchases, "user_id", "ts",
          Seq("p_value"))
        .selectExpr("event_id", "user_id", "ts AS v_ts",
          "CAST(right_p_value AS DOUBLE) AS p_value")
        .orderBy("event_id")
    },
      """WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS p_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.ts AS v_ts, p.p_value
        |FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
        |ORDER BY event_id""".stripMargin),

    // nearest-direction as-of (pandas merge_asof direction='nearest'):
    // each purchase matched to its closest view in EITHER direction,
    // exact integer-micros distance, ties to the earlier (backward)
    // side; composed from the two one-shuffle carry passes stitched on
    // the unique left id — the oracle composes DuckDB's two ASOF JOINs
    // with the same pick rule
    Entry("ts_asof_nearest", (s, _) => {
      val ev = s.table("events")
      val purchases = ev.where("event_type = 'purchase'")
        .select("event_id", "user_id", "ts")
      val views = ev.where("event_type = 'view'")
        .groupBy(col("user_id"), col("ts").as("v_ts"))
        .agg(max("value").as("v_value"))
        .selectExpr("user_id", "v_ts AS ts", "v_ts", "v_value")
      graft.operators.AsOf.joinNearest(purchases, views, "user_id", "ts",
          "event_id", Seq("v_ts", "v_value"), "v_ts")
        .selectExpr("event_id", "user_id",
          "abs(unix_micros(ts) - unix_micros(right_v_ts)) AS delta_us",
          "CAST(right_v_value AS DOUBLE) AS v_value", "direction")
        .orderBy("event_id")
    },
      // two ASOF JOINs composed with the same integer-micros pick rule
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS v_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT p.event_id, v.ts AS bts, v.v_value AS bval
        |      FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
        |f AS (SELECT p.event_id, v.ts AS fts, v.v_value AS fval
        |      FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts),
        |j AS (SELECT p.event_id, p.user_id, p.ts, b.bts, b.bval, f.fts, f.fval,
        |             (f.fts IS NULL OR (b.bts IS NOT NULL AND
        |                epoch_us(p.ts) - epoch_us(b.bts)
        |                  <= epoch_us(f.fts) - epoch_us(p.ts))) AS use_b
        |      FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
        |      WHERE b.bts IS NOT NULL OR f.fts IS NOT NULL)
        |SELECT event_id, user_id,
        |       CAST(abs(epoch_us(ts) - epoch_us(CASE WHEN use_b THEN bts ELSE fts END))
        |            AS BIGINT) AS delta_us,
        |       CAST(CASE WHEN use_b THEN bval ELSE fval END AS DOUBLE) AS v_value,
        |       CASE WHEN use_b THEN 'b' ELSE 'f' END AS direction
        |FROM j ORDER BY event_id""".stripMargin),

    // nearest as-of BOUNDED by a 10-minute tolerance (pandas merge_asof
    // tolerance=): a directed match beyond the window counts as absent —
    // an in-window backward match beats a closer out-of-window forward
    // one, and purchases with no view within ±10 min drop out entirely.
    // Same two carry passes; the bound is a post-stitch integer-micros
    // predicate, not a new plan
    Entry("ts_asof_nearest_tol", (s, _) => {
      val ev = s.table("events")
      val purchases = ev.where("event_type = 'purchase'")
        .select("event_id", "user_id", "ts")
      val views = ev.where("event_type = 'view'")
        .groupBy(col("user_id"), col("ts").as("v_ts"))
        .agg(max("value").as("v_value"))
        .selectExpr("user_id", "v_ts AS ts", "v_ts", "v_value")
      graft.operators.AsOf.joinNearest(purchases, views, "user_id", "ts",
          "event_id", Seq("v_ts", "v_value"), "v_ts",
          toleranceMicros = 600L * 1000000L)
        .selectExpr("event_id", "user_id",
          "abs(unix_micros(ts) - unix_micros(right_v_ts)) AS delta_us",
          "CAST(right_v_value AS DOUBLE) AS v_value", "direction")
        .orderBy("event_id")
    },
      // the same two-ASOF stitch with each side masked by the tolerance
      // BEFORE the pick — pandas' rule, replayed in closed form
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS v_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |b AS (SELECT p.event_id, v.ts AS bts, v.v_value AS bval
        |      FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
        |f AS (SELECT p.event_id, v.ts AS fts, v.v_value AS fval
        |      FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts),
        |m AS (SELECT p.event_id, p.user_id, p.ts, b.bts, b.bval, f.fts, f.fval,
        |             (b.bts IS NOT NULL AND
        |              epoch_us(p.ts) - epoch_us(b.bts) <= 600000000) AS b_ok,
        |             (f.fts IS NOT NULL AND
        |              epoch_us(f.fts) - epoch_us(p.ts) <= 600000000) AS f_ok
        |      FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)),
        |j AS (SELECT *, (NOT f_ok OR (b_ok AND
        |                epoch_us(ts) - epoch_us(bts)
        |                  <= epoch_us(fts) - epoch_us(ts))) AS use_b
        |      FROM m WHERE b_ok OR f_ok)
        |SELECT event_id, user_id,
        |       CAST(abs(epoch_us(ts) - epoch_us(CASE WHEN use_b THEN bts ELSE fts END))
        |            AS BIGINT) AS delta_us,
        |       CAST(CASE WHEN use_b THEN bval ELSE fval END AS DOUBLE) AS v_value,
        |       CASE WHEN use_b THEN 'b' ELSE 'f' END AS direction
        |FROM j ORDER BY event_id""".stripMargin),

    // ordered conversion funnel view → click → purchase, 7-day max gap per
    // step (operators/Funnel): per-user frontier timestamps as exact epoch
    // micros + step_reached. The oracle replays the frontier-greedy rule as
    // three chained min-aggregates in SQL — a wrong strictness ('>=' for
    // '>'), a wrong horizon bound, or a lost stalling user all change the
    // multiset. Micros-exact: both engines work in the micro-truncated
    // domain (CAST(ts AS TIMESTAMP) in DuckDB) and epoch_us/unix_micros
    // are integer, so no rounding anywhere.
    Entry("ts_funnel", (s, _) => {
      val ev = s.table("events")
      val steps = Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))
      graft.operators.Funnel.ordered(ev, "user_id", "ts", steps,
          Some("INTERVAL 7 DAYS"))
        .selectExpr("user_id",
          "unix_micros(view_ts) AS view_us",
          "unix_micros(click_ts) AS click_us",
          "unix_micros(purchase_ts) AS purchase_us",
          ("CAST(1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END" +
            " + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END AS INT)" +
            " AS step_reached"))
        .orderBy("user_id")
    },
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 7 DAY GROUP BY 1)
        |SELECT s1.user_id, epoch_us(t1) AS view_us, epoch_us(t2) AS click_us,
        |       epoch_us(t3) AS purchase_us,
        |       CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INT) AS step_reached
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin),

    // daily resample + gap fill with LOCF (operators/Resample): the dense
    // per-user day spine materializes missing days as zero-count rows and
    // carries the last observed daily sum forward. The oracle rebuilds the
    // spine with generate_series and the carry with IGNORE NULLS window
    // SQL; sums ride DECIMAL until the output edge.
    Entry("ts_gap_fill", (s, _) => {
      val ev = s.table("events")
      graft.operators.Resample.locfDaily(ev, "user_id", "ts", "value")
        .orderBy("user_id", "day")
    },
      """WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
        |            FROM events),
        |daily AS (SELECT user_id, day, count(*) AS n_events,
        |                 SUM(CAST(value AS DECIMAL(18,2))) AS s
        |          FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT u.user_id, CAST(gs.g AS DATE) AS day
        |          FROM (SELECT DISTINCT user_id FROM ev) u
        |          CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS g
        |                      FROM b) gs)
        |SELECT sp.user_id, sp.day,
        |       COALESCE(dl.n_events, 0) AS n_events,
        |       CAST(COALESCE(dl.s, 0) AS DOUBLE) AS day_sum,
        |       CAST(last_value(dl.s IGNORE NULLS)
        |              OVER (PARTITION BY sp.user_id ORDER BY sp.day) AS DOUBLE) AS locf_sum
        |FROM spine sp LEFT JOIN daily dl ON sp.user_id = dl.user_id AND sp.day = dl.day
        |ORDER BY sp.user_id, sp.day""".stripMargin),

    // binned range join (operators/RangeJoin): clicks inside 10-minute
    // error-incident windows — NO equi key, so Catalyst alone plans a
    // nested loop; the bin discretization turns it into a hash equi-join
    // (plan-gated in RangeJoinSpec). The oracle is the plain interval
    // predicate in DuckDB, so a bin off-by-one at either edge, a dropped
    // multi-bin interval, or a double-counted pair all hash-mismatch.
    Entry("join_range_binned", (s, _) => {
      val ev = s.table("events")
      val incidents = ev.where("event_type = 'error'")
        .select(col("event_id").as("incident_id"), col("ts").as("inc_s"),
          expr("ts + INTERVAL 10 MINUTES").as("inc_e"))
      val clicks = ev.where("event_type = 'click'")
        .select(col("event_id"), col("ts"), col("value"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, "ts", incidents, "inc_s", "inc_e", binSeconds = 600L)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_clicks"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            .as("click_value"))
        .orderBy("incident_id")
    },
      """WITH inc AS (SELECT event_id AS incident_id, ts AS s,
        |                    ts + INTERVAL 10 MINUTE AS e
        |             FROM events WHERE event_type = 'error'),
        |clk AS (SELECT ts, value FROM events WHERE event_type = 'click')
        |SELECT incident_id, count(*) AS n_clicks,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
        |FROM inc JOIN clk ON clk.ts >= inc.s AND clk.ts < inc.e
        |GROUP BY 1 ORDER BY incident_id""".stripMargin),

    // interval × interval overlap through the same binning (attributed
    // to the shared max-start bin — exactly-once, no dedup): error
    // windows overlapping purchase windows, counted per incident
    Entry("join_interval_overlap", (s, _) => {
      val ev = s.table("events")
      val inc = ev.where("event_type = 'error'")
        .select(col("event_id").as("incident_id"), col("ts").as("inc_s"),
          expr("ts + INTERVAL 10 MINUTES").as("inc_e"))
      val pur = ev.where("event_type = 'purchase'")
        .select(col("event_id").as("p_id"), col("ts").as("p_s"),
          expr("ts + INTERVAL 10 MINUTES").as("p_e"), col("value"))
      graft.operators.RangeJoin.intervalOverlap(
          inc, "inc_s", "inc_e", pur, "p_s", "p_e", binSeconds = 600L)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_overlaps"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            .as("purchase_value"))
        .orderBy("incident_id")
    },
      """WITH inc AS (SELECT event_id AS incident_id, ts AS s,
        |                    ts + INTERVAL 10 MINUTE AS e
        |             FROM events WHERE event_type = 'error'),
        |pur AS (SELECT ts AS s, ts + INTERVAL 10 MINUTE AS e, value
        |        FROM events WHERE event_type = 'purchase')
        |SELECT incident_id, count(*) AS n_overlaps,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |FROM inc JOIN pur ON inc.s < pur.e AND pur.s < inc.e
        |GROUP BY 1 ORDER BY incident_id""".stripMargin),

    // tolerance self-pairing (RangeJoin.proximityPairs): error events
    // within 5 minutes of each other across ALL users — no equi key, the
    // classic coincidence-correlation query. Micros-exact output, each
    // unordered pair exactly once (a_id < b_id)
    Entry("join_proximity_pairs", (s, _) => {
      val errs = s.table("events").where("event_type = 'error'")
        .select("event_id", "ts")
      graft.operators.RangeJoin.proximityPairs(errs, "event_id", "ts",
          toleranceSeconds = 300L)
        .selectExpr("a_id", "b_id",
          "unix_micros(b_ts) - unix_micros(a_ts) AS gap_us")
        .orderBy("a_id", "b_id")
    },
      """WITH e AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        |SELECT a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
        |FROM e a JOIN e b
        |  ON a.event_id < b.event_id
        | AND abs(epoch_us(CAST(a.ts AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 300000000
        |ORDER BY a_id, b_id""".stripMargin),

    // Allen's interval-algebra census over the SAME binned overlap join
    // (never an all-pairs NLJ): every overlapping event-interval pair
    // classified into the 9 concurrent Allen relations (equals, starts/
    // started_by, finishes/finished_by, during/contains, overlaps/
    // overlapped_by — the disjoint before/after/meets need no join) by a
    // CASE over exact endpoint micros. Variable durations (value-derived,
    // floor() to dodge the CAST-rounding divergence) populate every
    // branch; pairs attribute once via the shared-bin rule + a_id < b_id
    Entry("join_allen_relations", (s, _) => {
      // minute-floored starts + minute-multiple durations: endpoint
      // coincidences (equals/starts/finishes/meets-free census) actually
      // occur, so every CASE branch carries pairs
      val ev = s.table("events").where("event_type IN ('error', 'signup')")
        .select(col("event_id"),
          expr("(unix_micros(ts) div 60000000) * 60000000").as("su"))
        .withColumn("eu",
          expr("su + 60000000 * (1 + (event_id % 10))"))
      val a = ev.select(col("event_id").as("a_id"),
        expr("timestamp_micros(su)").as("a_s"),
        expr("timestamp_micros(eu)").as("a_e"),
        col("su").as("a_su"), col("eu").as("a_eu"))
      val b = ev.select(col("event_id").as("b_id"),
        expr("timestamp_micros(su)").as("b_s"),
        expr("timestamp_micros(eu)").as("b_e"),
        col("su").as("b_su"), col("eu").as("b_eu"))
      graft.operators.RangeJoin.intervalOverlap(
          a, "a_s", "a_e", b, "b_s", "b_e", binSeconds = 600L)
        .where("a_id < b_id")
        .withColumn("relation", expr(
          """CASE WHEN a_su = b_su AND a_eu = b_eu THEN 'equals'
            |     WHEN a_su = b_su AND a_eu < b_eu THEN 'starts'
            |     WHEN a_su = b_su THEN 'started_by'
            |     WHEN a_eu = b_eu AND a_su > b_su THEN 'finishes'
            |     WHEN a_eu = b_eu THEN 'finished_by'
            |     WHEN a_su > b_su AND a_eu < b_eu THEN 'during'
            |     WHEN a_su < b_su AND a_eu > b_eu THEN 'contains'
            |     WHEN a_su < b_su THEN 'overlaps'
            |     ELSE 'overlapped_by' END""".stripMargin))
        .groupBy("relation")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("relation")
    },
      // the flat inequality join (DuckDB IEJoin) + the identical CASE —
      // a binning bug (double-attributed or dropped pair) or a relation
      // misclassification both change the census
      """WITH iv AS (SELECT event_id,
        |                   (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000)
        |                     * 60000000 AS s,
        |                   (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000)
        |                     * 60000000
        |                     + 60000000 * (1 + event_id % 10) AS e
        |            FROM events WHERE event_type IN ('error', 'signup')),
        |p AS (SELECT a.s AS a_su, a.e AS a_eu, b.s AS b_su, b.e AS b_eu
        |      FROM iv a JOIN iv b
        |        ON a.event_id < b.event_id AND a.s < b.e AND b.s < a.e),
        |r AS (SELECT CASE WHEN a_su = b_su AND a_eu = b_eu THEN 'equals'
        |                  WHEN a_su = b_su AND a_eu < b_eu THEN 'starts'
        |                  WHEN a_su = b_su THEN 'started_by'
        |                  WHEN a_eu = b_eu AND a_su > b_su THEN 'finishes'
        |                  WHEN a_eu = b_eu THEN 'finished_by'
        |                  WHEN a_su > b_su AND a_eu < b_eu THEN 'during'
        |                  WHEN a_su < b_su AND a_eu > b_eu THEN 'contains'
        |                  WHEN a_su < b_su THEN 'overlaps'
        |                  ELSE 'overlapped_by' END AS relation
        |      FROM p)
        |SELECT relation, count(*) AS n_pairs
        |FROM r GROUP BY 1 ORDER BY relation""".stripMargin),

    // z-order clustered WRITE (ZOrder.writeClustered): range-partitioned
    // by z, sorted within files; reading it back must reproduce the
    // original lineitem aggregate exactly — the layout rewrite is
    // lossless (the per-file locality it buys is LayoutOperatorSpec's
    // footer-stat assertion)
    Entry("sink_zorder_clustered", (s, d) => {
      val out = s"${base(s, d)}/zorder_out"
      graft.operators.ZOrder.writeClustered(
        s.table("lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", out, numFiles = 8)
      s.read.parquet(out)
        .groupBy(expr("l_partkey % 10").as("pk_mod"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)")
            .as("sum_qty"),
          max("l_suppkey").as("max_sk"))
        .orderBy("pk_mod")
    },
      """SELECT l_partkey % 10 AS pk_mod, count(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |       max(l_suppkey) AS max_sk
        |FROM lineitem GROUP BY 1 ORDER BY pk_mod""".stripMargin),

    // catalog DML: CTAS + INSERT INTO a managed parquet table, then read
    // back (reference DmlNode INSERT/CTAS, datafusion.proto:269-283) —
    // the oracle aggregates the original rows, so a lost or duplicated
    // insert shows up as a hash mismatch
    Entry("ddl_ctas_insert", (s, _) => {
      Tables.dropManaged(s, "ctas_orders")
      s.sql(
        """CREATE TABLE ctas_orders USING PARQUET AS
          |SELECT o_orderstatus, o_totalprice FROM orders
          |WHERE o_orderstatus = 'F'""".stripMargin)
      s.sql(
        """INSERT INTO ctas_orders
          |SELECT o_orderstatus, o_totalprice FROM orders
          |WHERE o_orderstatus = 'O'""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp
          |FROM ctas_orders
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_tp
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin, mutatesSession = true),

    Entry.sql("json_props_agg",
        """SELECT event_type,
          |       CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       COUNT(*) AS n_events
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n_events
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Spark 4's VARIANT type over the semi-structured props column:
    // parse once, typed variant_get extraction, try_variant_get on a
    // missing path must be NULL-silent (counted, expected zero hits);
    // the oracle extracts through DuckDB's JSON functions instead
    Entry.sql("fn_variant_json",
        """SELECT event_type,
          |       CAST(SUM(variant_get(parse_json(props), '$.k', 'bigint')) AS BIGINT) AS sum_k,
          |       CAST(SUM(CASE WHEN variant_get(parse_json(props), '$.k', 'bigint') > 50
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
          |       COUNT(try_variant_get(parse_json(props), '$.missing', 'bigint')) AS n_missing_hits
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |       COUNT(json_extract(props, '$.missing')) AS n_missing_hits
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
