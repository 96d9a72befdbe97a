package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.app.OracleSql
import graft.operators._
import graft.sources.Tables
import graft.streaming.StreamingPipeline

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the training-data operators; `oracleSql` gives the
  * DuckDB-equivalent SQL for everything SQL-expressible (the rest get the
  * driver's rows-only check and are pinned against the Scala oracle in
  * ScalaTest instead).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String): String => DataFrame =
    name => Tables.read(spark, dir, name)

  private def parsed(spark: SparkSession, dir: String): DataFrame =
    ParseStage.parse(Tables.transcripts(spark, dir))

  /** Flagship: full parse→enrich→route pipeline, sink distribution. */
  def entry(spark: SparkSession): DataFrame = {
    val p = parsed(spark, "/root/testdata/sf0.001")
    Route.withSink(Enrich.withRoleToolIds(p))
      .groupBy("sink").agg(count(lit(1)).as("rows"), sum("bytes_sent").as("bytes"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------------- TPC-H-ish
    // DECIMAL is banished from every output schema: the driver's hasher
    // canonicalizes decimal VALUES differently between the Spark parquet and
    // the DuckDB result even when declared widths and values agree (red in
    // r1 AND r2). The inputs are exact 2-decimal doubles, so round(x*100) is
    // the same integer in both engines (never a .5 tie — x*100 is within
    // 1e-9 of an integer) and the BIGINT sum is lossless. Same pattern as
    // e_rate_windows.value_micros, green since r1.
    "q1_agg" -> ((s, d) => t(s, d)("lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_price_cents"),
        count(lit(1)).as("count_order"))),

    "q3_topn_join" -> ((s, d) => {
      val c = t(s, d)("customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d)("orders")
      val l = t(s, d)("lineitem")
      // r6 (opt guide §3.1/§3.2): apply the selective customer filter to
      // orders FIRST (broadcast c into o) and broadcast only the surviving
      // ~1/5 orderkeys, so the fact table probes one small single-column
      // build side and non-BUILDING rows drop at the first join instead of
      // the second. Same inner-equi-join algebra, same oracle; the pre-r6
      // shape probed the full orders broadcast per lineitem row.
      // The hint on oc is deliberate AND scale-bounded by intent
      // (code-review r6): un-hinted, the static size estimates broadcast
      // the LINEITEM side here (measured — the 3-column fact scan estimate
      // undercuts the join-output estimate), which is strictly worse at any
      // scale. The filtered-orderkey set does grow with sf; past broadcast
      // capacity the production form of this query replaces the hint with
      // a bloom-filter semi-join on the same oc keyset (guide §3.2) — the
      // join ORDER, which is the substantive change here, stays.
      val oc = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"))
      l.join(broadcast(oc), l("l_orderkey") === oc("o_orderkey"))
        .groupBy(col("l_orderkey"))
        // revenue in 1e-4 units (BIGINT): ep*(1-disc) is the same IEEE double
        // in both engines, *1e4 is within float error of the exact 4-decimal
        // rational, round() lands on the same integer
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")).as("revenue_m4"))
        .orderBy(col("revenue_m4").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q_join_bcast" -> ((s, d) => {
      val sup = t(s, d)("supplier")
      val nat = t(s, d)("nation")
      val reg = t(s, d)("region")
      sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("suppliers"))
    }),

    "w_window_running" -> ((s, d) => {
      val o = t(s, d)("orders")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("order_seq"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("running_spend_cents"))
    }),

    "e_rate_windows" -> ((s, d) => t(s, d)("events")
      .groupBy((unix_timestamp(col("ts")) / 300L).cast("long").as("win5m"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * 1e6).cast("long")).as("value_micros"))),

    // ------------------------------------------------- transcript pipeline
    "p_parse_fields" -> ((s, d) => parsed(s, d).select(
      "conv_id", "turn_idx", "client_ip", "remote_logname", "remote_user",
      "method", "path", "path1", "path2", "path3", "protocol", "status",
      "bytes_sent", "malicious", "domain", "format")),

    "p_ua_classify" -> ((s, d) => parsed(s, d)
      .groupBy("ua_family", "ua_os", "ua_device_type", "ua_human", "ua_intent")
      .agg(count(lit(1)).as("cnt"))),

    "p9_referer" -> ((s, d) => parsed(s, d).groupBy("referer").agg(count(lit(1)).as("cnt"))),

    "a1_totals" -> ((s, d) => Aggregates.totals(parsed(s, d))),

    "a2_keyed_counts" -> ((s, d) => Aggregates.keyedCounts(parsed(s, d))),

    "a4_topn_paths" -> ((s, d) => Aggregates.topN(parsed(s, d), "path", 10)),

    // A3 windowed delta: the counter report's (+N) between two reporting
    // ticks (counter.go:49-56 PreviousValue) — tick 1 = turns seen so far
    // (turn_idx < 6), tick 2 = all turns; both snapshots in ONE aggregation
    // pass, emitted long-form with the delta
    "a3_totals_delta" -> ((s, d) => {
      val p = parsed(s, d)
      val early = col("turn_idx") < 6
      def snap(name: String, now: Column, before: Column) = struct(
        lit(name).as("key"), before.cast("long").as("prev"), now.cast("long").as("cur"))
      val rows = p.agg(
        snap("total_requests", count(lit(1)), sum(when(early, 1L).otherwise(0L))).as("a"),
        snap("total_bytes", sum(col("bytes_sent")), sum(when(early, col("bytes_sent")).otherwise(0L))).as("b"),
        snap("humans", sum(when(col("ua_human") === "Human", 1L).otherwise(0L)),
          sum(when(early && col("ua_human") === "Human", 1L).otherwise(0L))).as("c"),
        snap("malicious_requests", sum(when(col("malicious") =!= 0, 1L).otherwise(0L)),
          sum(when(early && col("malicious") =!= 0, 1L).otherwise(0L))).as("d"))
      rows.select(explode(array(col("a"), col("b"), col("c"), col("d"))).as("e"))
        .select(col("e.key").as("key"), col("e.prev").as("prev"), col("e.cur").as("cur"),
          (col("e.cur") - col("e.prev")).as("delta"))
    }),

    "a6_metric_rows" -> ((s, d) => Aggregates.metricRows(parsed(s, d))),

    "a7_windows" -> ((s, d) => Aggregates.windowDistribution(parsed(s, d))),

    // A8: exact arrival-order bounded-window semantics (evictions + flush +
    // late-drop); equals the batch sums on bounded-lateness data, diverges
    // exactly like the reference on stragglers (PipelineAppSpec)
    "a8_arrival_metrics" -> ((s, d) => MetricsArrivalOrder.metricRows(parsed(s, d)).toDF()),

    "f1_route_sinks" -> ((s, d) => Route.withSink(parsed(s, d))
      .select("conv_id", "turn_idx", "sink")),

    "r1_sink_distribution" -> ((s, d) => Route.withSink(parsed(s, d))
      .groupBy("sink").agg(count(lit(1)).as("n_rows"), sum("bytes_sent").as("bytes"))),

    // R2: the WRITE_TO_FILE JSON projection (writetofile.go:50-90), struct
    // flattened + keyed so every field is row-addressable by the oracle
    "r2_json_projection" -> ((s, d) => Route.goJsonProjection(parsed(s, d), withKeys = true)
      .select(
        col("conv_id"), col("turn_idx"),
        col("Domain").as("domain"), col("ClientIP").as("client_ip"),
        col("RemoteLogname").as("remote_logname"), col("RemoteUser").as("remote_user"),
        col("Timestamp").as("ts_rfc3339"), col("Method").as("method"),
        col("Path").as("path"), col("Path1").as("path1"),
        col("Path2").as("path2"), col("Path3").as("path3"),
        col("Protocol").as("protocol"), col("Status").as("status"),
        col("BytesSent").as("bytes_sent"), col("Referer").as("referer"),
        col("UserAgent.FullName").as("ua_fullname"), col("UserAgent.OS").as("ua_os"),
        col("UserAgent.Family").as("ua_family"),
        col("UserAgent.DeviceType").as("ua_device_type"),
        col("UserAgent.Human").as("ua_human"), col("UserAgent.Intent").as("ua_intent"),
        col("Malicious").as("malicious"), col("IsOutOfOrder").as("is_out_of_order"))),

    // R3: the metrics-sink table exactly as written (domain surrogate join +
    // 100-char key truncation, mysqldb.go:144-159). Single scan: domain_name
    // rides through the metric aggregation as an extra group key (each line
    // carries its own domain, exactly like the reference's per-line
    // GetDomainId) and the tiny materialized dim maps name → id by
    // broadcast afterward — no separate conv→domain corpus pass.
    "r3_metrics_sink" -> ((s, d) => {
      val p = parsed(s, d).withColumn("domain_name",
        coalesce(nullif(col("domain"), lit("")), lit(graft.sources.TranscriptGen.defaultDomain)))
      Aggregates.metricRows(p, keyCols = Seq("conv_id", "domain_name"))
        .join(broadcast(graft.sources.DimTables.domain(s, d)), Seq("domain_name"), "left")
        .withColumn("key_value", substring(col("key_value"), 0, 100))
        .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
    }),

    // R3 accumulate mode (mysqldb.go:147-151: metric_value = metric_value +
    // VALUES(metric_value)): two half-corpus incremental runs — even turns,
    // then odd turns — through the REAL read-merge-write sink (3-step atomic
    // rename swap), then the committed table read back. The halves overlap
    // on every (conv, metric, key, window) group, so a union-instead-of-sum
    // bug diverges from the oracle, which is simply the FULL corpus metric
    // table (row-additive sums: accumulate(evens)+accumulate(odds) ≡ full).
    // Truncation subtlety: the merge groups on the 100-char-TRUNCATED key
    // (the reference's PRIMARY KEY, so colliding prefixes upsert-SUM in
    // MySQL — the merge is the faithful form) while r3_metrics_sink emits
    // truncated-but-ungrouped rows; the shared oracle is exact because no
    // generated metric key reaches 100 chars (keys are statuses/methods/
    // families/paths/referers — the >100-char ua_raw is not a metric key).
    "r3_metrics_accumulate" -> ((s, d) => {
      val out = s"${Tables.dataRoot}/tmp/metrics_accumulate/${Tables.sfName(d)}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // deterministic rerun
      val p = parsed(s, d)
      val dim = Enrich.withDomainIdFrom(p, graft.sources.DimTables.domain(s, d))
        .select("conv_id", "domain_id").distinct()
      Seq(0, 1).foreach { parity =>
        Sinks.writeMetrics(
          Aggregates.metricRows(p.filter(col("turn_idx") % 2 === parity)),
          dim, out, replace = false)
      }
      s.read.parquet(out)
        .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
    }),

    // R4: raw-log sink projection, masked + unmasked (mysqldb.go:161-238);
    // request_ts surfaced as epoch seconds and the INET6_ATON binary IP as
    // hex for engine-agnostic comparison
    "r4_rawlog" -> ((s, d) => Route.rawLogProjection(parsed(s, d), maskIps = false)
      .withColumn("request_ts", unix_timestamp(col("request_ts")))
      .withColumn("client_ip_hex", hex(col("client_ip_bin"))).drop("client_ip_bin")),

    "r4_rawlog_masked" -> ((s, d) => Route.rawLogProjection(parsed(s, d), maskIps = true)
      .withColumn("request_ts", unix_timestamp(col("request_ts")))
      .withColumn("client_ip_hex", hex(col("client_ip_bin"))).drop("client_ip_bin")),

    // R6: counter-report-shaped aggregate — COUNTER's own report rows
    // (Aggregates.counterTopN: per-dimension top-10 shrink, A4/A5) with the
    // six grand totals as a '_totals' dimension of rank 0
    // (counter.go:326-445); total_requests repeats handled_entries
    "r6_counter_report" -> ((s, d) => {
      val isTotal = col("dim") === Aggregates.TotalsDim
      Aggregates.counterTopN(Aggregates.counterCounts(parsed(s, d)), 10)
        .select(col("dim"),
          explode(when(isTotal && col("key") === "handled_entries",
            array(col("key"), lit("total_requests"))).otherwise(array(col("key")))).as("key"),
          col("cnt"), when(isTotal, 0).otherwise(col("rank")).as("rank"))
    }),

    // S3: start-offset — skip the first N turns per conversation before
    // parsing (Pipeline.run / main.go:926-978 analog)
    "s3_start_offset" -> ((s, d) => ParseStage.parse(
        Tables.transcripts(s, d).filter(col("turn_idx") >= 3))
      .groupBy("conv_id").agg(count(lit(1)).as("n_turns"), sum("bytes_sent").as("bytes"))),

    // S2/A8 streaming analog: the EXACT streaming aggregation plan run on a
    // batch DF (the watermark node is eliminated for batch inputs, the
    // window+agg subtree is shared verbatim with the readStream path)
    "s2_stream_windows" -> ((s, d) => StreamingPipeline.windowedStatusCounts(
        Tables.transcripts(s, d))
      .withColumn("window_start", unix_timestamp(col("window_start")))),

    // P1 quirk mode: the reference drops the format-detection line per file
    // (main.go:744 variable shadowing) — upstream-exact row counts
    "p1_quirk_drop" -> ((s, d) => ParseStage.parse(Tables.transcripts(s, d), quirk = true)
      .groupBy(col("format")).agg(count(lit(1)).as("n"), sum("bytes_sent").as("bytes"))),

    // custom-keyed-state path (mapGroupsWithState): the EXACT streaming
    // operator run on the batch DF — batch execution invokes the same state
    // function once per key with empty initial state, so this is the final
    // streaming answer; streaming==batch parity is separately pinned in
    // StreamingSpec ("stateful conversation progress")
    "s6_conv_progress" -> ((s, d) => StreamingPipeline.conversationProgress(
        s, Tables.transcripts(s, d))
      .select(col("conv_id"), col("turns"), col("maxTurnIdx").as("max_turn_idx"))),

    // S5: the uptime/free parsers over the reference's own pinned fixtures
    // (os_metrics.go:69-160, os_metrics_test.go:64-175)
    "s5_os_metrics" -> ((s, _) => graft.metrics.OsMetrics.fixtureMetricsDf(s)),

    // J1 via MATERIALIZED dims (sources.DimTables, built once per scale dir
    // in one combined pass — the GetDomainId persistent-dimension shape):
    // the registered plan scans the transcripts input exactly ONCE and
    // broadcast-joins the tiny dim parquets (PlanSpec-pinned; the pre-r5
    // inline form re-parsed the corpus a second time to derive the dims)
    "j1_enrich" -> ((s, d) => {
      val e = Enrich.withRoleToolIdsFrom(parsed(s, d),
        graft.sources.DimTables.role(s, d), graft.sources.DimTables.tool(s, d))
      e.groupBy("role", "role_id", "tool", "tool_id").agg(count(lit(1)).as("cnt"))
    }),

    "j2_domain_enrich" -> ((s, d) => Enrich.withDomainIdFrom(parsed(s, d),
        graft.sources.DimTables.domain(s, d))
      .groupBy("domain_name", "domain_id").agg(count(lit(1)).as("cnt"))),

    // ---------------------------------------------------- dedup / similarity
    "dedup_exact" -> ((s, d) => Dedup.exactFlags(t(s, d)("documents"))),

    // jaccard kept UNROUNDED: small-integer division is IEEE-identical in
    // Spark and DuckDB, while round() half-up vs half-even can differ at ties
    "dedup_minhash" -> ((s, d) => Dedup.minhashNearDups(t(s, d)("documents"), 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))),

    "dedup_simhash" -> ((s, d) => Dedup.simhashNearDups(t(s, d)("documents"), 3)),

    // incremental ingest dedup: new batch (odd ids) against the existing
    // corpus (even ids) — batch×corpus band join, never corpus×corpus
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d)("documents")
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), 0.5)
    }),

    // the SAME daily-ingest slice computed from the PRE-MATERIALIZED corpus
    // signature tables (band + shingle parquet, the SigTables shape): the
    // corpus text is never rescanned — the production incremental form
    "dedup_incr_prebanded" -> ((s, d) => {
      graft.sources.SigTables.ensure(s, d) // idempotent synth-on-first-use
      val corpusBands = s.read.parquet(graft.sources.SigTables.minhashBandsPath(d))
        .filter(col("doc_id") % 2 === 0)
      val corpusShingles = s.read.parquet(graft.sources.SigTables.docSigsPath(d))
        .select(col("doc_id"), col("shingles"))
        .filter(col("doc_id") % 2 === 0)
      Dedup.incrementalNearDupsPrebanded(
        corpusBands, corpusShingles,
        t(s, d)("documents").filter(col("doc_id") % 2 =!= 0), 0.5)
    }),

    // cluster formation: connected components over the MinHash near-dup pair
    // set (min-label propagation + pointer jumping), every doc mapped to its
    // canonical keeper — the join table a 100 TB dedup actually applies
    "dedup_clusters" -> ((s, d) => {
      val docs = t(s, d)("documents")
      Dedup.clusterMap(docs, Dedup.minhashNearDups(docs, 0.5))
    }),

    // registered query IS the LSH scale path (bucket equi-join, no O(n²)
    // cross join); the brute variant stays as the test-side recall oracle
    "dedup_embedding" -> ((s, d) => Similarity.lshNearDups(t(s, d)("embeddings"), 0.4)
      .select("a_id", "b_id")),

    "ann_topk" -> ((s, d) => {
      val emb = t(s, d)("embeddings")
      // neighbor SET only: rank order near float ties is engine-specific,
      // the set is stable (10th-vs-11th margin is 1000x the float error)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 8), 10).select("query_id", "neighbor_id")
    }),

    // neighbor SET only, like ann_topk: rank near float ties is
    // engine-specific, the set is stable
    "ann_lsh" -> ((s, d) => {
      val emb = t(s, d)("embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), 10).select("query_id", "neighbor_id")
    }),

    // IVF variant: coarse-quantizer buckets + nprobe probing, the second
    // scale path the training-data brief names alongside LSH
    "ann_ivf" -> ((s, d) => {
      val emb = t(s, d)("embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 10).select("query_id", "neighbor_id")
    }),

    // IVF against the PRE-BUILT index (the production form, like
    // dedup_incr_prebanded): centroids + per-vector bucket assignment come
    // from the materialized index tables — the corpus is never re-trained
    // or re-assigned at query time. Same oracle as ann_ivf: the assignment
    // the index stores is bit-identical to what the oracle re-derives from
    // the pinned centroids.
    "ann_ivf_preassigned" -> ((s, d) => {
      graft.sources.SigTables.ensure(s, d)
      val cents = graft.sources.SigTables.pinnedCentroids(s, d)
      val assigned = s.read.parquet(graft.sources.SigTables.ivfAssignedPath(d))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("cent"))
      val emb = t(s, d)("embeddings")
      Similarity.ivfTopKPreassigned(assigned, cents, emb.filter(col("vec_id") < 8), 10)
        .select("query_id", "neighbor_id")
    }),

    // ------------------------------------------------------- text analysis
    "text_langid" -> ((s, d) => TextAnalysis.langId(t(s, d)("documents"))),

    "text_quality" -> ((s, d) => TextAnalysis.quality(t(s, d)("documents"))),

    "text_tokens" -> ((s, d) => TextAnalysis.tokenCounts(t(s, d)("documents"))),

    // canonical one-shuffle wordcount over the corpus
    "text_vocab" -> ((s, d) => TextAnalysis.vocab(t(s, d)("documents"))),

    // deterministic content-hash train/val/test split (reproducible across
    // reruns/partitionings — no RNG state); oracle re-derives bucket/split
    // arithmetic over the pinned xxh64 column
    "sample_split" -> ((s, d) => TextAnalysis.hashSplit(t(s, d)("documents"))),

    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(t(s, d)("documents"))
      .select(col("doc_id"), col("fingerprint"), size(col("winnow_set")).as("n_winnow"))),

    // ---------------------------------------------------------- multimodal
    "mm_binary_meta" -> ((s, d) => Multimodal.metaColumns(t(s, d)("documents"))),

    // real header decode over the binary payload column (PNG/WAV/BMP magic
    // dispatch + field parse) scanned from the materialized media table —
    // payloads are STORED binary columns like any production multimodal
    // lake, not re-encoded per query; oracle = the same fields
    // round-trip-pinned at sig-table synth time, full per-doc compare
    "mm_decode" -> ((s, d) =>
      Multimodal.decodeMeta(Tables.media(s, d)).toDF()
        .select("doc_id", "media_type", "n_bytes", "width", "height", "n_frames", "sample_rate")),

    // real byte transforms: BMP + PNG pixel resize (PNG through the full
    // inflate/unfilter/refilter codec) + WAV frame decimation; the emitted
    // fields are decoded FROM THE TRANSFORMED BYTES, the oracle predicts
    // them by header arithmetic over the pinned input metadata
    "mm_transform" -> ((s, d) =>
      Multimodal.transformMedia(Tables.media(s, d)).toDF()
        .select("doc_id", "media_type", "width", "height", "n_frames", "sample_rate")),

    // real feature extraction from payload bytes (mean pixel intensity over
    // BMP rows / PNG scanlines, mean |amplitude| over WAV samples — all
    // integer-exact); oracle = round-trip-pinned values
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(Tables.media(s, d))))

  def oracleSql: Map[String, String] = {
    val W = OracleSql.withParsed _
    val base = Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= '1998-09-02' GROUP BY 1, 2""".stripMargin,

      "q3_topn_join" ->
        """SELECT l_orderkey,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_m4
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY 1 ORDER BY revenue_m4 DESC, l_orderkey ASC LIMIT 10""".stripMargin,

      "q_join_bcast" ->
        """SELECT r_name, count(*) AS suppliers
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey GROUP BY 1""".stripMargin,

      "w_window_running" ->
        """SELECT o_custkey, o_orderkey,
          |  row_number() OVER w AS order_seq,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS running_spend_cents
          |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

      "e_rate_windows" ->
        """SELECT epoch_ms(ts) // 300000 AS win5m, event_type,
          |  count(*) AS events,
          |  CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS value_micros
          |FROM events GROUP BY 1, 2""".stripMargin,

      "p_parse_fields" -> W(
        """SELECT conv_id, turn_idx, client_ip, remote_logname, remote_user,
          |  method, path, path1, path2, path3, protocol, status, bytes_sent,
          |  malicious, domain, fmt AS format FROM parsed""".stripMargin),

      "p_ua_classify" -> W(
        """SELECT ua_family, ua_os, ua_device_type, ua_human, ua_intent, count(*) AS cnt
          |FROM parsed GROUP BY 1, 2, 3, 4, 5""".stripMargin),

      "p9_referer" -> W("SELECT referer, count(*) AS cnt FROM parsed GROUP BY 1"),

      "a1_totals" -> W(
        """SELECT count(*) AS handled_entries, count(*) AS total_requests,
          |  CAST(sum(bytes_sent) AS BIGINT) AS total_bytes,
          |  CAST(sum(CASE WHEN ua_human = 'Human' THEN 1 ELSE 0 END) AS BIGINT) AS humans,
          |  CAST(sum(CASE WHEN ua_human = 'NonHuman' THEN 1 ELSE 0 END) AS BIGINT) AS non_humans,
          |  CAST(sum(CASE WHEN malicious <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS malicious_requests
          |FROM parsed""".stripMargin),

      "a2_keyed_counts" -> W(
        """SELECT dim, key, count(*) AS cnt FROM (
          |  SELECT 'client_ip' AS dim, client_ip AS key FROM parsed UNION ALL
          |  SELECT 'device_type', ua_device_type FROM parsed UNION ALL
          |  SELECT 'intent', ua_intent FROM parsed UNION ALL
          |  SELECT 'method', method FROM parsed UNION ALL
          |  SELECT 'status', status FROM parsed UNION ALL
          |  SELECT 'ua_family', ua_family FROM parsed UNION ALL
          |  SELECT 'os_family', ua_os FROM parsed UNION ALL
          |  SELECT 'referer', referer FROM parsed UNION ALL
          |  SELECT 'path', path FROM parsed
          |) GROUP BY 1, 2""".stripMargin),

      "a4_topn_paths" -> W(
        """SELECT key, cnt, rank FROM (
          |  SELECT path AS key, count(*) AS cnt,
          |    row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rank
          |  FROM parsed GROUP BY path
          |) WHERE rank <= 10""".stripMargin),

      "a3_totals_delta" -> W(
        """SELECT key, prev, cur, cur - prev AS delta FROM (
          |  SELECT 'total_requests' AS key,
          |    CAST(sum(CASE WHEN turn_idx < 6 THEN 1 ELSE 0 END) AS BIGINT) AS prev,
          |    count(*) AS cur FROM parsed
          |  UNION ALL SELECT 'total_bytes',
          |    CAST(sum(CASE WHEN turn_idx < 6 THEN bytes_sent ELSE 0 END) AS BIGINT),
          |    CAST(sum(bytes_sent) AS BIGINT) FROM parsed
          |  UNION ALL SELECT 'humans',
          |    CAST(sum(CASE WHEN turn_idx < 6 AND ua_human = 'Human' THEN 1 ELSE 0 END) AS BIGINT),
          |    CAST(sum(CASE WHEN ua_human = 'Human' THEN 1 ELSE 0 END) AS BIGINT) FROM parsed
          |  UNION ALL SELECT 'malicious_requests',
          |    CAST(sum(CASE WHEN turn_idx < 6 AND malicious <> 0 THEN 1 ELSE 0 END) AS BIGINT),
          |    CAST(sum(CASE WHEN malicious <> 0 THEN 1 ELSE 0 END) AS BIGINT) FROM parsed
          |)""".stripMargin),

      "a6_metric_rows" -> W(OracleSql.metricRowsSql),

      "a7_windows" -> W("SELECT time_window, count(*) AS cnt FROM parsed GROUP BY 1"),


      "f1_route_sinks" -> W(
        s"SELECT conv_id, turn_idx, ${OracleSql.sinkExpr} AS sink FROM parsed"),

      "r1_sink_distribution" -> W(
        s"""SELECT ${OracleSql.sinkExpr} AS sink, count(*) AS n_rows, CAST(sum(bytes_sent) AS BIGINT) AS bytes
           |FROM parsed GROUP BY 1""".stripMargin),

      "r2_json_projection" -> W(
        """SELECT conv_id, turn_idx, domain, client_ip, remote_logname, remote_user,
          |  CASE WHEN log_ts IS NULL THEN '0001-01-01T00:00:00Z'
          |       ELSE strftime(log_ts, '%Y-%m-%dT%H:%M:%S') ||
          |         CASE WHEN tz_offset_sec = 0 THEN 'Z'
          |              ELSE (CASE WHEN tz_offset_sec < 0 THEN '-' ELSE '+' END) ||
          |                lpad(CAST(abs(tz_offset_sec) // 3600 AS VARCHAR), 2, '0') || ':' ||
          |                lpad(CAST((abs(tz_offset_sec) % 3600) // 60 AS VARCHAR), 2, '0')
          |         END
          |  END AS ts_rfc3339,
          |  method, path, path1, path2, path3, protocol, status,
          |  CAST(bytes_sent AS INT) AS bytes_sent, referer,
          |  ua_raw AS ua_fullname, ua_os, ua_family, ua_device_type, ua_human, ua_intent,
          |  malicious, FALSE AS is_out_of_order
          |FROM parsed""".stripMargin),

      "r3_metrics_sink" -> W(
        s"""${OracleSql.domainDimCtes}, conv_dim AS (
           |  SELECT DISTINCT conv_id, domain_id FROM named JOIN dim USING (domain_name)
           |), m AS (
           |  ${OracleSql.metricRowsSql}
           |)
           |SELECT domain_id, m.conv_id, metric_type, substr(key_value, 1, 100) AS key_value,
           |  time_window, metric_value
           |FROM m JOIN conv_dim ON m.conv_id = conv_dim.conv_id""".stripMargin),

      // client_ip_hex re-derives the engine's Inet.inetAton (MySQL
      // INET6_ATON) for DOTTED-QUAD v4 only, octets bounded to 0-255 so an
      // out-of-range octet NULLs on both sides; no IPv6 branch — the synth
      // vocabulary is exclusively "203.0.113.<0-63>" (TranscriptGen), and an
      // IPv6 literal would need the engine's 16-byte encoding replicated in
      // SQL. ADVICE r3: assumption now explicit + regex tightened.
      "r4_rawlog" -> W(
        """SELECT conv_id, turn_idx, 0 AS host_id,
          |  CAST(epoch_ms(log_ts) // 1000 - tz_offset_sec AS BIGINT) AS request_ts,
          |  client_ip,
          |  CASE WHEN regexp_matches(client_ip, '^((25[0-5]|2[0-4]\d|1\d\d|\d\d?)\.){3}(25[0-5]|2[0-4]\d|1\d\d|\d\d?)$')
          |       THEN upper(lpad(hex(CAST(split_part(client_ip, '.', 1) AS BIGINT)), 2, '0') ||
          |            lpad(hex(CAST(split_part(client_ip, '.', 2) AS BIGINT)), 2, '0') ||
          |            lpad(hex(CAST(split_part(client_ip, '.', 3) AS BIGINT)), 2, '0') ||
          |            lpad(hex(CAST(split_part(client_ip, '.', 4) AS BIGINT)), 2, '0'))
          |       ELSE NULL END AS client_ip_hex,
          |  substr(remote_user, 1, 100) AS remote_user,
          |  substr(method, 1, 20) AS http_method,
          |  substr(CASE WHEN path3 <> '' THEN path3 WHEN path2 <> '' THEN path2
          |              WHEN path1 <> '' THEN path1 ELSE '' END, 1, 100) AS path3,
          |  substr(path, 1, 100) AS request_uri,
          |  status AS http_status, bytes_sent,
          |  substr(referer, 1, 100) AS referer,
          |  malicious AS is_malicious,
          |  substr(ua_raw, 1, 100) AS ua_string,
          |  substr(ua_os, 1, 20) AS ua_os, substr(ua_family, 1, 20) AS ua_family,
          |  substr(ua_device_type, 1, 20) AS ua_device_type,
          |  substr(ua_human, 1, 20) AS ua_human, substr(ua_intent, 1, 20) AS ua_intent
          |FROM parsed""".stripMargin),

      "r4_rawlog_masked" -> W(
        """SELECT conv_id, turn_idx, 0 AS host_id,
          |  CAST(epoch_ms(log_ts) // 1000 - tz_offset_sec AS BIGINT) AS request_ts,
          |  CAST(NULL AS VARCHAR) AS client_ip,
          |  CAST(NULL AS VARCHAR) AS client_ip_hex,
          |  substr(remote_user, 1, 100) AS remote_user,
          |  substr(method, 1, 20) AS http_method,
          |  substr(CASE WHEN path3 <> '' THEN path3 WHEN path2 <> '' THEN path2
          |              WHEN path1 <> '' THEN path1 ELSE '' END, 1, 100) AS path3,
          |  substr(path, 1, 100) AS request_uri,
          |  status AS http_status, bytes_sent,
          |  substr(referer, 1, 100) AS referer,
          |  malicious AS is_malicious,
          |  CASE WHEN ua_raw IS NOT NULL AND len(ua_raw) > 100
          |       THEN substr(ua_raw, len(ua_raw) - 99) ELSE ua_raw END AS ua_string,
          |  substr(ua_os, 1, 20) AS ua_os, substr(ua_family, 1, 20) AS ua_family,
          |  substr(ua_device_type, 1, 20) AS ua_device_type,
          |  substr(ua_human, 1, 20) AS ua_human, substr(ua_intent, 1, 20) AS ua_intent
          |FROM parsed""".stripMargin),

      "r6_counter_report" -> W(
        s"""SELECT dim, key, cnt, CAST(rank AS INT) AS rank FROM (
           |  SELECT dim, key, cnt,
           |    row_number() OVER (PARTITION BY dim ORDER BY cnt DESC, key ASC NULLS FIRST) AS rank
           |  FROM (SELECT dim, key, count(*) AS cnt FROM (${OracleSql.keyedLongSql}) GROUP BY 1, 2)
           |) WHERE rank <= 10
           |UNION ALL
           |SELECT '_totals', 'handled_entries', count(*), 0 FROM parsed
           |UNION ALL SELECT '_totals', 'total_requests', count(*), 0 FROM parsed
           |UNION ALL SELECT '_totals', 'total_bytes', CAST(sum(bytes_sent) AS BIGINT), 0 FROM parsed
           |UNION ALL SELECT '_totals', 'humans', CAST(sum(CASE WHEN ua_human = 'Human' THEN 1 ELSE 0 END) AS BIGINT), 0 FROM parsed
           |UNION ALL SELECT '_totals', 'non_humans', CAST(sum(CASE WHEN ua_human = 'NonHuman' THEN 1 ELSE 0 END) AS BIGINT), 0 FROM parsed
           |UNION ALL SELECT '_totals', 'malicious_requests', CAST(sum(CASE WHEN malicious <> 0 THEN 1 ELSE 0 END) AS BIGINT), 0 FROM parsed""".stripMargin),

      "s3_start_offset" -> W(
        """SELECT conv_id, count(*) AS n_turns, CAST(sum(bytes_sent) AS BIGINT) AS bytes
          |FROM parsed WHERE turn_idx >= 3 GROUP BY 1""".stripMargin),

      "s2_stream_windows" -> W(
        """SELECT ((epoch_ms(log_ts) // 1000 - tz_offset_sec) // 600) * 600 AS window_start, status,
          |  count(*) AS cnt, CAST(sum(bytes_sent) AS BIGINT) AS bytes
          |FROM parsed GROUP BY 1, 2""".stripMargin),

      "p1_quirk_drop" -> W(
        """SELECT fmt AS format, count(*) AS n, CAST(sum(bytes_sent) AS BIGINT) AS bytes
          |FROM (SELECT *, min(turn_idx) OVER (PARTITION BY conv_id) AS _det FROM parsed)
          |WHERE turn_idx <> _det GROUP BY 1""".stripMargin),

      // over the RAW transcript table (pre-parse), like the streaming source
      "s6_conv_progress" ->
        s"""SELECT conv_id, count(*) AS turns, CAST(max(turn_idx) AS INT) AS max_turn_idx
           |FROM read_parquet('${OracleSql.transcriptsGlob}') GROUP BY 1""".stripMargin,

      // expected values derived BY HAND from the reference semantics, the
      // same numbers its own tests assert (os_metrics_test.go:64-175) —
      // e.g. macos up = 13*24*60 + 13*60 + 27 = 19527
      "s5_os_metrics" ->
        """SELECT * FROM (VALUES
          |  ('macos', 'current_time', '12:13'),
          |  ('macos', 'up_minutes', '19527'),
          |  ('macos', 'users', '11'),
          |  ('macos', 'load1', '1.25'),
          |  ('macos', 'load5', '1.50'),
          |  ('macos', 'load15', '1.52'),
          |  ('ubuntu', 'current_time', '09:18:58'),
          |  ('ubuntu', 'up_minutes', '49835'),
          |  ('ubuntu', 'users', '2'),
          |  ('ubuntu', 'load1', '0.04'),
          |  ('ubuntu', 'load5', '0.03'),
          |  ('ubuntu', 'load15', '0.00'),
          |  ('ubuntu_fresh', 'current_time', '09:18:58'),
          |  ('ubuntu_fresh', 'up_minutes', '875'),
          |  ('ubuntu_fresh', 'users', '2'),
          |  ('ubuntu_fresh', 'load1', '0.04'),
          |  ('ubuntu_fresh', 'load5', '0.03'),
          |  ('ubuntu_fresh', 'load15', '0.00'),
          |  ('free', 'swap_use', '0'),
          |  ('free', 'cach_use', '2163520'),
          |  ('free', 'mem_use', '1142280'),
          |  ('free', 'mem_free', '5147464'),
          |  ('free', 'mem_available', '6989632')
          |) AS t(fixture, metric, value)""".stripMargin,

      "j1_enrich" -> W(
        """, role_dim AS (
          |  SELECT role, row_number() OVER (ORDER BY min(conv_id || '#' || lpad(CAST(turn_idx AS VARCHAR), 12, '0'))) AS role_id
          |  FROM parsed GROUP BY role
          |), tool_dim AS (
          |  SELECT tool, row_number() OVER (ORDER BY min(conv_id || '#' || lpad(CAST(turn_idx AS VARCHAR), 12, '0'))) AS tool_id
          |  FROM parsed GROUP BY tool
          |)
          |SELECT p.role, role_id, p.tool, tool_id, count(*) AS cnt
          |FROM parsed p JOIN role_dim USING (role) JOIN tool_dim USING (tool)
          |GROUP BY 1, 2, 3, 4""".stripMargin),

      "j2_domain_enrich" -> W(
        s"""${OracleSql.domainDimCtes}
           |SELECT domain_name, domain_id, count(*) AS cnt
           |FROM named JOIN dim USING (domain_name) GROUP BY 1, 2""".stripMargin),

      "dedup_exact" ->
        """SELECT doc_id,
          |  CAST(doc_id > min(doc_id) OVER (PARTITION BY text) AS INT) AS is_dup
          |FROM documents""".stripMargin,

      // the oracle re-executes the LSH bucket join + exact cosine rescoring
      // over signatures pinned at synth time (SigTables)
      "dedup_embedding" ->
        s"""WITH s AS (SELECT * FROM read_parquet('${OracleSql.embSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
           |)
           |SELECT a_id, b_id FROM cand
           |JOIN embeddings ea ON ea.vec_id = a_id
           |JOIN embeddings eb ON eb.vec_id = b_id
           |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4""".stripMargin,

      "dedup_minhash" ->
        s"""WITH b AS (SELECT * FROM read_parquet('${OracleSql.minhashBandsGlob}')),
           |d AS (SELECT * FROM read_parquet('${OracleSql.docSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM b x JOIN b y ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           |),
           |j AS (
           |  SELECT a_id, b_id,
           |    CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
           |    (len(da.shingles) + len(db.shingles) - len(list_intersect(da.shingles, db.shingles))) AS jaccard
           |  FROM cand JOIN d da ON da.doc_id = a_id JOIN d db ON db.doc_id = b_id
           |)
           |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

      "dedup_incremental" ->
        s"""WITH b AS (SELECT * FROM read_parquet('${OracleSql.minhashBandsGlob}')),
           |d AS (SELECT * FROM read_parquet('${OracleSql.docSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
           |  FROM b n JOIN b o ON n.band = o.band AND n.band_key = o.band_key
           |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
           |),
           |j AS (
           |  SELECT new_id, old_id,
           |    CAST(len(list_intersect(dn.shingles, dd.shingles)) AS DOUBLE) /
           |    (len(dn.shingles) + len(dd.shingles) - len(list_intersect(dn.shingles, dd.shingles))) AS jaccard
           |  FROM cand JOIN d dn ON dn.doc_id = new_id JOIN d dd ON dd.doc_id = old_id
           |)
           |SELECT new_id, old_id, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

      // identical oracle as dedup_incremental: the engine's prebanded path
      // must land on the same pairs/jaccards as its from-text form
      "dedup_incr_prebanded" ->
        s"""WITH b AS (SELECT * FROM read_parquet('${OracleSql.minhashBandsGlob}')),
           |d AS (SELECT * FROM read_parquet('${OracleSql.docSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
           |  FROM b n JOIN b o ON n.band = o.band AND n.band_key = o.band_key
           |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
           |),
           |j AS (
           |  SELECT new_id, old_id,
           |    CAST(len(list_intersect(dn.shingles, dd.shingles)) AS DOUBLE) /
           |    (len(dn.shingles) + len(dd.shingles) - len(list_intersect(dn.shingles, dd.shingles))) AS jaccard
           |  FROM cand JOIN d dn ON dn.doc_id = new_id JOIN d dd ON dd.doc_id = old_id
           |)
           |SELECT new_id, old_id, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

      // the oracle re-derives the LSH pairs like dedup_minhash, then computes
      // connected components INDEPENDENTLY via a recursive reachability CTE
      // and takes min reachable id per vertex
      "dedup_clusters" ->
        s"""WITH RECURSIVE b AS (SELECT * FROM read_parquet('${OracleSql.minhashBandsGlob}')),
           |d AS (SELECT * FROM read_parquet('${OracleSql.docSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM b x JOIN b y ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           |),
           |p AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN d da ON da.doc_id = a_id JOIN d db ON db.doc_id = b_id
           |  WHERE CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE) /
           |    (len(da.shingles) + len(db.shingles) - len(list_intersect(da.shingles, db.shingles))) >= 0.5
           |),
           |e AS (SELECT a_id AS s, b_id AS t FROM p UNION SELECT b_id, a_id FROM p),
           |reach AS (
           |  SELECT s AS id, t AS r FROM e
           |  UNION
           |  SELECT reach.id, e.t FROM reach JOIN e ON reach.r = e.s
           |),
           |k AS (SELECT id, least(id, min(r)) AS keep_id FROM reach GROUP BY id)
           |SELECT doc_id, coalesce(k.keep_id, doc_id) AS keep_id
           |FROM documents LEFT JOIN k ON doc_id = k.id""".stripMargin,

      "dedup_simhash" ->
        s"""WITH d AS (SELECT doc_id, simhash FROM read_parquet('${OracleSql.docSigsGlob}')),
           |banded AS (
           |  SELECT doc_id, simhash, c AS chunk, (simhash >> (c * 16)) & 65535 AS chunk_key
           |  FROM d CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)
           |)
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
           |FROM banded a
           |JOIN banded b ON a.chunk = b.chunk AND a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

      "ann_lsh" ->
        s"""WITH s AS (SELECT * FROM read_parquet('${OracleSql.embSigsGlob}')),
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM s q JOIN s c ON q.sig = c.sig AND q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 8
           |)
           |SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
           |    ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, neighbor_id ASC) AS rk
           |  FROM cand JOIN embeddings qe ON qe.vec_id = query_id
           |  JOIN embeddings ce ON ce.vec_id = neighbor_id
           |) WHERE rk <= 10""".stripMargin,

      // centroids pinned at synth time; DuckDB independently re-derives the
      // assignment (argmin over centroids), the probe sets, and the
      // rescored top-k — the whole distributed part of IVF
      "ann_ivf" ->
        s"""WITH cents AS (SELECT * FROM read_parquet('${OracleSql.ivfCentroidsGlob}')),
           |ca AS (
           |  SELECT e.vec_id, c.cent_id, row_number() OVER (PARTITION BY e.vec_id
           |    ORDER BY list_cosine_similarity(c.embedding, e.embedding) DESC, c.cent_id ASC) AS rk
           |  FROM embeddings e CROSS JOIN cents c
           |),
           |assigned AS (SELECT vec_id, cent_id FROM ca WHERE rk = 1),
           |probes AS (SELECT vec_id, cent_id FROM ca WHERE rk <= 4 AND vec_id < 8),
           |cand AS (
           |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           |  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id AND p.vec_id <> a.vec_id
           |)
           |SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
           |    ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, neighbor_id ASC) AS rk
           |  FROM cand JOIN embeddings qe ON qe.vec_id = query_id
           |  JOIN embeddings ce ON ce.vec_id = neighbor_id
           |) WHERE rk <= 10""".stripMargin,

      "text_fingerprint" ->
        s"SELECT doc_id, fingerprint, n_winnow FROM read_parquet('${OracleSql.docSigsGlob}')",

      "mm_decode" ->
        s"""SELECT doc_id, media_type, n_bytes, width, height, n_frames, sample_rate
           |FROM read_parquet('${OracleSql.docSigsGlob}')""".stripMargin,

      "mm_features" ->
        s"""SELECT doc_id, media_type, feat_milli
           |FROM read_parquet('${OracleSql.docSigsGlob}')""".stripMargin,

      // all three media types since r4 (PNG pixel codec): images resize to
      // exactly 32x24/1 frame, WAV keeps ceil(frames/4) at rate/4 — pure
      // header arithmetic over the PINNED INPUT metadata, independent of the
      // engine's byte transforms whose outputs it predicts
      "mm_transform" ->
        s"""SELECT doc_id, media_type,
           |  CASE WHEN media_type = 'wav' THEN 0 ELSE 32 END AS width,
           |  CASE WHEN media_type = 'wav' THEN 0 ELSE 24 END AS height,
           |  CASE WHEN media_type = 'wav' THEN CAST((n_frames + 3) // 4 AS INT) ELSE 1 END AS n_frames,
           |  CASE WHEN media_type = 'wav' THEN CAST(sample_rate // 4 AS INT) ELSE 0 END AS sample_rate
           |FROM read_parquet('${OracleSql.docSigsGlob}')""".stripMargin,

      "ann_topk" ->
        """SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rk
          |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |  WHERE q.vec_id < 8
          |) WHERE rk <= 10""".stripMargin,

      "text_quality" -> {
        val allStop = graft.operators.TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH f AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS BIGINT) AS n_chars,
           |    CAST(len(list_filter(str_split_regex(lower(text), '[^a-z]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
           |    list_filter(str_split_regex(lower(text), '[^a-z]+'), x -> len(x) > 0) AS toks,
           |    length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS punct,
           |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS upper
           |  FROM documents
           |)
           |SELECT doc_id, n_chars, n_tokens,
           |  CASE WHEN n_tokens > 0 THEN round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n_tokens, 4) ELSE 0.0 END AS mean_token_len,
           |  CASE WHEN n_chars > 0 THEN round(CAST(punct AS DOUBLE) / n_chars, 4) ELSE 0.0 END AS punct_ratio,
           |  CASE WHEN n_chars > 0 THEN round(CAST(upper AS DOUBLE) / n_chars, 4) ELSE 0.0 END AS upper_ratio,
           |  CASE WHEN n_tokens > 0 THEN round(CAST(len(list_filter(toks, x -> list_contains($allStop, x))) AS DOUBLE) / n_tokens, 4) ELSE 0.0 END AS stopword_ratio,
           |  CAST(n_chars >= 50 AND n_tokens >= 10
           |    AND (CASE WHEN n_chars > 0 THEN round(CAST(punct AS DOUBLE) / n_chars, 4) ELSE 0.0 END) < 0.1
           |    AND (CASE WHEN n_tokens > 0 THEN round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n_tokens, 4) ELSE 0.0 END) BETWEEN 2 AND 12
           |    AS INT) AS keep
           |FROM f""".stripMargin
      },

      "text_langid" ->
        s"SELECT doc_id, ${OracleSql.langIdExpr} AS pred_lang FROM documents",

      "text_tokens" ->
        """SELECT doc_id,
          |  len(list_filter(str_split_regex(text, '\s+'), x -> len(x) > 0)) AS ws_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpeish_tokens
          |FROM documents""".stripMargin,

      "text_vocab" ->
        """SELECT token, count(*) AS cnt FROM (
          |  SELECT unnest(list_filter(str_split_regex(lower(text), '[^a-z]+'), x -> len(x) > 0)) AS token
          |  FROM documents
          |) GROUP BY 1""".stripMargin,

      "sample_split" ->
        s"""SELECT doc_id, CAST(((xxh64 % 100) + 100) % 100 AS INT) AS bucket,
           |  CASE WHEN ((xxh64 % 100) + 100) % 100 < 90 THEN 'train'
           |       WHEN ((xxh64 % 100) + 100) % 100 < 95 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM read_parquet('${OracleSql.docSigsGlob}')""".stripMargin,

      "mm_binary_meta" ->
        """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
          |  CAST(64 + length(text) % 576 AS INT) AS width,
          |  CAST(64 + (length(text) * 7) % 320 AS INT) AS height
          |FROM documents""".stripMargin)
    // a8 shares a6's SQL: arrival-order and batch sums coincide on the
    // bounded-lateness generated data (divergence pinned in PipelineAppSpec)
    // r3_metrics_accumulate shares r3's SQL: the metric sums are row-additive,
    // so two accumulated half-corpus runs must equal the full-corpus table
    // ann_ivf_preassigned shares ann_ivf's SQL: the stored index assignment
    // is bit-identical to the oracle's re-derivation from pinned centroids
    base + ("a8_arrival_metrics" -> base("a6_metric_rows")) +
      ("r3_metrics_accumulate" -> base("r3_metrics_sink")) +
      ("ann_ivf_preassigned" -> base("ann_ivf"))
  }
}
