package graft.operators

import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** Physical-plan assertions: the properties that make these queries scale
  * (pushdown, broadcast, shuffle count, codegen) are pinned so a refactor
  * that silently loses them fails the build.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  /** plan traversal that looks inside adaptive plans and their stages */
  private object AqeHelper extends AdaptiveSparkPlanHelper
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate predicate is pushed into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("LessThanOrEqual(l_shipdate"), "filter must reach the scan")
  }

  test("q1: scan reads only the projected columns") {
    val p = plan("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"),
      s"column pruning lost: $readSchema")
  }

  test("joins against small dimensions broadcast (no shuffle join)") {
    assert(plan("q_join_bcast").contains("BroadcastHashJoin"))
    assert(plan("q3_topn_join").contains("BroadcastHashJoin"))
    assert(plan("j1_enrich").contains("BroadcastHashJoin"))
    assert(!plan("q_join_bcast").contains("SortMergeJoin"))
  }

  test("enrichment queries scan the transcripts input exactly once (dims are materialized)") {
    // VERDICT r4 item 1: the inline dim derivation re-parsed the corpus a
    // second time per enrichment query — two full sweeps at 100 TB. With
    // sources.DimTables the executed plan must contain exactly ONE scan of
    // the transcripts parquet; the dims come from their own tiny tables.
    Seq("j1_enrich", "j2_domain_enrich", "r3_metrics_sink").foreach { q =>
      val p = plan(q)
      val scans = "data/transcripts".r.findAllIn(p).length
      assert(scans == 1, s"$q: expected exactly 1 transcripts scan, got $scans:\n${p.take(900)}")
    }
  }

  test("dedup_exact: the exchange carries hashes and ids, never the document text") {
    // VERDICT r4 item 3: the pre-r5 window partitioned on (hash, text) and
    // shuffled the corpus. The scale form projects (doc_id, h1, h2, len)
    // BEFORE the exchange.
    // AQE off for this construction: exchanges are inserted by
    // EnsureRequirements at executedPlan time, and under AQE the adaptive
    // wrapper hides them from collect()
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val df = SparkEntry.queries("dedup_exact")(spark, sf)
      val exchanges = df.queryExecution.executedPlan.collect {
        case n if n.nodeName.contains("Exchange") => n
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text"), s"exchange must not carry text: ${names.mkString(",")}")
      }
    } finally spark.conf.set(aqeKey, prev)
  }

  test("a6: all 12 metric families aggregate through exactly one shuffle") {
    val p = plan("a6_metric_rows")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
  }

  test("a2: 9 keyed-count dimensions share one shuffle") {
    val p = plan("a2_keyed_counts")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
  }

  test("a6: explode + aggregate stages are whole-stage codegen'd, with map-side combine") {
    val df = SparkEntry.queries("a6_metric_rows")(spark, sf)
    df.collect() // collect() runs THIS queryExecution, finalizing the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no whole-stage codegen stages in: ${p.take(800)}")
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
  }

  test("a4: top-N plans TakeOrderedAndProject (distributed partial top-N), not a global window sort") {
    val p = plan("a4_topn_paths")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("dedup_embedding registered plan is the LSH bucket join — no cartesian/nested-loop") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("ann top-k is a two-stage bounded-heap aggregate, not a per-query window funnel") {
    Seq("ann_topk", "ann_lsh").foreach { q =>
      val p = plan(q)
      val objAggs = "ObjectHashAggregate".r.findAllIn(p).length
      assert(objAggs >= 2, s"$q: expected partial+final ObjectHashAggregate, plan:\n${p.take(800)}")
      assert(!p.contains("Window"), s"$q must not single-task per-query rows")
    }
  }

  test("registered ann queries keep the query-side broadcast under the auto decision") {
    // guards the size-based fallback from flipping the small registered
    // query sets to a shuffle (stats are filter-blind; the measured tier
    // must kick in and choose broadcast here)
    Seq("ann_lsh", "ann_ivf").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n${p.take(800)}")
    }
  }

  test("dedup_incremental: batch×corpus is a band equi-join, never a cross product") {
    Seq("dedup_incremental", "dedup_incr_prebanded").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(800)}")
    }
  }

  test("minhash/incremental verify joins carry shingle arrays by id — never raw text") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.read(spark, sf, "documents")
    Seq(
      Dedup.minhashNearDups(docs, 0.5),
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1), 0.5)
    ).foreach { df =>
      val joins = df.queryExecution.sparkPlan.collect { case n if n.nodeName.contains("Join") => n }
      assert(joins.nonEmpty)
      // every join's exchange/output schema is ids + shingle arrays +
      // jaccard — re-shingling text per candidate pair (and shuffling the
      // corpus text with it) was VERDICT r3 "what's wrong" item 3
      joins.foreach { j =>
        val names = (j.output ++ j.children.flatMap(_.output)).map(_.name)
        assert(names.forall(n => n != "text" && !n.endsWith("_text")), names.mkString(","))
      }
    }
  }

  test("dedup_clusters: label propagation shuffles ids only — no cartesian, no text columns") {
    val df = SparkEntry.queries("dedup_clusters")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the final map carries only (doc_id, keep_id) — no text reaches the output plan
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "keep_id"))
  }

  test("text_quality executes fully whole-stage-codegen'd — no interpreted ArrayAggregate") {
    val df = SparkEntry.queries("text_quality")(spark, sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("aggregate("), s"HOF aggregate is interpreted per element: ${p.take(600)}")
    assert(p.contains("*("), s"expected whole-stage codegen: ${p.take(600)}")
  }

  test("fan-out write plans exactly one sort, keyed (sink, bucket, conv_id, turn_idx)") {
    // the partitioned writer sorts by (sink, bucket) unless its input
    // already is; a plan with its own (sink, bucket) sort silently drops
    // the (conv_id, turn_idx) order inside every file
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (AqeHelper.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writePlans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-fanout-plan").toString
      val parsed = ParseStage.parse(graft.sources.Tables.transcripts(spark, sf))
      Route.fanOutWithLineage(Route.withSink(parsed), dir, partitions = 4)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writePlans.size == 1)
    val sorts = AqeHelper.collect(writePlans.peek()) { case s: SortExec => s }
    assert(sorts.map(_.sortOrder.flatMap(_.child.references.map(_.name))) ==
      Seq(Seq("sink", "bucket", "conv_id", "turn_idx")), writePlans.peek().toString)
  }

  test("a8: one exchange on conv_id, spark.sql.shuffle.partitions wide") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val qe = SparkEntry.queries("a8_arrival_metrics")(spark, sf).queryExecution
    val exchanges = AqeHelper.collect(qe.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(exchanges.map(_.numPartitions) == Seq(width), qe.executedPlan.toString)
    exchanges.foreach {
      case h: HashPartitioning => assert(h.references.map(_.name).toSeq == Seq("conv_id"))
      case other => fail(s"expected a hash exchange on conv_id, got $other")
    }
  }

  test("media table: a hash exchange only when the scan has fewer splits than cores") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.sources.Tables
    val cores = spark.sparkContext.defaultParallelism
    def scanSplits = spark.read.parquet(Tables.mediaPath(sf)).rdd.getNumPartitions
    def exchanges = AqeHelper.collect(Tables.media(spark, sf).queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    Tables.media(spark, sf) // synthesizes the table on first use
    assert(scanSplits >= cores)
    assert(exchanges.isEmpty)
    // one split-size floor for the whole table: fewer, larger splits
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      assert(scanSplits < cores)
      exchanges match {
        case Seq(h: HashPartitioning) =>
          assert(h.numPartitions == cores && h.references.map(_.name).toSeq == Seq("doc_id"))
        case other => fail(s"expected one hash exchange on doc_id, got $other")
      }
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("salted fan-out exchanges on (conv_id, salt) and sorts within partitions") {
    import org.apache.spark.sql.functions._
    val parsed = ParseStage.parse(graft.sources.Tables.transcripts(spark, sf)).limit(10)
    val p = Route.salted(parsed, 8).queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(conv_id"))
    assert(p.contains("Sort [conv_id"))
  }
}
