package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment joins (SURVEY.md §2 J1/J2): the reference's grow-on-first-sight
  * dimension lookup (db/mysqldb.go:91-121 GetDomainId) re-expressed as a
  * broadcast hash join against a dimension built in one aggregation pass.
  * Surrogate ids are assigned by FIRST APPEARANCE in stable (conv_id,
  * turn_idx) order — deterministic, unlike insertion order under concurrency
  * in the reference.
  *
  * The dimensions are tiny (roles, tools, domains), so they are aggregated
  * distributively (min first-seen key per value — map-side combine, one
  * shuffle of #distinct rows), collected, numbered on the driver, and
  * broadcast — the fact side never shuffles. At 100 TB this is the only
  * sane plan, and Catalyst is told so explicitly via `broadcast()`.
  */
object Enrich {

  /** stable first-appearance ordering key: a (conv_id, turn_idx) struct —
    * struct min orders field-by-field, which matches the lexicographic order
    * the zero-padded "conv#turn" string gave, without allocating a
    * concatenated string per fact row inside the aggregation.
    *
    * Equivalence caveat (ADVICE r3): the two orders agree only while no
    * conv_id is a strict prefix of another whose next character sorts below
    * '#' (e.g. "a" vs "a!") — for such ids the struct order and the
    * concatenated order disagree and first-sight ranks would shift. Every
    * conv id this engine generates or ingests is alphanumeric ("conv" +
    * digits), where the orders coincide; asserted in EnrichSpec.
    */
  private def firstKey: Column = struct(col("conv_id"), col("turn_idx"))

  /** Build several first-sight dimensions in ONE pass over the fact table:
    * unpivot the requested columns, aggregate min(first-seen) per (dim, key),
    * collect (tiny), assign row-number ids per dim on the driver.
    * Returns dim name → Seq[(key, id)].
    */
  def firstSightDims(df: DataFrame, dims: Seq[String]): Map[String, Seq[(String, Int)]] = {
    val entries = dims.map(c => struct(lit(c).as("dim"), col(c).cast("string").as("key")))
    val rows = df
      .select(explode(array(entries: _*)).as("e"), firstKey.as("fk"))
      .groupBy(col("e.dim").as("dim"), col("e.key").as("key"))
      .agg(min(col("fk")).as("first_seen"))
      .collect()
    dims.map { d =>
      d -> firstSightIds(rows.toSeq.filter(_.getString(0) == d)
        .map(r => (r.getString(1), r.getStruct(2).getString(0), r.getStruct(2).getInt(1))))
    }.toMap
  }

  /** The collected half of first-sight numbering: sightings (key, conv_id,
    * turn_idx), any number per key, give each key the id of its earliest
    * sighting's rank in (conv_id, turn_idx) order, from 1. Returns
    * Seq[(key, id)] in id order.
    */
  def firstSightIds(sightings: Seq[(String, String, Int)]): Seq[(String, Int)] =
    sightings
      .groupMapReduce(_._1)(s => (s._2, s._3))(Ordering[(String, Int)].min)
      .toSeq.sortBy(_._2)
      .zipWithIndex.map { case ((key, _), i) => (key, i + 1) }

  private def dimDf(df: DataFrame, pairs: Seq[(String, Int)], keyCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    pairs.toDF(keyCol, idCol)
  }

  /** role + tool enrichment (the north-star lookup dims) — both dims from
    * one aggregation pass, then two broadcast joins.
    *
    * SELF-CONTAINED form: derives the dims from the fact input itself, which
    * costs a second scan of `parsed` (one for the dim aggregation, one for
    * the fact side — Spark does not share subtrees across the collect
    * boundary). Fine for one-shot jobs; a standing deployment materializes
    * the dims once (sources.DimTables) and uses withRoleToolIdsFrom, which
    * scans the fact input exactly once (PlanSpec-pinned).
    */
  def withRoleToolIds(parsed: DataFrame): DataFrame = {
    val dims = firstSightDims(parsed, Seq("role", "tool"))
    withRoleToolIdsFrom(parsed,
      dimDf(parsed, dims("role"), "role", "role_id"),
      dimDf(parsed, dims("tool"), "tool", "tool_id"))
  }

  /** Enrichment against PRE-MATERIALIZED dims (the production form,
    * VERDICT r4 item 1): the fact input is scanned exactly once; the dims
    * are tiny (key, id) tables broadcast to every task.
    */
  def withRoleToolIdsFrom(parsed: DataFrame, roleDim: DataFrame, toolDim: DataFrame): DataFrame =
    parsed
      .join(broadcast(roleDim), Seq("role"), "left")
      .join(broadcast(toolDim), Seq("tool"), "left")

  /** J2 domain enrichment against a pre-materialized domain dim — single
    * fact scan, like withRoleToolIdsFrom.
    */
  def withDomainIdFrom(parsed: DataFrame, domainDim: DataFrame,
      defaultDomain: String = graft.sources.TranscriptGen.defaultDomain): DataFrame =
    parsed
      .withColumn("domain_name", coalesce(nullif(col("domain"), lit("")), lit(defaultDomain)))
      .join(broadcast(domainDim), Seq("domain_name"), "left")

  /** Grow-on-first-sight, batch-at-a-time (GetDomainId semantics,
    * db/mysqldb.go:91-121: look up, insert on first sight): append the
    * batch's unseen keys to an existing dim with surrogate ids continuing
    * after the current max, ordered by first appearance WITHIN the batch.
    * One scan of the batch (broadcast anti-join feeding the same
    * min-first-key aggregate); the dim itself is tiny and collected.
    * Growing over consecutive batches reproduces the full-table first-sight
    * ids exactly (EnrichSpec).
    */
  def grown(dim: DataFrame, batch: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val spark = dim.sparkSession
    import spark.implicits._
    val existing = dim.select(col(keyCol).cast("string"), col(idCol).cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val maxId = if (existing.isEmpty) 0 else existing.map(_._2).max
    val unseen = batch.join(broadcast(dim.select(col(keyCol))), Seq(keyCol), "left_anti")
    val newPairs = firstSightDims(unseen, Seq(keyCol))(keyCol)
      .map { case (k, i) => (k, maxId + i) }
    (existing ++ newPairs).toDF(keyCol, idCol)
  }
}
