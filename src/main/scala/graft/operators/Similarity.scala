package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge.collectTopK

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - bruteTopK: exact baseline — broadcast the (small) query set against the
  *   corpus, one scoring pass, then a TWO-STAGE top-k: Spark's
  *   `collect_top_k` (Bridge.collectTopK, a bounded priority queue planned
  *   as a partial ObjectHashAggregate) reduces each partition to ≤k rows per
  *   query before the exchange, the final stage merges. No single task ever
  *   holds all scored (query, candidate) rows. `row_number() <= k` plans a
  *   WindowGroupLimit instead, which sorts every scored row: 4-6× slower.
  * - lshTopK: the scale path — random-hyperplane signatures bucket the
  *   corpus; queries probe their own buckets, so each query scores only a
  *   fraction of the corpus. Candidate dedup across tables runs on ID PAIRS
  *   only; embeddings are re-joined after the distinct so the exchanges
  *   carry 16 bytes per row, not 64-float vectors (~16× less shuffle).
  */
object Similarity {

  /** deterministic random hyperplanes: plane (table,p) component d in {-1,+1}
    * from splitmix of the (table, plane, dim) triple. The planes are
    * CONSTANTS of (planes, tables, dim) — they are materialized once per JVM
    * and reused for every vector (the original form recomputed the splitmix
    * hash for all table×plane×dim components per row: ~5k hash evaluations
    * per vector, CPU-hours at 10⁹ vectors for values that never change).
    * ±1.0 double multiplication is exact, so the cached form is
    * bit-identical to hashing inline — the synth-time-pinned signature
    * tables stay valid.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def planeSigns(planes: Int, tables: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, tables, dim), _ =>
      Array.tabulate(tables * planes) { tp =>
        val t = tp / planes
        val p = tp % planes
        Array.tabulate(dim) { d =>
          val r = graft.sources.TranscriptGen.mix((t.toLong * 8191L + p.toLong) * 131071L + d.toLong)
          if ((r & 1L) == 0L) -1.0 else 1.0
        }
      })

  private def hyperplaneSigArr(v: Array[Float], signs: Array[Array[Double]],
      planes: Int, table: Int): Int = {
    var sig = 0
    var p = 0
    while (p < planes) {
      val row = signs(table * planes + p)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * row(d); d += 1 }
      if (dot > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** per-table signatures, encoded as table*2^planes + sig so one equi-join
    * key covers all L tables
    */
  def tableSigs(v: Seq[Float], planes: Int, tables: Int): Array[Long] = {
    val arr = v.toArray
    val signs = planeSigns(planes, tables, arr.length)
    Array.tabulate(tables)(t =>
      t.toLong * (1L << planes) + hyperplaneSigArr(arr, signs, planes, t))
  }

  private def sigsUdf(planes: Int, tables: Int) =
    udf((v: Seq[Float]) => tableSigs(v, planes, tables))

  /** final top-k over scored (query_id, neighbor_id, cosine) rows via the
    * two-stage bounded-heap aggregate; emits (query_id, rank, neighbor_id,
    * cosine) sorted best-first per query: cosine descending (NaN first, as
    * Spark orders doubles), then neighbor_id ascending
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(collectTopK(struct(col("cosine"), (-col("neighbor_id")).as("neg_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("n.neg_id")).as("neighbor_id"),
        col("n.cosine").as("cosine"))

  /** Should the query side be broadcast against
    * spark.sql.autoBroadcastJoinThreshold? Two tiers:
    *  1. Catalyst's own size estimate — free (NO Spark job), and sufficient
    *     when the query set is an unfiltered small table.
    *  2. If the estimate exceeds the threshold, MEASURE before giving up:
    *     without CBO a Filter reports its child scan's size, so the common
    *     "8 query vectors filtered out of a big corpus" would silently
    *     lose its broadcast at corpus scale. The measurement is BOUNDED
    *     (ADVICE/VERDICT r4): instead of a full count() — a complete scan
    *     of a possibly-10⁸-row query table — it counts
    *     queries.limit(cap + 1) where cap = threshold / perRow, so the scan
    *     stops as soon as the answer is determined; perRow is the actual
    *     first-row vector width padded for broadcast hash-relation overhead
    *     (+32 B/row). Each call measures anew: a plan does not identify
    *     its data, since a path rewritten in the same session reads back
    *     under an equal plan.
    * Re-ranking runs with small query sets broadcast and probe their
    * buckets locally; a batch-ANN run whose query set genuinely exceeds
    * the threshold (e.g. 10⁸ queries) falls back to shuffled equi-joins on
    * the bucket key — same results, no broadcast OOM. Callers can force
    * either path via the explicit parameter.
    */
  private def shouldBroadcastQueries(queries: DataFrame): Boolean = {
    val threshold = queries.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) return false
    if (queries.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold) return true
    val firstVec = queries.select(col("embedding")).head(1)
    firstVec.isEmpty || {
      // id + array overhead + floats, padded for hash-relation overhead
      val perRow = 64L + 4L * firstVec(0).getSeq[Float](0).length
      // cap = the largest row count that still fits the threshold; the
      // LIMIT asks for cap+1 rows so exceeding the cap is detectable
      val cap = threshold / perRow
      val capInt = math.min(cap + 1, Int.MaxValue.toLong).toInt
      queries.limit(capInt).count() <= cap
    }
  }

  private def maybeBroadcast(df: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(df) else df

  /** exact cosine top-k neighbors for each query vector (excluding self).
    * The query side is always broadcast here: brute force scores every
    * (query, candidate) pair, so a beyond-broadcast query set has no
    * equi-key to shuffle on — use lshTopK/ivfTopK for that regime.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosineCol(col("q_emb"), col("c_emb")).as("cosine"))
    topK(scored, k)
  }

  /** LSH-bucketed ANN: L independent hyperplane tables, candidates = union
    * of same-bucket hits across tables (single equi-join on the encoded
    * (table, bucket) key), dedup on id pairs, then exact rescoring of
    * candidates only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 5, tables: Int = 16,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastQueries.getOrElse(shouldBroadcastQueries(queries))
    val su = sigsUdf(planes, tables)
    val c = corpus.select(col("vec_id").as("neighbor_id"), explode(su(col("embedding"))).as("sig"))
    val q = queries.select(col("vec_id").as("query_id"), explode(su(col("embedding"))).as("sig"))
    // bucket probe: broadcast hash join for small query sets, shuffled
    // equi-join on the (table, bucket) key beyond the broadcast threshold
    val cand = maybeBroadcast(q, bcast).join(c, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct() // union over tables — ids only, no vectors on the exchange
    val scored = cand
      .join(maybeBroadcast(
        queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), bcast),
        Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosineCol(col("q_emb"), col("c_emb")).as("cosine"))
    topK(scored, k)
  }

  // --------------------------------------------------------------- IVF ANN
  /** Deterministic Lloyd k-means for the IVF coarse quantizer. Trained on a
    * driver-side sample in stable vec_id order — pure Scala arithmetic, so
    * the centroids are bit-reproducible across sessions/partitionings (a
    * distributed double-sum is not: partial-aggregation order varies). The
    * sample-trained coarse quantizer is standard IVF practice; everything
    * per-row (assignment, probing, rescoring) is distributed. Every call
    * trains; a stored index keeps its trained centroids instead (SigTables'
    * pinned centroids, `ivfTopKPreassigned`).
    */
  def kmeansCentroids(emb: DataFrame, k: Int = 16, iters: Int = 4,
      sampleLimit: Int = 100000): Array[Array[Float]] = {
    val sample = emb.orderBy("vec_id").limit(sampleLimit)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= k, s"need >= $k vectors, got ${sample.length}")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dim = sample(0).length
    var cents = sample.take(k).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bs = -2.0; var c = 0
        while (c < k) { val s = cos(cents(c), v); if (s > bs) { bs = s; best = c }; c += 1 }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat))
      it += 1
    }
    cents
  }

  /** (−cos, cent) structs against every centroid — struct ordering makes
    * min = best cosine, ties to the lowest cent id (the oracle's ORDER BY
    * sim DESC, cent ASC). Each cosine is evaluated exactly ONCE inside one
    * array constructor; a nested when()-chain argmax re-evaluates its
    * subtree per level, which is 2^k cosines per row once the 64 KB codegen
    * limit forces interpretation (measured: hung the sf0.1 bench).
    */
  private def centEntries(cents: Array[Array[Float]], v: Column): Column =
    array(cents.zipWithIndex.map { case (cv, i) =>
      struct((Dedup.cosineCol(typedlit(cv.toSeq), v) * -1).as("negs"), lit(i).as("cent"))
    }: _*)

  private[graft] def nearestCentProbe(cents: Array[Array[Float]], v: Column): Column =
    nearestCentUdf(cents)(v)

  /** Corpus-side bucket assignment as a primitive UDF, NOT the expression
    * form: nlist inlined literal-array cosines fuse into whatever stage
    * consumes the column, and at nlist=16 × dim=64 the generated method
    * blows past Janino's 64 KB limit — the WHOLE probe-join stage then runs
    * interpreted (measured in the r5 scale sweep: 24 s for a 200k-corpus
    * ivf call that runs in ~2 s once the assignment is a codegen black box;
    * the same mechanism as memory-trap #4, one level up). The query-side
    * probe list keeps the expression form — it runs on the tiny broadcast
    * stage where interpretation is irrelevant and the struct order is the
    * oracle's tie rule.
    */
  private def nearestCentUdf(cents: Array[Array[Float]]) = udf { (v: Seq[Float]) =>
    // null-safe like the expression form it replaced (a NULL embedding
    // yields a null bucket → the row drops out of the equi-join instead of
    // failing the task); length iterates min(vec, centroid) dims exactly
    // like CosineSimilarity's min(numElements) rule
    if (v == null) null.asInstanceOf[java.lang.Integer]
    else {
    val arr = v.toArray
    var best = 0
    var bs = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(arr.length, cv.length)
      while (i < n) {
        // FLOAT multiplies widened into double accumulators — the exact
        // arithmetic CosineSimilarity.nullSafeEval/doGenCode performs
        // (`dot += xi * yi` on float locals), so assignments are
        // bit-identical to the expression form and the pinned oracle
        dot += (cv(i) * arr(i)).toDouble
        na += (cv(i) * cv(i)).toDouble
        nb += (arr(i) * arr(i)).toDouble
        i += 1
      }
      val s = dot / (math.sqrt(na) * math.sqrt(nb))
      // strict > keeps the FIRST best on ties = lowest cent id, the same
      // tie rule as array_min over (-cos, cent) structs and the oracle's
      // ORDER BY sim DESC, cent ASC
      if (s > bs) { bs = s; best = c }
      c += 1
    }
    java.lang.Integer.valueOf(best)
    }
  }


  /** IVF ANN: corpus bucketed by nearest coarse centroid, each query probes
    * its `nprobe` nearest centroids, exact rescoring + two-stage top-k on
    * the probed buckets only. Each query scores ≈ nprobe/nlist of the
    * corpus instead of all of it; the bucket join is a plain equi-join on
    * a small int key.
    *
    * Sizing at scale: in the shuffled-queries regime the join key is
    * `cent`, so reducer parallelism (and reducer memory) is bounded by
    * nlist — a beyond-broadcast batch run MUST raise nlist with the
    * corpus (standard IVF practice is nlist ≈ √N, e.g. 10⁴ lists for 10⁸
    * vectors, which also keeps each probed bucket ~√N rows); AQE's
    * skew-join split handles residual hot buckets. The default nlist=16
    * fits the registered small-corpus queries only.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, iters: Int = 4, nprobe: Int = 4,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val cents = kmeansCentroids(corpus, nlist, iters)
    val assigned = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .withColumn("cent", nearestCentUdf(cents)(col("c_emb")))
    ivfTopKPreassigned(assigned, cents, queries, k, nprobe, broadcastQueries)
  }

  /** The query stage of IVF against a PRE-BUILT index — the production
    * form, same pattern as Dedup.incrementalNearDupsPrebanded: centroids
    * and the corpus bucket assignment (neighbor_id, c_emb, cent) are the
    * IVF index, built/maintained once (e.g. a stored table appended per
    * ingest batch, assignment via nearestCentUdf) and reused across query
    * batches. Per call the work is the probe equi-join + exact rescoring
    * of probed buckets only — the corpus is never rescanned to re-derive
    * what the index already holds.
    */
  def ivfTopKPreassigned(assigned: DataFrame, cents: Array[Array[Float]],
      queries: DataFrame, k: Int, nprobe: Int = 4,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastQueries.getOrElse(shouldBroadcastQueries(queries))
    // probe list: (−cos, cent) structs sorted lexicographically = cos desc,
    // cent asc on ties — identical ordering to the oracle's window
    val probeEntries = centEntries(cents, col("q_emb"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .select(col("query_id"), col("q_emb"),
        explode(slice(sort_array(probeEntries), 1, nprobe)).as("p"))
      .select(col("query_id"), col("q_emb"), col("p.cent").as("cent"))
    // bucket join on the small int cent key — broadcast below threshold,
    // shuffled equi-join beyond it (see shouldBroadcastQueries)
    val scored = maybeBroadcast(q, bcast).join(assigned, Seq("cent"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosineCol(col("q_emb"), col("c_emb")).as("cosine"))
    topK(scored, k)
  }

  /** LSH near-dup pairs over embeddings (the scale path for
    * Dedup.embeddingNearDups): bucket join instead of cross join; the
    * cross-table dedup shuffles (a_id, b_id) pairs only, embeddings are
    * fetched back by id for the exact rescoring filter.
    */
  def lshNearDups(emb: DataFrame, threshold: Double,
      planes: Int = 5, tables: Int = 16): DataFrame = {
    val su = sigsUdf(planes, tables)
    val sigs = emb.select(col("vec_id"), explode(su(col("embedding"))).as("sig"))
    val cand = sigs.alias("a")
      .join(sigs.alias("b"), col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), Seq("b_id"))
      .withColumn("cosine", Dedup.cosineCol(col("a_emb"), col("b_emb")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }
}
