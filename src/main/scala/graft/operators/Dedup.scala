package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale notes (the 100 TB story):
  * - exact dedup shuffles (h1, h2, len, doc_id) only — two independent
  *   64-bit hashes plus length as the group key, the text never leaves the
  *   scan stage (collision odds in SCALE.md; text-equality form kept as the
  *   small-scale oracle).
  * - MinHash/SimHash signatures are computed in ONE pass per document (a
  *   struct-returning UDF), then candidates come from an equi-join on LSH
  *   band keys — never a cross join. The band join is a plain shuffled hash
  *   join on short keys; hot buckets are bounded by banding.
  */
object Dedup {

  // ---------------------------------------------------------------- exact
  /** Exact dedup: flag every doc whose text already appeared at a smaller
    * doc_id.
    *
    * SCALE form (VERDICT r4 item 3): the shuffle key is (h1, h2, len) — two
    * INDEPENDENT 64-bit xxhashes (h2 prepends a literal salt, which chains
    * the seed: h2 = XXH64(text, XXH64(salt, 42)), a different effective seed
    * than h1's 42) plus the character length — projected BEFORE the window,
    * so the exchange carries ~28 bytes/row and never the document text (the
    * pre-r5 window partitioned on (hash, text) and shuffled the corpus).
    * Dup flags can differ from true text equality only if two DISTINCT
    * texts collide on BOTH hashes and length: P ≈ n²/2^129 over n docs —
    * ~10⁻¹⁵ at 10¹² docs (SCALE.md). The text-partitioned window stays as
    * the small-scale oracle (exactFlagsTextEq), equality pinned on the
    * synth corpus in TrainingOpsSpec.
    */
  def exactFlags(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h1"), col("h2"), col("len"))
    docs
      .select(
        col("doc_id"),
        xxhash64(col("text")).as("h1"),
        xxhash64(lit(0x5BA7C1E7L), col("text")).as("h2"),
        length(col("text")).as("len"))
      .select(
        col("doc_id"),
        (col("doc_id") > min(col("doc_id")).over(w)).cast("int").as("is_dup"))
  }

  /** Oracle form: groups by full text equality (collision-free by
    * construction, but ships the corpus through the exchange — small-scale
    * verification only).
    */
  def exactFlagsTextEq(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(xxhash64(col("text")), col("text"))
    docs.select(
      col("doc_id"),
      (col("doc_id") > min(col("doc_id")).over(w)).cast("int").as("is_dup"))
  }

  // -------------------------------------------------------------- minhash
  /** deterministic 64-bit string hash (FNV-1a) shared by tests */
  def fnv1a(s: String): Long = fnv1aRange(s, 0, s.length)

  /** fnv1a over s[from, until) — value-identical to fnv1a(s.substring(...))
    * without the per-call substring allocation (winnowing hashes every
    * k-gram of every document; the copies were pure GC churn)
    */
  def fnv1aRange(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  // r6: hoisted — String.split(String) with a multi-char regex compiles the
  // Pattern PER CALL (per document, across every minhash/simhash/shingle
  // path); Pattern.split is spec-identical to String.split with limit 0
  private val tokenSplit = java.util.regex.Pattern.compile("[^a-z0-9]+")

  // Locale.ROOT: Go's strings.ToLower is locale-independent; default-locale
  // toLowerCase would tokenize differently under e.g. tr-TR (dotless i) and
  // change every signature (code-review r6)
  def tokenize(text: String): Array[String] =
    tokenSplit.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  /** word 3-gram shingle hashes. r6: the FNV of each n-gram is chained over
    * the tokens' chars with a ' ' between them — the exact char stream of
    * `fnv1a(toks.slice(i, i+n).mkString(" "))` without allocating the joined
    * string per shingle (ScalaCheck-pinned value equality in ParseProps).
    */
  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    val toks = tokenize(text)
    if (toks.length < n) Array(fnv1a(toks.mkString(" ")))
    else Array.tabulate(toks.length - n + 1) { i =>
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) {
        if (j > i) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val t = toks(j)
        var c = 0
        while (c < t.length) { h ^= t.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
        j += 1
      }
      h
    }
  }

  /** the k affine-permutation coefficients — constants of j, derived from
    * splitmix of the seed; materialized once per JVM instead of re-hashed
    * per (shingle, j) pair (same constant-recompute trap as the LSH
    * hyperplanes — it was ~2k hash evaluations per document for values that
    * never change)
    */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def permCoeffs(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, _ => (
      Array.tabulate(k)(j => graft.sources.TranscriptGen.mix(j.toLong * 2 + 1) | 1L),
      Array.tabulate(k)(j => graft.sources.TranscriptGen.mix(j.toLong * 2 + 2))))

  /** k minhash values via k affine permutations of one base hash */
  def minhashSig(text: String, k: Int): Array[Long] = {
    val hs = shingleHashes(text)
    val (as, bs) = permCoeffs(k)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < k) {
        val v = as(j) * h + bs(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** (band_idx, band_hash) keys for LSH bucketing */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L ^ b.toLong
      var i = b * r
      while (i < (b + 1) * r) { h ^= sig(i); h *= 0x100000001b3L; i += 1 }
      h
    }
  }

  private def minhashUdf(k: Int, bands: Int) =
    udf((text: String) => bandKeys(minhashSig(text, k), bands))

  /** Candidate near-dup pairs via MinHash banding: one UDF pass for the
    * signature, explode band keys, self-equi-join on (band, key), distinct.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    val banded = docs
      .select(col("doc_id"), posexplode(minhashUdf(k, bands)(col("text"))).as(Seq("band", "band_key")))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** exact n-gram Jaccard from raw text — the reference definition, kept as
    * the test-side oracle for `jaccardSorted` (the distributed path computes
    * each doc's shingle set ONCE and intersects pre-sorted arrays instead of
    * re-shingling both texts per candidate pair)
    */
  def jaccard(a: String, b: String): Double = {
    val sa = shingleHashes(a).toSet
    val sb = shingleHashes(b).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** per-doc sorted distinct shingle-hash array — computed once per document
    * (one UDF pass, like the band keys), then joined by id into the verify
    * stage; exactly the column SigTables pins for the oracle
    */
  def sortedShingles(text: String): Array[Long] = shingleHashes(text).distinct.sorted

  /** Jaccard over two pre-sorted distinct hash arrays: merge-intersect, no
    * set allocation. Value-identical to `jaccard` on the source texts (same
    * integer intersection/union sizes → the same IEEE division).
    */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  private val sortedShinglesUdf = udf((text: String) => sortedShingles(text))
  private val jaccardSortedUdf = udf((a: Array[Long], b: Array[Long]) => jaccardSorted(a, b))

  /** (doc_id, shingles) projection for the verify joins. At 100 TB this (or
    * SigTables' pinned equivalent) is what flows through the verify
    * exchange: ids + 8-byte hashes, never the corpus text — and each doc is
    * shingled exactly once instead of once per candidate pair it appears in.
    */
  private def shingleSets(docs: DataFrame, idAs: String, shAs: String): DataFrame =
    docs.select(col("doc_id").as(idAs), sortedShinglesUdf(col("text")).as(shAs))

  /** Incremental near-dup: flag NEW-batch documents that duplicate the
    * EXISTING corpus — the daily-ingest shape at 100 TB. The corpus side is
    * touched once to band it (or, on a real deployment, its band table is
    * already materialized — exactly what SigTables pins); the join is
    * new-bands × corpus-bands, never corpus × corpus, so daily cost scales
    * with the batch, not the corpus pair space.
    */
  def incrementalNearDups(corpus: DataFrame, fresh: DataFrame, threshold: Double,
      k: Int = 32, bands: Int = 8): DataFrame = {
    def banded(df: DataFrame) = df
      .select(col("doc_id"), posexplode(minhashUdf(k, bands)(col("text"))).as(Seq("band", "band_key")))
    incrementalNearDupsPrebanded(
      banded(corpus), shingleSets(corpus, "doc_id", "shingles"), fresh, threshold, k, bands)
  }

  /** Incremental near-dup against PRE-MATERIALIZED corpus signature tables —
    * the production daily-ingest form. The corpus text is never re-scanned,
    * re-banded, or re-shingled: its band table (doc_id, band, band_key) and
    * shingle table (doc_id, shingles — sorted distinct hashes) are
    * maintained incrementally (append each accepted batch's signature rows
    * after ingest), which is exactly the shape SigTables materializes. Per
    * day the work is batch-bands × corpus-band-table equi-join + shingle
    * fetch by id for the candidates — cost scales with the batch and the
    * candidate count, not the corpus.
    */
  def incrementalNearDupsPrebanded(corpusBands: DataFrame, corpusShingles: DataFrame,
      fresh: DataFrame, threshold: Double, k: Int = 32, bands: Int = 8): DataFrame = {
    val freshBands = fresh
      .select(col("doc_id"), posexplode(minhashUdf(k, bands)(col("text"))).as(Seq("band", "band_key")))
    val cand = freshBands.alias("n")
      .join(corpusBands.alias("o"),
        col("n.band") === col("o.band") && col("n.band_key") === col("o.band_key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    cand
      .join(shingleSets(fresh, "new_id", "new_sh"), "new_id")
      .join(corpusShingles.select(col("doc_id").as("old_id"), col("shingles").as("old_sh")),
        "old_id")
      .withColumn("jaccard", jaccardSortedUdf(col("new_sh"), col("old_sh")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }

  def minhashNearDups(docs: DataFrame, threshold: Double, k: Int = 32, bands: Int = 8): DataFrame = {
    val cands = minhashCandidates(docs, k, bands)
    cands
      .join(shingleSets(docs, "a_id", "a_sh"), "a_id")
      .join(shingleSets(docs, "b_id", "b_sh"), "b_id")
      .withColumn("jaccard", jaccardSortedUdf(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ------------------------------------------------------------- clusters
  /** Connected-component cluster formation over a near-dup pair set — the
    * last step of the dedup story at scale: every document in a component
    * maps to the component's canonical keeper (its minimum doc_id), so a
    * single broadcast-or-shuffle join against (doc_id, keep_id) dedups the
    * corpus.
    *
    * Algorithm: min-label propagation with per-round pointer jumping. Each
    * round every vertex takes the min of (its label, its neighbors' labels,
    * its label's label) — the propagation step alone converges in
    * O(component diameter) rounds, and the shortcut step (follow your
    * label's label) halves remaining path lengths, giving O(log d) rounds
    * overall. LSH near-dup components are near-cliques (diameter ≤ 2-3
    * typically), so 2-3 rounds is the norm. Each round is two equi-joins +
    * one aggregation on 16-byte (id, lbl) rows — ids only, never text or
    * vectors. localCheckpoint() truncates lineage so the plan stays
    * constant-size across iterations instead of doubling every round.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      .union(pairs.select(col("b_id").cast("long").as("src"), col("a_id").cast("long").as("dst")))
      .localCheckpoint()
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("lbl"))
      .localCheckpoint()
    // Convergence check (r6, opt guide §1.2): labels are MONOTONE
    // NON-INCREASING (next = min over a superset containing the current
    // label) and the id set is the fixed vertex set every round, so "any
    // label changed" ⟺ "sum of labels decreased". One cheap aggregate over
    // the just-checkpointed round replaces the join+filter+count job the
    // pre-r6 loop ran per round (one extra shuffle join per iteration).
    // decimal(38,0) keeps the sum exact at any id scale (a long sum could
    // wrap at 10⁹ × 10¹² ids and alias a real change).
    def lblSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    var curSum = lblSum(labels)
    var changed = true
    while (changed) {
      val viaEdges = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"))
      val viaPtr = labels.alias("x")
        .join(labels.alias("y"), col("x.lbl") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lbl").as("lbl"))
      val next = labels.union(viaEdges).union(viaPtr)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val nextSum = lblSum(next)
      changed = nextSum.compareTo(curSum) != 0
      curSum = nextSum
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("keep_id"))
  }

  /** Full corpus dedup map: every doc_id → its keeper (itself when the doc
    * is in no near-dup pair).
    */
  def clusterMap(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))

  // -------------------------------------------------------------- simhash
  /** 64-bit SimHash over token hashes */
  def simhash(text: String): Long = {
    val acc = new Array[Int](64)
    tokenize(text).foreach { t =>
      val h = fnv1a(t)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf((text: String) => simhash(text))

  def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashUdf(col("text")).as("simhash"))

  /** near-dup pairs with hamming(simhash) <= maxDist, found by banding the
    * 64 bits into (maxDist+1) chunks — pigeonhole guarantees a matching
    * chunk, so the join is again an equi-join, never a cross product.
    */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val sh = simhashes(docs)
    val banded = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map { c =>
        shiftrightunsigned(col("simhash"), c * width).bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("chunk", "chunk_key")))
    val hamming = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_key") === col("b.chunk_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming(col("a.simhash"), col("b.simhash")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ---------------------------------------------------- embedding near-dup
  /** Cosine similarity of two float vectors — a native codegen'd Catalyst
    * expression (graft.functions.CosineSimilarity) reading ArrayData in
    * place inside the fused stage. History of this operator, all measured:
    * higher-order `zip_with`/`aggregate` interpret a lambda per element
    * (60s for 2M 64-dim pairs); a compiled UDF over primitive arrays is
    * ~40x faster (1.5s) but converts ArrayData→Array[Float] per call and
    * breaks whole-stage codegen at its boundary; the native expression
    * removes both. All three share the same arithmetic order (float
    * products, double accumulation), so results are bit-identical — pinned
    * by TrainingOpsSpec against the UDF kept below for the cross-check.
    */
  def cosineCol(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** the UDF form, retained ONLY as the test-side cross-check */
  private[graft] val cosineUdfForTest = udf { (a: Array[Float], b: Array[Float]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** embedding-cosine near-duplicate pairs above a threshold. Brute force
    * O(n²) — correct baseline; the LSH-bucketed scale path is
    * Similarity.lshNearDups.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", cosineCol(col("a_emb"), col("b_emb")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }
}
