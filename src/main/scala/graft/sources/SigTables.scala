package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Precomputed signature tables for the DuckDB oracle (VERDICT r1 item 2).
  *
  * The LSH/fingerprint hash functions (FNV-1a, splitmix-seeded minhash
  * permutations, random-hyperplane signs) are not SQL-expressible, so the
  * oracle cannot re-derive them from raw text. Instead, these tables pin the
  * per-document/per-vector signatures at synth time — computed by the SAME
  * deterministic Scala functions the engine UDFs call — and the DuckDB
  * oracle independently re-executes everything DISTRIBUTED that Spark
  * executes on top of them: band equi-joins, pigeonhole chunk joins, hamming
  * bit-counts, jaccard set arithmetic, cosine rescoring, top-k windows.
  *
  * Derived exclusively from the driver's own parquet inputs; written under
  * /root/repo/data (the testdata dir is read-only).
  */
object SigTables {

  // v5: round-4 — the PNG encoder now writes real filtered scanlines (the
  // pixel codec closed the last stub), which changes every PNG payload's
  // n_bytes and gives PNGs a real feat_milli instead of -1, so the pinned
  // values must re-synthesize. Versioned path, because `ensure` is
  // synth-on-first-use: a machine carrying older tables must regenerate,
  // not silently serve the stale schema. (v4: real-container decode fields
  // width/height/n_frames/sample_rate, xxh64 split hash, feat_milli.)
  // The materialized MEDIA table (Tables.media) shares this version: it is
  // derived from the same encoder, so any change that invalidates the
  // pinned signatures invalidates the stored payload bytes too — one bump
  // regenerates both.
  val synthVersion = "v5"
  def root(sfDir: String): String = s"${Tables.dataRoot}/sigs/$synthVersion/${Tables.sfName(sfDir)}"
  def docSigsPath(sfDir: String): String = s"${root(sfDir)}/doc_sigs"
  def minhashBandsPath(sfDir: String): String = s"${root(sfDir)}/minhash_bands"
  def embSigsPath(sfDir: String): String = s"${root(sfDir)}/emb_sigs"
  def ivfCentroidsPath(sfDir: String): String = s"${root(sfDir)}/ivf_centroids"
  def ivfAssignedPath(sfDir: String): String = s"${root(sfDir)}/ivf_assigned"

  /** doc_id, simhash, fingerprint, n_winnow, shingles (distinct, sorted),
    * plus the media decode fields pinned by ROUND-TRIPPING each document
    * through the real container encoder and header parser at synth time
    * (Multimodal.encodeMedia → decodeMedia) — the oracle side of mm_decode.
    */
  def docSigs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val payload = Multimodal.encodeMedia(id, text)
      val meta = Multimodal.decodeMedia(id, payload)
      (id,
        Dedup.simhash(text),
        TextAnalysis.polyHash(text),
        TextAnalysis.winnow(text).length,
        Dedup.shingleHashes(text).distinct.sorted.toSeq,
        meta.media_type,
        meta.n_bytes,
        meta.width,
        meta.height,
        meta.n_frames,
        meta.sample_rate,
        Multimodal.featMilli(payload))
    }.toDF("doc_id", "simhash", "fingerprint", "n_winnow", "shingles",
      "media_type", "n_bytes", "width", "height", "n_frames", "sample_rate", "feat_milli")
      // the deterministic-split hash, pinned via the engine's own Catalyst
      // xxhash64 — the oracle re-derives the bucket/split arithmetic over it
      .join(docs.select(col("doc_id"), xxhash64(col("text")).as("xxh64")), Seq("doc_id"))
  }

  /** doc_id, band, band_key — same (k=32, bands=8) family as
    * Dedup.minhashCandidates
    */
  def minhashBands(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].flatMap { case (id, text) =>
      Dedup.bandKeys(Dedup.minhashSig(text, k), bands).zipWithIndex.map {
        case (bk, b) => (id, b, bk)
      }
    }.toDF("doc_id", "band", "band_key")
  }

  /** vec_id, sig — the (planes=5, tables=16) hyperplane signatures of
    * Similarity.tableSigs, exploded
    */
  def embSigs(emb: DataFrame, planes: Int = 5, tables: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].flatMap { case (id, v) =>
      Similarity.tableSigs(v, planes, tables).map(s => (id, s))
    }.toDF("vec_id", "sig")
  }

  /** cent_id, embedding — the deterministic IVF coarse centroids
    * (Similarity.kmeansCentroids defaults)
    */
  def ivfCentroids(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    Similarity.kmeansCentroids(emb).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cent_id", "embedding")
      .select(col("cent_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** vec_id, embedding, cent — the IVF INDEX body: every corpus vector
    * stored with its coarse-bucket assignment (the production layout
    * cluster-partitions vectors by bucket; here one small parquet).
    * Assignment via the same UDF arithmetic the engine uses, from the same
    * deterministic centroids the oracle pins — maintained incrementally on
    * a real deployment (append each ingest batch's assigned rows).
    */
  def ivfAssigned(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      Similarity.nearestCentProbe(cents, col("embedding")).as("cent"))

  /** the pinned centroid table read back as the Array form the assignment
    * and probe stages take — the SINGLE source of truth for the index
    * (code-review r5: assigning from a fresh re-train could diverge from an
    * already-pinned centroid table; reading the pin makes index consistency
    * structural instead of relying on cross-revision determinism)
    */
  def pinnedCentroids(spark: SparkSession, sfDir: String): Array[Array[Float]] =
    spark.read.parquet(ivfCentroidsPath(sfDir))
      .orderBy("cent_id").collect().map(_.getSeq[Float](1).toArray)

  /** Synthesize-on-first-use (idempotent, deterministic). */
  def ensure(spark: SparkSession, sfDir: String): Unit = {
    def write(path: String, df: => DataFrame): Unit =
      if (!Files.exists(Paths.get(path, "_SUCCESS")))
        Tables.writer(df.coalesce(1)).mode(SaveMode.Overwrite).parquet(path)
    write(docSigsPath(sfDir), docSigs(Tables.read(spark, sfDir, "documents")))
    write(minhashBandsPath(sfDir), minhashBands(Tables.read(spark, sfDir, "documents")))
    write(embSigsPath(sfDir), embSigs(Tables.read(spark, sfDir, "embeddings")))
    write(ivfCentroidsPath(sfDir), ivfCentroids(spark, Tables.read(spark, sfDir, "embeddings")))
    // assignment FROM THE PINNED TABLE just written/already present — never
    // from a fresh re-train that could diverge from an older pin
    write(ivfAssignedPath(sfDir),
      ivfAssigned(Tables.read(spark, sfDir, "embeddings"), pinnedCentroids(spark, sfDir)))
  }
}
