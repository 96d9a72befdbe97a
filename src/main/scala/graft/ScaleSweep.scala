package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.{Tables, TranscriptGen}

/** Order-of-magnitude scale sweep for the training-data operators
  * (VERDICT r4 item 4): the 100 TB claims for the banded dedup / ANN paths
  * — near-linear time in N, recall stability — are measured here instead of
  * argued. Synthesizes documents at {5k, 50k, 500k} (the driver fixtures
  * top out at 5k docs / 2k vectors, so the largest tier is the prescribed
  * ×100) and embeddings at {2k, 20k, 200k}, each with PLANTED near-dup
  * pairs of known construction, then measures per size:
  *
  *   - dedup_minhash   wall time + recall of planted true-jaccard ≥ 0.5 pairs
  *   - dedup_incr_prebanded  wall time (odd-id batch × even-id prebanded corpus)
  *   - ann_lsh / ann_ivf  wall time + top-10 recall vs bruteTopK (16 queries)
  *
  * Everything is deterministic (splitmix-seeded, no RNG state): the
  * corpora regenerate bit-identically anywhere. Results go to
  * data/scale_sweep/sweep_<ms>.json, one immutable artifact per run (the
  * bench_runs convention), and the headline numbers land in SCALE.md.
  *
  * `runMain graft.ScaleSweep [maxDocs]` — cap the largest tier (e.g. 50000)
  * for a quick pass.
  */
object ScaleSweep {

  // ------------------------------------------------------------ generators
  private def mix(x: Long): Long = TranscriptGen.mix(x)

  private val vocabSize = 2000L
  private def word(h: Long): String = "w" + java.lang.Long.remainderUnsigned(h, vocabSize)

  private def baseTokens(id: Long): Array[String] = {
    val n = 40 + (java.lang.Long.remainderUnsigned(mix(id), 21L)).toInt
    Array.tabulate(n)(j => word(mix(id * 1009L + j)))
  }

  /** id % 50 == 1 → exact copy of id-1; id % 10 == 9 → near-dup of id-1
    * (2 token replacements out of ~50 ⇒ 3-gram jaccard ≈ 0.6-0.8, a few
    * pairs landing under the 0.5 threshold by construction — those are
    * excluded from recall's denominator by the exact-jaccard check).
    * The two plant conditions never overlap (id%50==1 ⇒ id%10==1).
    */
  def docText(id: Long): String = {
    if (id % 50L == 1L && id > 0) baseTokens(id - 1).mkString(" ")
    else if (id % 10L == 9L) {
      val t = baseTokens(id - 1)
      val p1 = (java.lang.Long.remainderUnsigned(mix(id * 31L + 7L), t.length.toLong)).toInt
      val p2 = (java.lang.Long.remainderUnsigned(mix(id * 31L + 77L), t.length.toLong)).toInt
      t(p1) = word(mix(id * 31L + 777L))
      t(p2) = word(mix(id * 31L + 7777L))
      t.mkString(" ")
    } else baseTokens(id).mkString(" ")
  }

  private val embDim = 64

  private def baseVec(id: Long): Array[Float] = {
    val v = Array.tabulate(embDim) { j =>
      // uniform in [-1, 1) from the top 53 bits
      (mix(id * 131L + j) >>> 11).toDouble / (1L << 52).toDouble - 1.0
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** id % 10 == 9 → near-dup of id-1: + 0.25·noise, renormalized ⇒ cosine
    * ≈ 0.97 to its partner (far above anything unplanted at dim 64).
    */
  def vec(id: Long): Array[Float] = {
    if (id % 10L == 9L) {
      val b = baseVec(id - 1)
      val noise = baseVec(id + 1000000007L)
      val v = Array.tabulate(embDim)(j => b(j) + 0.25 * noise(j))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    } else baseVec(id)
  }

  // ------------------------------------------------------------- tables
  private val root = s"${graft.sources.Tables.dataRoot}/scale_sweep/v1"

  private def ensure(path: String)(write: => Unit): Unit =
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) write

  private def docsPath(n: Long) = s"$root/docs_$n"
  private def embPath(n: Long) = s"$root/emb_$n"
  private def bandsPath(n: Long) = s"$root/bands_$n"
  private def shinglesPath(n: Long) = s"$root/shingles_$n"

  private def docs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    ensure(docsPath(n)) {
      Tables.writer(spark.range(0L, n, 1L, 64)
        .map(i => (i, docText(i)))
        .toDF("doc_id", "text"))
        .mode(SaveMode.Overwrite).parquet(docsPath(n))
    }
    spark.read.parquet(docsPath(n))
  }

  private def embeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    ensure(embPath(n)) {
      Tables.writer(spark.range(0L, n, 1L, 64)
        .map(i => (i, vec(i).toSeq))
        .toDF("vec_id", "embedding"))
        .mode(SaveMode.Overwrite).parquet(embPath(n))
    }
    spark.read.parquet(embPath(n))
  }

  /** corpus signature tables in the SigTables shape — what a standing
    * deployment maintains incrementally; built here once per size
    */
  private def sigTables(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    ensure(bandsPath(n)) {
      // the ONE production band-table builder — measuring a private copy
      // here could silently drift from what SigTables pins (code-review r5)
      Tables.writer(graft.sources.SigTables.minhashBands(docs(spark, n)))
        .mode(SaveMode.Overwrite).parquet(bandsPath(n))
    }
    ensure(shinglesPath(n)) {
      Tables.writer(docs(spark, n).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, Dedup.sortedShingles(text).toSeq) }
        .toDF("doc_id", "shingles"))
        .mode(SaveMode.Overwrite).parquet(shinglesPath(n))
    }
    (spark.read.parquet(bandsPath(n)), spark.read.parquet(shinglesPath(n)))
  }

  // ------------------------------------------------------------- measure
  private def timeMin(runs: Int)(f: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    (1 to runs).foreach { _ =>
      val t0 = System.nanoTime()
      rows = f
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val maxDocs = if (args.nonEmpty) args(0).toLong else 500000L
    val docSizes = Seq(5000L, 50000L, 500000L).filter(_ <= maxDocs)
    val embSizes = Seq(2000L, 20000L, 200000L).filter(_ <= maxDocs * 2 / 5)

    val spark = Session.local()
    import spark.implicits._

    val jacc = udf((a: Seq[Long], b: Seq[Long]) => Dedup.jaccardSorted(a.toArray, b.toArray))

    val sb = new StringBuilder
    sb.append("{\"doc_tiers\":[")

    docSizes.zipWithIndex.foreach { case (n, idx) =>
      val d = docs(spark, n)
      val (bands, shingles) = sigTables(spark, n)
      d.count(); bands.count(); shingles.count() // materialize outside timing

      // planted pairs whose TRUE jaccard clears the 0.5 threshold (the
      // mutation occasionally lands under it; those are not recall targets)
      val planted = spark.range(0L, n).filter(col("id") % 10 === 9 || (col("id") % 50 === 1 && col("id") > 0))
        .select((col("id") - 1).as("a_id"), col("id").as("b_id"))
      val plantedTrue = planted
        .join(shingles.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
        .join(shingles.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
        .filter(jacc(col("sa"), col("sb")) >= 0.5)
        .select("a_id", "b_id")
      val nTrue = plantedTrue.count()

      val (tMinhash, nPairs) = timeMin(3)(Dedup.minhashNearDups(d, 0.5).count())
      val found = Dedup.minhashNearDups(d, 0.5).select("a_id", "b_id")
        .join(plantedTrue, Seq("a_id", "b_id"), "left_semi").count()
      // ADVICE r5: zero planted pairs (a capped tier) must not emit NaN into
      // the JSON artifact — recall is vacuously 1.0 when nothing is planted
      val recall = if (nTrue == 0) 1.0 else found.toDouble / nTrue

      val corpusBands = bands.filter(col("doc_id") % 2 === 0)
      val corpusShingles = shingles.filter(col("doc_id") % 2 === 0)
      val batch = d.filter(col("doc_id") % 2 =!= 0)
      val (tIncr, nIncr) = timeMin(3)(
        Dedup.incrementalNearDupsPrebanded(corpusBands, corpusShingles, batch, 0.5).count())

      // cluster formation over the full near-dup pair set: label propagation
      // + pointer jumping rounds — the op that APPLIES a dedup at scale
      val (tClusters, nDocs) = timeMin(3)(
        Dedup.clusterMap(d, Dedup.minhashNearDups(d, 0.5)).count())

      println(f"[sweep] docs n=$n minhash ${tMinhash}%.2f s ($nPairs pairs, recall $recall%.4f " +
        f"of $nTrue planted) incr_prebanded ${tIncr}%.2f s ($nIncr pairs) clusters ${tClusters}%.2f s")
      if (idx > 0) sb.append(",")
      sb.append(f"""{"n":$n,"minhash_sec":$tMinhash%.3f,"minhash_pairs":$nPairs,""" +
        f""""minhash_recall":$recall%.4f,"planted_true":$nTrue,""" +
        f""""incr_prebanded_sec":$tIncr%.3f,"incr_pairs":$nIncr,""" +
        f""""clusters_sec":$tClusters%.3f,"clusters_rows":$nDocs}""")
    }

    sb.append("],\"emb_tiers\":[")
    embSizes.zipWithIndex.foreach { case (n, idx) =>
      val e = embeddings(spark, n)
      e.count()
      val queries = e.filter(col("vec_id") < 16)

      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Similarity.bruteTopK(e, queries, 10))
      val (tBrute, _) = timeMin(3)(Similarity.bruteTopK(e, queries, 10).count())
      val (tLsh, _) = timeMin(3)(Similarity.lshTopK(e, queries, 10).count())
      val (tIvf, _) = timeMin(3)(Similarity.ivfTopK(e, queries, 10).count())
      // embedding near-dup: all-pairs LSH bucket join over the whole corpus.
      // planes grows with the corpus (bucket target ~64 vectors — the
      // standard hyperplane-LSH sizing, same spirit as nlist ≈ √N for IVF):
      // the default planes=5 (32 buckets/table) fits the small registered
      // corpora only; at 200k vectors it would pack ~6k vectors per bucket
      // and the candidate pair join would explode quadratically
      val planes = math.max(5, math.ceil(math.log(n / 64.0) / math.log(2)).toInt)
      val heavyRuns = if (n >= 100000) 1 else 3 // a 100+ s op amortizes its own noise
      val (tNearDup, nNearDup) = timeMin(heavyRuns)(Similarity.lshNearDups(e, 0.9, planes).count())
      // the candidate-volume knob, measured: +4 planes × 2× tables ⇒ ~16×
      // fewer candidate pairs per table at ~equal aggregate recall
      val (tNearDupHi, nNearDupHi) =
        if (n >= 100000) timeMin(1)(Similarity.lshNearDups(e, 0.9, planes + 4, 32).count())
        else (0.0, 0L)
      val lshRecall = pairs(Similarity.lshTopK(e, queries, 10)).intersect(exact).size.toDouble / exact.size
      val ivfRecall = pairs(Similarity.ivfTopK(e, queries, 10)).intersect(exact).size.toDouble / exact.size

      println(f"[sweep] emb n=$n brute ${tBrute}%.2f s lsh ${tLsh}%.2f s (recall $lshRecall%.3f) " +
        f"ivf ${tIvf}%.2f s (recall $ivfRecall%.3f) near_dup ${tNearDup}%.2f s ($nNearDup pairs) " +
        f"near_dup_hi ${tNearDupHi}%.2f s ($nNearDupHi pairs)")
      if (idx > 0) sb.append(",")
      sb.append(f"""{"n":$n,"brute_sec":$tBrute%.3f,"lsh_sec":$tLsh%.3f,"lsh_recall":$lshRecall%.4f,""" +
        f""""ivf_sec":$tIvf%.3f,"ivf_recall":$ivfRecall%.4f,""" +
        f""""near_dup_sec":$tNearDup%.3f,"near_dup_pairs":$nNearDup,""" +
        f""""near_dup_hi_sec":$tNearDupHi%.3f,"near_dup_hi_pairs":$nNearDupHi}""")
    }
    sb.append("]}")

    val out = sb.toString
    println(out)
    val dir = Paths.get(s"$root/results")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"sweep_${System.currentTimeMillis()}.json"), out + "\n")
    spark.stop()
  }
}
