package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Correctness of the training-data operators that have no SQL oracle:
  * MinHash/SimHash near-dup recall vs brute force, LSH ANN recall vs exact,
  * fingerprint determinism, multimodal decode plumbing.
  */
class TrainingOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** crafted corpus: originals + near-duplicates (small token edits) */
  private lazy val crafted = {
    import spark.implicits._
    val base = docs.limit(60).collect().map(r => (r.getLong(0), r.getString(1)))
    val rows = base.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val edited = (toks.take(toks.length - 2) :+ "zzz").mkString(" ") // drop 2 tokens, add 1
      // odd offset: each near-dup lands on the OPPOSITE parity of its
      // original, so the incremental (batch×corpus) slice test has pairs
      Seq((id, text), (id + 100001L, edited))
    }
    rows.toSeq.toDF("doc_id", "text")
  }

  test("jaccardSorted over per-doc shingle arrays is bit-identical to text jaccard") {
    val texts = crafted.collect().map(_.getString(1))
    val sets = texts.map(Dedup.sortedShingles)
    for (i <- texts.indices; j <- (i + 1) until math.min(i + 8, texts.length)) {
      val viaText = Dedup.jaccard(texts(i), texts(j))
      val viaSets = Dedup.jaccardSorted(sets(i), sets(j))
      assert(java.lang.Double.doubleToRawLongBits(viaText) ==
        java.lang.Double.doubleToRawLongBits(viaSets), s"($i,$j): $viaText vs $viaSets")
    }
    assert(Dedup.jaccardSorted(Array.empty, Array.empty) == 1.0)
    assert(Dedup.jaccardSorted(Array(1L, 2L), Array.empty) == 0.0)
  }

  test("exact dedup over the hashed shuffle key equals full text-equality grouping") {
    // the scale form shuffles (h1, h2, len) instead of the text (VERDICT r4
    // item 3); with planted exact dups the flags must be identical to the
    // text-partitioned oracle window
    val planted = docs.select(col("doc_id"), col("text")).unionByName(
      docs.orderBy("doc_id").limit(5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val hashed = Dedup.exactFlags(planted).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val textEq = Dedup.exactFlagsTextEq(planted).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hashed == textEq)
    assert(hashed.values.sum >= 5, "planted dups must be flagged")
  }

  test("minhash candidates achieve full recall on crafted near-dups (jaccard >= 0.5)") {
    val brute = {
      val texts = crafted.collect().map(r => (r.getLong(0), r.getString(1)))
      (for {
        (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
        j = Dedup.jaccard(ta, tb) if j >= 0.5
      } yield (ia, ib)).toSet
    }
    assert(brute.nonEmpty, "crafted data must contain true near-dups")
    val found = Dedup.minhashNearDups(crafted, 0.5).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhashNearDups verifies exact jaccard on candidates → no false positives
    assert(found.subsetOf(brute))
    val recall = found.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"minhash recall $recall (found ${found.size} of ${brute.size})")
  }

  test("incremental dedup equals the cross-parity slice of full pair dedup") {
    val full = Dedup.minhashNearDups(crafted, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // (a < b) pairs
    val expected = full.flatMap { case (a, b) =>
      if (a % 2 == 1 && b % 2 == 0) Some((a, b))      // oriented (new=odd, old=even)
      else if (b % 2 == 1 && a % 2 == 0) Some((b, a))
      else None                                        // same-parity: not batch×corpus
    }
    val got = Dedup.incrementalNearDups(
      crafted.filter(col("doc_id") % 2 === 0),
      crafted.filter(col("doc_id") % 2 === 1), 0.5)
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "crafted corpus must contain cross-parity near-dups")
  }

  test("prebanded incremental dedup (materialized sig tables) equals the from-text path") {
    import spark.implicits._
    val corpus = crafted.filter(col("doc_id") % 2 === 0)
    val fresh = crafted.filter(col("doc_id") % 2 =!= 0)
    // materialize the corpus signature tables exactly as SigTables does
    val corpusBands = corpus.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        Dedup.bandKeys(Dedup.minhashSig(text, 32), 8).zipWithIndex.map { case (bk, b) => (id, b, bk) }
      }.toDF("doc_id", "band", "band_key")
    val corpusShingles = corpus.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, Dedup.sortedShingles(text).toSeq) }
      .toDF("doc_id", "shingles")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromText = pairs(Dedup.incrementalNearDups(corpus, fresh, 0.5))
    val prebanded = pairs(Dedup.incrementalNearDupsPrebanded(corpusBands, corpusShingles, fresh, 0.5))
    assert(prebanded == fromText)
    assert(prebanded.nonEmpty)
  }

  test("cluster formation: components collapse to min-id keepers, chains included") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 → needs real iteration, not one-hop min),
    // pair 5-6, isolated 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val got = Dedup.clusterMap(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // empty pair set: everything keeps itself
    val solo = Dedup.clusterMap(ids, pairs.limit(0)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(solo == (1L to 7L).map(i => i -> i).toMap)
    // real pair set: keepers are component minima — cross-check against a
    // driver-side union-find over the same pairs
    val realPairs = Dedup.minhashNearDups(crafted, 0.5).select("a_id", "b_id")
    val pairList = realPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairList.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val gotReal = Dedup.clusters(realPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal == expected)
  }

  test("simhash near-dups: banding finds all pairs within hamming distance") {
    val sigs = crafted.collect().map(r => (r.getLong(0), Dedup.simhash(r.getString(1))))
    val brute = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "crafted data must contain simhash near-dups")
    val found = Dedup.simhashNearDups(crafted, 3).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == brute) // pigeonhole banding is exact for hamming <= chunks-1
  }

  test("lsh ann reaches >= 60% recall of exact top-10 while scoring fewer candidates") {
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"lsh recall $recall")
  }

  test("ann large-query fallback: beyond-threshold query sets plan shuffled joins, identical top-k") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1024") // 1 KB: any real query set exceeds it
    try {
      val queries = emb.filter(col("vec_id") < 64) // 64 x 64-float vectors >> 1 KB
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((name, run) <- Seq[(String, Option[Boolean] => org.apache.spark.sql.DataFrame)](
          "lsh" -> (b => Similarity.lshTopK(emb, queries, 10, broadcastQueries = b)),
          "ivf" -> (b => Similarity.ivfTopK(emb, queries, 10, broadcastQueries = b)))) {
        val shuffled = run(None) // auto: stats exceed the 1 KB threshold -> shuffle
        shuffled.collect()
        val p = shuffled.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$name: expected a shuffled join beyond the broadcast threshold:\n${p.take(900)}")
        assert(pairs(shuffled) == pairs(run(Some(true))),
          s"$name: shuffle and broadcast paths must return the same top-k")
      }
    } finally spark.conf.set(key, prev)
  }

  test("ann broadcast decision: stats fire no job, measuring does") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsDuring(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try { jobs.set(0); f; Thread.sleep(600); jobs.get } // listener posts async
      finally spark.sparkContext.removeSparkListener(listener)
    }
    // tier 1: an unfiltered small scan prices below the default 10 MB
    // threshold from catalog stats alone — PLAN CONSTRUCTION must fire no
    // Spark job (VERDICT r4 "what's wrong" #3: the old decision ran head(1)
    // + a full count() per call even when the join was about to run anyway)
    assert(jobsDuring { Similarity.lshTopK(emb, emb, 10); () } == 0,
      "stats-tier decision must not fire Spark jobs")

    // tier 2: under a 1 KB threshold the measured tier must run (bounded)
    // jobs
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1023")
    try {
      def construct(): Unit = { Similarity.lshTopK(emb, emb.filter(col("vec_id") < 48), 10); () }
      val first = jobsDuring(construct())
      assert(first >= 1, "measured tier should sample the query side once")
    } finally spark.conf.set(key, prev)
  }

  test("preassigned ivf (stored index) returns exactly the self-contained ivf top-k") {
    val queries = emb.filter(col("vec_id") < 8)
    val cents = Similarity.kmeansCentroids(emb)
    val assigned = graft.sources.SigTables.ivfAssigned(emb, cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("cent"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Similarity.ivfTopKPreassigned(assigned, cents, queries, 10)) ==
      pairs(Similarity.ivfTopK(emb, queries, 10)))
  }

  test("embedding near-dup LSH path is a subset of brute force with high recall at safe thresholds") {
    val brute = Dedup.embeddingNearDups(emb, 0.4).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDups(emb, 0.4).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // same exact cosine filter → no false positives
  }

  test("ivf ann: deterministic centroids, decent recall, subset of probed buckets") {
    val queries = emb.filter(col("vec_id") < 8)
    val c1 = Similarity.kmeansCentroids(emb)
    val c2 = Similarity.kmeansCentroids(emb)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) }) // bit-reproducible
    val exact = Similarity.bruteTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf recall $recall") // nprobe/nlist = 1/4 of the corpus probed
    assert(ivf.size <= exact.size)
  }

  test("kmeansCentroids of a table rewritten in the same session trains on its new rows") {
    // the rewritten path reads back under a plan equal to its first read's
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    graft.sources.Tables.writer(emb.filter(col("vec_id") < 100)).mode("overwrite").parquet(dir)
    val old = Similarity.kmeansCentroids(spark.read.parquet(dir))
    graft.sources.Tables.writer(emb.filter(col("vec_id") >= 100)).mode("overwrite").parquet(dir)
    val got = Similarity.kmeansCentroids(spark.read.parquet(dir))
    val fresh = Similarity.kmeansCentroids(emb.filter(col("vec_id") >= 100))
    def same(a: Array[Array[Float]], b: Array[Array[Float]]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    assert(!same(old, fresh), "the two tables must train different centroids")
    assert(same(got, fresh))
  }

  test("native cosine expression is bit-identical to the UDF and codegen'd") {
    import org.apache.spark.sql.functions.col
    val pairs = emb.alias("a").join(emb.alias("b"), col("a.vec_id") < col("b.vec_id")).limit(5000)
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
    val native = pairs.select(Dedup.cosineCol(col("x"), col("y"))).collect().map(_.getDouble(0))
    val viaUdf = pairs.select(Dedup.cosineUdfForTest(col("x"), col("y"))).collect().map(_.getDouble(0))
    assert(native.length == viaUdf.length && native.length > 0)
    native.zip(viaUdf).foreach { case (n, u) =>
      assert(java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(u))
    }
    // whole-stage codegen survives around the expression (no UDF boundary)
    val df = pairs.select(Dedup.cosineCol(col("x"), col("y")).as("c")).filter(col("c") > -2)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "expected whole-stage codegen span containing cosine_similarity")
  }

  test("fingerprints are deterministic and text-sensitive") {
    val fp1 = TextAnalysis.fingerprints(docs.limit(50)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextAnalysis.fingerprints(docs.limit(50)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
    assert(fp1.values.toSet.size == fp1.size) // distinct texts → distinct fingerprints
    assert(TextAnalysis.polyHash("abc") != TextAnalysis.polyHash("abd"))
    // winnow: identical prefix documents share fingerprints
    val w1 = TextAnalysis.winnow("the quick brown fox jumps over the lazy dog " * 10)
    val w2 = TextAnalysis.winnow("the quick brown fox jumps over the lazy dog " * 10 + "tail change")
    assert(w1.toSet.intersect(w2.toSet).size >= w1.length - 2)
  }

  test("multimodal: real container headers decode to the fields they encode") {
    // PNG: big-endian IHDR fields at their real offsets + CRC'd chunks
    val png = Multimodal.encodePng(320, 200, "pixels!".getBytes("UTF-8"))
    assert(png.take(8).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    val pm = Multimodal.decodeMedia(1L, png)
    assert(pm.media_type == "png" && pm.width == 320 && pm.height == 200 && pm.n_frames == 1)
    // the IHDR CRC is a real CRC32 over type+data (offset 29..32)
    val crc = new java.util.zip.CRC32
    crc.update(png, 12, 4 + 13)
    assert(java.nio.ByteBuffer.wrap(png, 29, 4).getInt == crc.getValue.toInt)

    // WAV: little-endian fmt fields; frame count = data bytes / block align
    val wav = Multimodal.encodeWav(channels = 2, sampleRate = 44100,
      payload = new Array[Byte](1003)) // truncates to 1000 = 250 frames of 4
    val wm = Multimodal.decodeMedia(2L, wav)
    assert(wm.media_type == "wav" && wm.sample_rate == 44100 && wm.n_frames == 250)

    // BMP: little-endian dims at offsets 18/22
    val bm = Multimodal.decodeMedia(3L, Multimodal.encodeBmp(48, 33, "px".getBytes("UTF-8")))
    assert(bm.media_type == "bmp" && bm.width == 48 && bm.height == 33)

    // the filter+deflate pipeline must round-trip even for incompressible
    // pixel data (a single deflate() call under-fills there — stored-block
    // overhead would silently truncate the stream)
    val rnd = new scala.util.Random(7L)
    val noisy = Array.fill(200 * 200 * 3)(rnd.nextInt().toByte)
    val png2 = Multimodal.encodePngPixels(200, 200, noisy)
    val back = Multimodal.decodePngPixels(png2)
    assert(back != null && back._1 == 200 && back._2 == 200 &&
      back._3.toSeq == noisy.toSeq, "scanlines must decode back to the raw pixels")

    // garbage never throws — one bad blob must not kill a stage
    assert(Multimodal.decodeMedia(4L, Array[Byte](1, 2, 3)).media_type == "unknown")
    assert(Multimodal.decodeMedia(5L, Array.empty[Byte]).media_type == "unknown")

    // distributed shape: encode + decode through the binary column round-trips
    val meta = Multimodal.decodeMeta(Multimodal.withPayload(docs)).collect()
    assert(meta.length == docs.count())
    assert(meta.forall(m => m.n_bytes > 0 && m.media_type != "unknown"))
    assert(meta.map(_.media_type).toSet == Set("png", "wav", "bmp"))
    assert(meta.filter(_.media_type == "wav").forall(m =>
      Set(8000, 16000, 22050, 44100).contains(m.sample_rate) && m.width == 0))
    assert(meta.filter(_.media_type != "wav").forall(m => m.n_frames == 1 && m.width >= 4))
  }

  test("hash split: deterministic, content-keyed, ~90/5/5") {
    val s1 = TextAnalysis.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = TextAnalysis.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2) // no RNG state — reruns agree exactly
    val n = s1.size.toDouble
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.12 && frac.getOrElse("test", 0.0) < 0.12)
    // content-keyed: identical text lands in the same split regardless of id
    import spark.implicits._
    val dup = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "text")
    assert(TextAnalysis.hashSplit(dup).select("split").distinct().count() == 1)
  }

  test("vocab histogram sums to total token occurrences") {
    val total = TextAnalysis.vocab(docs).agg(sum(col("cnt"))).collect()(0).getLong(0)
    val perDoc = TextAnalysis.quality(docs).agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(total == perDoc)
  }

  test("media transforms operate on real bytes: pixel-exact resize, frame-exact decimation") {
    // BMP 4x2 with per-pixel values encoding (x, y): nearest-neighbor to 2x1
    // must pick source pixels (0,0) and (2,0) exactly
    val rowSize = ((4 * 3 + 3) / 4) * 4 // 12, no padding
    val px = new Array[Byte](rowSize * 2)
    for (y <- 0 until 2; x <- 0 until 4) {
      val o = y * rowSize + x * 3
      px(o) = (10 * x).toByte; px(o + 1) = (10 * y + 1).toByte; px(o + 2) = 7.toByte
    }
    val bmp = {
      val bb = java.nio.ByteBuffer.allocate(54 + px.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + px.length)
        .putShort(0).putShort(0).putInt(54)
        .putInt(40).putInt(4).putInt(2).putShort(1).putShort(24).putInt(0)
        .putInt(px.length).putInt(2835).putInt(2835).putInt(0).putInt(0).put(px)
      bb.array()
    }
    val resized = Multimodal.resizeBmp(bmp, 2, 1)
    val rm = Multimodal.decodeMedia(9L, resized)
    assert(rm.media_type == "bmp" && rm.width == 2 && rm.height == 1)
    // output row: pixel 0 from source (0,0) = (0,1,7); pixel 1 from (2,0) = (20,1,7)
    val outPx = resized.drop(54)
    assert(outPx.take(6).toSeq == Seq[Byte](0, 1, 7, 20, 1, 7), outPx.take(6).toSeq)

    // WAV: 10 mono frames numbered 0..9, stride 4 → frames 0,4,8 at rate/4
    val frames = Array.tabulate(20)(i => (i / 2).toByte) // 16-bit: each frame = (n, n)
    val wav = Multimodal.encodeWav(1, 16000, frames)
    val sampled = Multimodal.sampleWavFrames(wav, 4)
    val sm = Multimodal.decodeMedia(10L, sampled)
    assert(sm.media_type == "wav" && sm.sample_rate == 4000 && sm.n_frames == 3)
    assert(sampled.drop(44).toSeq == Seq[Byte](0, 0, 4, 4, 8, 8))

    // feature extraction is integer-exact over the real bytes:
    // BMP channels: x in {0,10,20,30} (×2 rows), 10*y+1 in {1,11} (×4 each), 7 (×8)
    // sum = 2*(0+10+20+30) + 4*1 + 4*11 + 8*7 = 120+48+56 = 224; n = 24
    assert(Multimodal.featMilli(bmp) == 224L * 1000 / 24)
    // WAV sample j reads bytes (2j, 2j+1) = (j, j) → LE int16 value j*257
    val expectWav = (0 until 10).map(j => j * 257L).sum * 1000 / 10
    assert(Multimodal.featMilli(wav) == expectWav)
    // PNG: every pixel byte cycled from payload "x" (0x78 = 120) → mean
    // intensity 120 exactly, through the full inflate+unfilter path
    assert(Multimodal.featMilli(Multimodal.encodePng(8, 8, "x".getBytes("UTF-8"))) == 120000L)

    // PNG resize is pixel-exact: 4x2 image, per-pixel values encoding (x, y),
    // nearest-neighbor to 2x1 must pick source pixels (0,0) and (2,0)
    val pngRaw = new Array[Byte](4 * 2 * 3)
    for (y <- 0 until 2; x <- 0 until 4) {
      val o = (y * 4 + x) * 3
      pngRaw(o) = (10 * x).toByte; pngRaw(o + 1) = (10 * y + 1).toByte; pngRaw(o + 2) = 7.toByte
    }
    val pngResized = Multimodal.resizePng(Multimodal.encodePngPixels(4, 2, pngRaw), 2, 1)
    val prm = Multimodal.decodeMedia(14L, pngResized)
    assert(prm.media_type == "png" && prm.width == 2 && prm.height == 1)
    val prPx = Multimodal.decodePngPixels(pngResized)
    assert(prPx._3.toSeq == Seq[Byte](0, 1, 7, 20, 1, 7), prPx._3.toSeq)
  }

  test("png scanline filters: hand-computed fixtures per filter type + codec round trip") {
    // independently hand-computed filtered bytes (PNG 1.2 §6) for a 2x3
    // truecolor image, one row per filter type 0/4/3 — builds the file
    // WITHOUT pngFilterScanlines so decode is checked against the spec, not
    // against the encoder's own arithmetic
    val row0 = Array[Int](1, 2, 3, 5, 8, 13)    // filter 0 (None): stored as-is
    val row1 = Array[Int](2, 4, 6, 8, 10, 12)   // filter 4 (Paeth) over row0
    val row1Filt = Array[Int](1, 2, 3, 3, 2, 255)
    val row2 = Array[Int](4, 6, 8, 9, 12, 20)   // filter 3 (Average) over row1
    val row2Filt = Array[Int](3, 4, 5, 3, 4, 10)
    val filtered = (Array(0) ++ row0 ++ Array(4) ++ row1Filt ++ Array(3) ++ row2Filt)
      .map(_.toByte)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val zbuf = new Array[Byte](256)
    val zlen = deflater.deflate(zbuf)
    deflater.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(3)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.take(zlen)) ++ chunk("IEND", Array.empty)
    val decoded = Multimodal.decodePngPixels(png)
    assert(decoded != null && decoded._1 == 2 && decoded._2 == 3)
    assert(decoded._3.map(_ & 0xff).toSeq == (row0 ++ row1 ++ row2).toSeq)

    // encoder round trip per filter type: height 6 cycles y%5 through every
    // filter (incl. Sub and Up which the fixture above doesn't pin)
    val rnd = new scala.util.Random(11L)
    val raw = Array.fill(3 * 6 * 3)(rnd.nextInt().toByte)
    val rt = Multimodal.decodePngPixels(Multimodal.encodePngPixels(3, 6, raw))
    assert(rt != null && rt._3.toSeq == raw.toSeq)

    // multiple IDAT chunks: the spec allows the zlib stream to split at any
    // byte boundary — the decoder must concatenate before inflating
    val z = zbuf.take(zlen)
    val split = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", z.take(3)) ++ chunk("IDAT", z.drop(3)) ++
      chunk("IEND", Array.empty)
    val splitDecoded = Multimodal.decodePngPixels(split)
    assert(splitDecoded != null && splitDecoded._3.toSeq == decoded._3.toSeq,
      "split IDAT stream must decode identically")

    // fuzz: arbitrary byte soup (including soup behind a valid signature and
    // IHDR) must return null or pixels — never throw, hang, or over-allocate
    val fuzzRnd = new scala.util.Random(99L)
    for (_ <- 1 to 300) {
      val n = fuzzRnd.nextInt(200)
      val soup = Array.fill(n)(fuzzRnd.nextInt().toByte)
      Multimodal.decodePngPixels(soup) // must simply not throw
      val headed = png.take(33) ++ soup
      Multimodal.decodePngPixels(headed)
      Multimodal.decodeMedia(0L, soup)
      Multimodal.featMilli(soup)
    }

    // corrupt/unsupported PNGs: null, never a throw or unbounded alloc
    assert(Multimodal.decodePngPixels(png.take(40)) == null)          // truncated
    val bomb = png.clone                                              // giant IHDR dims
    java.nio.ByteBuffer.wrap(bomb, 16, 8).putInt(0x7fffffff).putInt(0x7fffffff)
    assert(Multimodal.decodePngPixels(bomb) == null)
    val zeroIdat = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IEND", Array.empty)               // no IDAT
    assert(Multimodal.decodePngPixels(zeroIdat) == null)
    val garbageIdat = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", Array[Byte](1, 2, 3, 4)) ++ chunk("IEND", Array.empty)
    assert(Multimodal.decodePngPixels(garbageIdat) == null)           // bad zlib
  }

  test("corrupt media payloads never hang, throw, or read out of bounds") {
    // RIFF chunk declaring size -8: without the walk guard `off` stays
    // stationary and the executor thread spins forever (ADVICE r3)
    val evil = {
      val bb = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      bb.put("junk".getBytes("US-ASCII")).putInt(-8)
      bb.array()
    }
    assert(Multimodal.decodeMedia(11L, evil).media_type == "wav") // terminates
    assert(Multimodal.featMilli(evil) == -1L)
    assert(Multimodal.sampleWavFrames(evil, 4).length >= 44) // empty but valid re-encode

    // truncated WAV: the data chunk's declared size overruns the payload —
    // must not arraycopy past the end
    val truncWav = Multimodal.encodeWav(1, 16000, Array.tabulate(200)(_.toByte)).take(50)
    assert(Multimodal.decodeMedia(12L, truncWav).n_frames == 0)
    assert(Multimodal.featMilli(truncWav) == -1L)
    assert(Multimodal.sampleWavFrames(truncWav, 4).length >= 44)

    // truncated BMP: header claims 40x40 but the pixel rows are missing
    val truncBmp = Multimodal.encodeBmp(40, 40, "payload".getBytes("UTF-8")).take(100)
    assert(Multimodal.decodeMedia(13L, truncBmp).media_type == "bmp") // header parses
    assert(Multimodal.featMilli(truncBmp) == -1L)
    assert(Multimodal.resizeBmp(truncBmp, 2, 2) == null)

    // Int-overflow guards (code-review r4): near-MaxInt declared sizes must
    // not wrap the bounds arithmetic negative and slip past the guards
    val evilRiff = {
      val bb = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      bb.put("data".getBytes("US-ASCII")).putInt(0x7ffffff0)
      bb.array()
    }
    assert(Multimodal.decodeMedia(15L, evilRiff).n_frames == 0)
    assert(Multimodal.featMilli(evilRiff) == -1L)
    assert(Multimodal.sampleWavFrames(evilRiff, 4).length >= 44)
    val evilPngChunk = {
      val base = Multimodal.encodePng(1, 1, "x".getBytes("UTF-8"))
      val bb = java.nio.ByteBuffer.allocate(41 + 8)
      bb.put(base, 0, 33) // sig + IHDR
      bb.putInt(0x7ffffff0).put("IDAT".getBytes("US-ASCII"))
      bb.array()
    }
    assert(Multimodal.decodePngPixels(evilPngChunk) == null)
    assert(Multimodal.featMilli(evilPngChunk) == -1L)
    val evilBmp = {
      val bb = java.nio.ByteBuffer.allocate(100).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(100).putShort(0).putShort(0).putInt(54)
        .putInt(40).putInt(800000000).putInt(1) // w*3 wraps Int negative
        .putShort(1).putShort(24).putInt(0)
      bb.array()
    }
    assert(Multimodal.featMilli(evilBmp) == -1L)
    assert(Multimodal.resizeBmp(evilBmp, 2, 2) == null)

    // corrupt fmt chunk: channels=0 but blockAlign=2 (ADVICE r4) — frames>0
    // is derived from the file's blockAlign, then a zero-channel re-encode
    // would divide by blockAlign = channels*2 = 0. Must be null, not a throw.
    val zeroChanWav = {
      val bb = java.nio.ByteBuffer.allocate(52).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(44).put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(0)      // PCM, channels = 0
        .putInt(16000).putInt(0)
        .putShort(2).putShort(16)     // blockAlign = 2 (inconsistent)
        .put("data".getBytes("US-ASCII")).putInt(4).putInt(0x01020304)
      bb.array()
    }
    assert(Multimodal.sampleWavFrames(zeroChanWav, 4) == null)
  }

  test("language id picks the language with most stopword hits, deterministic ties") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on the mat and it is a good day for the cat"),
      (2L, "der hund und die katze das ist nicht ein problem mit der zeit"),
      (3L, "le chat est dans la maison et les enfants dans une chambre pour que"),
      (4L, "el perro y el gato es un animal en la casa por para los dos"),
      (5L, "xyzzy plugh qwerty asdf")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(samples).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("token counts: ws vs bpe-ish segmentation") {
    import spark.implicits._
    val d = Seq((1L, "hello world, 42 times!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d).collect()(0)
    assert(r.getInt(1) == 4) // ws tokens
    assert(r.getInt(2) == 6) // hello / world / "," / 42 / times / "!"
  }
}
