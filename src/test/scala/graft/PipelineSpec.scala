package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.pipeline._

/** Mechanism tests for the pipeline operators: planted near-duplicates must be
  * found by MinHash-LSH / SimHash / n-gram Jaccard; LSH similarity must recall
  * most of brute-force top-k.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  val sf = "/root/testdata/sf0.001"

  /** The Spark jobs and submitted stages that `f` starts. */
  private def jobsAndStages(f: => Any): (Int, Int) = {
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, stages.get)
  }

  /** Synthetic documents dir with planted near-dups (ids 9001~9002, 9003~9004)
    * and an exact dup (9005==9006). */
  lazy val plantedDir: String = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12
    val nearA = base + "lambda mu nu xi"
    val nearB = base + "lambda mu nu omicron" // differs in last word
    val farC = "completely different words entirely unrelated content here " * 10
    val farD = "yet another disjoint vocabulary nothing shared with others " * 10
    val rows = Seq(
      (9001L, nearA, "en", "srcA", nearA.length.toLong),
      (9002L, nearB, "en", "srcA", nearB.length.toLong),
      (9003L, farC, "en", "srcA", farC.length.toLong),
      (9004L, farD, "en", "srcA", farD.length.toLong),
      (9005L, base, "en", "srcA", base.length.toLong),
      (9006L, base, "en", "srcA", base.length.toLong))
    val dir = "/tmp/graft_planted"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("decontaminate flags corpus docs overlapping the eval set; short docs don't crash") {
    import spark.implicits._
    val leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12
    val corpus = Seq(
      (1L, leaked + "plus a training tail here", "en", "srcA", 1L),
      (2L, "completely different words entirely unrelated content here " * 10, "en", "srcA", 1L),
      (3L, "tiny doc", "en", "srcA", 1L)) // < 8 words: zero shingles, no crash
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val evalSet = Seq((100L, leaked, "en", "eval", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flagged = Dedup.decontaminate(corpus, evalSet, n = 8, threshold = 0.05)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("overlap")).toMap
    assert(flagged.contains(1L), s"leaked doc not flagged: $flagged")
    assert(flagged(1L) > 0.5) // most of doc 1's DISTINCT 8-grams come from the
    // eval doc (the repeated base phrase dedups to few distinct grams, so the
    // novel tail weighs more than its share of the raw text)
    assert(!flagged.contains(2L) && !flagged.contains(3L))
  }

  test("exact dedup clusters byte-identical texts") {
    val r = Dedup.exact(spark, plantedDir).filter(col("n") > 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 2 && r.head.getAs[Long]("keep") == 9005L)
  }

  test("minhash-lsh finds planted near-dups and exact dups, not far pairs") {
    val pairs = Dedup.minhashLsh(spark, plantedDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((9001L, 9002L)), s"missing near-dup pair: ${keys.mkString(",")}")
    assert(keys.contains((9005L, 9006L)))
    assert(!keys.exists(p => p._1 == 9003L || p._2 == 9003L && p._1 != 9003L))
    val j12 = pairs.find(p => (p._1, p._2) == (9001L, 9002L)).get._3
    assert(j12 > 0.8) // shingle sets differ only near the tail
    assert(pairs.find(p => (p._1, p._2) == (9005L, 9006L)).get._3 == 1.0)
  }

  test("simhash: identical texts same signature; near-dups close in hamming") {
    val sigs = Dedup.simhash(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(9005L) == sigs(9006L))
    val hamNear = java.lang.Long.bitCount(sigs(9001L) ^ sigs(9002L))
    val hamFar = java.lang.Long.bitCount(sigs(9001L) ^ sigs(9003L))
    assert(hamNear < hamFar)
    val pairs = Dedup.simhashPairs(spark, plantedDir, maxHam = math.max(3, hamNear))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((9005L, 9006L)))
  }

  test("ngram jaccard finds planted pair within blocks") {
    val pairs = Dedup.ngramJaccard(spark, plantedDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((9001L, 9002L)))
    assert(pairs.contains((9005L, 9006L)))
  }

  test("ngram jaccard hot-block guard: oversized blocks excluded and routed") {
    import spark.implicits._
    // 12 identical docs flood one (source, length-bucket) block — the
    // degenerate case whose within-block join is quadratic; 2 near-identical
    // docs in another source stay under the cap
    val hotText = "the quick brown fox jumps over the lazy dog again and again"
    val okA = "some other small block content that pairs up nicely here"
    val okB = "some other small block content that pairs up nicely there"
    val rows = (1L to 12L).map(i => (i, hotText, "en", "hot", hotText.length.toLong)) ++
      Seq((101L, okA, "en", "cold", okA.length.toLong),
        (102L, okB, "en", "cold", okB.length.toLong))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    // identical n_chars → the hot source floods BOTH of its staggered buckets
    val over = Dedup.ngramOversizedBlocks(d, maxBlockDocs = 8).collect()
    assert(over.length == 2, over.mkString(","))
    assert(over.forall(r => r.getAs[String]("source") == "hot" &&
      r.getAs[Long]("bn") == 12L))
    // capped: none of the 66 hot-block pairs survive; the cold pair does
    val capped = Dedup.ngramJaccardOf(d, threshold = 0.5, maxBlockDocs = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)), capped.toString)
    // lifting the cap brings the hot block's pairwise join back (66 = C(12,2))
    val uncapped = Dedup.ngramJaccardOf(d, threshold = 0.5, maxBlockDocs = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 66 + 1, uncapped.size.toString)
  }

  test("ngram jaccard: pair survives via staggered block when its primary block is oversized") {
    import spark.implicits._
    // three docs share primary length bucket 0..63 (block size 3 > cap 2 →
    // primary block dropped); two of them also share the staggered bucket
    // (n_chars in [32, 63] → floor((n+32)/64) = 1), which has only 2 members
    // and survives. The emit-once guard must emit the pair from the
    // staggered block — the r15 pb guard silently lost it (x.pb === y.pb
    // suppressed the staggered row while the primary row never existed).
    val t1 = "shared near duplicate content block one"
    val t2 = "shared near duplicate content block two"
    val t3 = "tiny text"
    val d = Seq(
      (1L, t1, "en", "hot", 40L),
      (2L, t2, "en", "hot", 44L),
      (3L, t3, "en", "hot", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // primary block (hot, 0) holds all 3 docs → oversized at cap 2
    val over = Dedup.ngramOversizedBlocks(d, maxBlockDocs = 2).collect()
    assert(over.map(r => r.getAs[Int]("lenb")).toSet == Set(0), over.mkString(","))
    val rows = Dedup.ngramJaccardOf(d, threshold = 0.4, maxBlockDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // recovered from the staggered block, and emitted exactly once
    assert(rows.toSeq == Seq((1L, 2L)), rows.mkString(","))
    // with the cap lifted the same single pair comes from the primary block
    val unc = Dedup.ngramJaccardOf(d, threshold = 0.4, maxBlockDocs = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(unc.toSeq == Seq((1L, 2L)), unc.mkString(","))
  }

  test("ngram jaccard: a primary bucket numbered 1,000,000 is still a primary block") {
    import spark.implicits._
    // two identical texts; n_chars 64000010 puts the primary bucket at
    // 1,000,000, the number a staggered bucket once carried as an offset
    val t = "identical short text"
    for (nChars <- Seq(100L, 64000010L)) {
      val d = Seq((1L, t, "en", "s", nChars), (2L, t, "en", "s", nChars))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val rows = Dedup.ngramJaccardOf(d, threshold = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 2L, 1.0)), s"n_chars=$nChars: ${rows.mkString(",")}")
    }
  }

  test("lsh similarity recalls most of brute-force top-5") {
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall") // random gaussian corpus: neighbors are weak
  }

  test("dedup clustering: near-dup pairs collapse to one representative per cluster") {
    val clusters = Dedup.dedupClusters(spark, plantedDir, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 9001/9002 are base+tail variants of 9005(=9006), so all four form ONE
    // transitive component (that's the point of clustering over pairs);
    // 9003/9004 are unrelated and stay out
    assert(Set(9001L, 9002L, 9005L, 9006L).forall(d => clusters(d) == 9001L),
      clusters.toString)
    assert(!clusters.contains(9003L) && !clusters.contains(9004L),
      "unrelated docs must not join any cluster")
    // drop set = clustered docs that are not their cluster's representative
    val drop = clusters.collect { case (d, k) if d != k => d }.toSet
    assert(drop == Set(9002L, 9005L, 9006L))
  }

  test("ivf similarity recalls most of brute-force top-5") {
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(spark, sf, nLists = 8, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    // probing 4 of 8 lists scans ~half the corpus: recall should beat LSH
    assert(recall >= 0.5, s"recall $recall")
  }

  test("fingerprint is deterministic and separates texts") {
    val fp = TextStats.fingerprint(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(9005L) == fp(9006L))
    assert(fp(9001L) != fp(9003L))
    val fp2 = TextStats.fingerprint(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == fp2)
    // the declared recurrence h = h*base + c (mod 2^61-1), checked against a
    // BigInt reference — locks the Long-only Mersenne mulmod (and thereby the
    // DuckDB HUGEINT oracle) to the true modular arithmetic
    val docsDf = spark.read.parquet(s"$plantedDir/documents.parquet")
      .select("doc_id", "text").collect()
    val MOD = BigInt("2305843009213693951")
    for (r <- docsDf.take(20)) {
      val expect = r.getString(1).toLowerCase.foldLeft(BigInt(0)) {
        (h, c) => (h * 1000003 + c.toInt) mod MOD
      }
      assert(BigInt(fp(r.getLong(0))) == expect,
        s"doc ${r.getLong(0)}: fingerprint diverges from BigInt reference")
    }
  }

  test("ppm decode: header round-trips, corrupt payloads rejected") {
    val recs = Multimodal.ppmRecords(spark, sf).collect()
    recs.take(5).foreach { r =>
      val img = Multimodal.decodePpm(r.doc_id, r.payload)
      // dimensions decoded FROM the payload: header text must round-trip them
      val s = new String(r.payload.take(20), "US-ASCII")
      assert(s.startsWith(s"P6\n${img.width} ${img.height}\n255\n"))
      // raster length consistent with the decoded dimensions
      assert(r.payload.length ==
        s"P6\n${img.width} ${img.height}\n255\n".length + img.width * img.height * 3)
      assert(img.channels == 3 && img.mean_px > 0 && img.mean_px < 255)
    }
    // corrupt: truncated raster must be rejected, not silently mis-decoded
    val bad = recs.head.payload.dropRight(1)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(0L, bad)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(0L, "P5\n2 2\n255\n".getBytes("US-ASCII"))
    }
  }

  test("png/jpeg decode via ImageIO: png stats match the ppm decode, corrupt rejected") {
    // PNG is lossless: the decoded stats must equal the PPM decoder's on the
    // same cyclic raster rule (same dims, same mean)
    val ppm = Multimodal.ppmFeatures(spark, sf).collect()
      .map(i => i.doc_id -> i).toMap
    Multimodal.pngFeatures(spark, sf).collect().take(500).foreach { i =>
      val p = ppm(i.doc_id)
      assert((i.width, i.height, i.channels, i.mean_px) ==
        (p.width, p.height, p.channels, p.mean_px),
        s"doc ${i.doc_id}: PNG decode diverges from PPM reference")
    }
    // JPEG is lossy: structural outputs still exact
    Multimodal.jpegFeatures(spark, sf).collect().take(5).foreach { d =>
      val p = ppm(d.doc_id)
      assert((d.width, d.height, d.channels) == (p.width, p.height, p.channels))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(0L, "not an image at all".getBytes)
    }
  }

  test("wav decode: chunk structure round-trips, corrupt payloads rejected") {
    val recs = Multimodal.wavRecords(spark, sf).collect()
    recs.take(5).foreach { r =>
      val a = Multimodal.decodeWav(r.doc_id, r.payload)
      assert(a.sample_rate == 8000 && a.n_samples == r.payload.length - 44)
      assert(a.duration_ms == a.n_samples * 1000 / 8000)
      assert(a.mean_amp > 0 && a.mean_amp < 255)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(0L, recs.head.payload.dropRight(1)) // truncated
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(0L, "OggS but not a wav at all........".getBytes)
    }
  }

  test("multimodal features deterministic and consistent with payload size") {
    val f = Multimodal.features(spark, sf).collect()
    assert(f.length == 500)
    assert(f.forall(x => x.width >= 64 && x.width < 640 && x.channels == 3))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f.forall(x => x.n_bytes == docs(x.doc_id)))
  }

  test("sessionize totals match event count") {
    val s = EventsOps.sessionize(spark, sf)
    val total = s.agg(sum("n_events")).first().getLong(0)
    assert(total == 1000L)
    assert(s.filter(col("n_sessions") < 1).count() == 0)
  }

  test("embedding near-dup pairs: all planted pairs found, no false positives") {
    val planted = Similarity.plantNearDups(Similarity.emb(spark, sf), n = 20)
    val pairs = Similarity.nearDupPairsOf(planted, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing planted pairs: ${(expected -- pairs).mkString(",")}")
    // the synthetic corpus has no natural pairs at cos >= 0.9 (max ≈ 0.6)
    assert(pairs == expected, s"unexpected extra pairs: ${(pairs -- expected).mkString(",")}")
  }

  /** Planted-positive ANN dir: every query (vec_id < 10) has a twin at
    * vec_id + 1000000 with cosine ≈ 0.999 — far above the corpus's natural
    * max (~0.6), so the twin IS the true nearest neighbor. */
  lazy val plantedEmbDir: String = {
    val dir = "/tmp/graft_planted_emb"
    Similarity.plantNearDups(Similarity.emb(spark, sf), n = 10)
      .select(col("vec_id"), col("e").cast("array<float>").as("embedding"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("lsh top-k retrieves planted true-nearest twins (recall >= 0.9)") {
    val got = Similarity.lshTopK(spark, plantedEmbDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = (0L until 10L).count(q => got.contains((q, q + 1000000L)))
    assert(hit >= 9, s"planted twins found for only $hit/10 queries")
  }

  test("ivf top-k retrieves planted true-nearest twins (recall >= 0.9)") {
    val got = Similarity.ivfTopK(spark, plantedEmbDir, nLists = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = (0L until 10L).count(q => got.contains((q, q + 1000000L)))
    assert(hit >= 9, s"planted twins found for only $hit/10 queries")
  }

  test("boilerplate: repeated block flagged across docs, unique text is not") {
    import spark.implicits._
    val block = "this boilerplate footer repeats on every single page of the site "
    val rows = (1L to 6L).map(i =>
      (i, block + s"unique tail $i with distinct words number $i only", "en", "srcA", 1L)) :+
      ((7L, "entirely unique document with no shared content at all here today now", "en", "srcA", 1L))
    val bp = Dedup.boilerplate(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"), n = 8, minDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bp_frac")).toMap
    assert(!bp.contains(7L), "unique doc flagged as boilerplate")
    (1L to 6L).foreach(i => assert(bp.getOrElse(i, 0.0) > 0.2,
      s"doc $i boilerplate fraction too low: ${bp.get(i)}"))
  }

  test("domain mixture: shares sum to 1, uniform target weights invert shares") {
    val m = Curation.domainMixture(spark, sf).collect()
    val shares = m.map(_.getAs[Double]("natural_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-3)
    // weight * natural_share == target share (uniform): constant across sources
    val prods = m.map(r => r.getAs[Double]("weight") * r.getAs[Double]("natural_share"))
    assert(prods.max - prods.min < 1e-2, s"non-uniform target: ${prods.mkString(",")}")
  }

  test("vocab top-k: ranked by count desc, counts match a direct recount") {
    val v = TextStats.vocabTopK(spark, sf, k = 20).collect()
      .sortBy(_.getAs[Long]("rk"))
    assert(v.length == 20)
    val cnts = v.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "not sorted")
    val top = v.head
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === top.getString(0)).count()
    assert(direct == top.getAs[Long]("cnt"))
  }

  test("pq top-k retrieves planted true-nearest twins") {
    val got = Similarity.pqTopK(spark, plantedEmbDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = (0L until 10L).count(q => got.contains((q, q + 1000000L)))
    // PQ is the coarsest index here (16 codewords / 8-dim subspace): allow
    // one quantization miss where LSH/IVF demand >= 9
    assert(hit >= 8, s"planted twins found for only $hit/10 queries")
  }

  test("funnel: purchase implies click (staged ordering), viewers all present") {
    val f = EventsOps.funnel(spark, sf)
    assert(f.filter(col("purchased") && !col("clicked")).count() == 0,
      "a purchase cannot complete the funnel without the click stage")
    val viewers = EventsOps.events(spark, sf)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(f.count() == viewers)
  }

  test("retention: offset-0 equals cohort size, later offsets never exceed it") {
    val r = EventsOps.retention(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val cohorts = r.keys.map(_._1).toSet
    cohorts.foreach { c =>
      val base = r((c, 0L)) // every user is active in their own first week
      r.foreach { case ((c2, off), n) if c2 == c && off > 0 =>
        assert(n <= base, s"cohort $c offset $off: $n > $base")
      case _ => ()
      }
    }
  }

  test("range search: planted twins returned, cut respected") {
    val got = Similarity.rangeSearch(spark, plantedEmbDir, minCos = 0.3)
    assert(got.filter(col("cos") < 0.3).count() == 0)
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach(q => assert(pairs.contains((q, q + 1000000L)),
      s"twin of query $q missing"))
  }

  test("trigram langid: separates english, german, french sample texts") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the quick brown fox is running to the house of the king and the queen", "x", "s", 1L),
      (2L, "der schnelle braune fuchs und das kleine kind sind nicht in der schule", "x", "s", 1L),
      (3L, "le renard brun et rapide est dans la maison avec les enfants du roi", "x", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_langid"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.langidNgram(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr"), s"got $got")
  }

  test("hash split: total partition, duplicates co-assigned, deterministic") {
    val s = Curation.hashSplit(spark, sf)
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(s.count() == n) // every doc assigned exactly once
    assert(s.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "valid", "test")))
    // content-hash property: byte-identical texts land in the same split
    val sp = Curation.hashSplit(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sp(9005L) == sp(9006L), "exact dups split apart (leakage)")
    // deterministic across evaluations
    assert(Curation.hashSplit(spark, sf).exceptAll(s).count() == 0)
  }

  test("stratified sample: exactly k per stratum, members of the stratum") {
    val k = 8
    val s = Curation.stratifiedSample(spark, sf, k)
    val perSrc = s.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc.keySet == sizes.keySet)
    perSrc.foreach { case (src, c) => assert(c == math.min(k.toLong, sizes(src))) }
    assert(s.filter(col("rk") < 1 || col("rk") > k).count() == 0)
  }

  test("sequence packing: chunk math consistent with per-stream running sums") {
    val budget = 256
    val p = Curation.packChunks(spark, sf, budget)
    // offsets stay inside the chunk; spans iff the doc crosses the boundary
    assert(p.filter(col("chunk_off") < 0 || col("chunk_off") >= budget).count() == 0)
    assert(p.filter(col("spans") =!=
      (col("chunk_off") + col("n_tokens") > budget)).count() == 0)
    // stream totals: last doc's start offset + its tokens == stratum token sum
    import org.apache.spark.sql.expressions.Window
    val last = p.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("doc_id").desc))).filter(col("rn") === 1)
      .select(col("source"),
        (col("chunk_id") * budget + col("chunk_off") + col("n_tokens")).as("end"))
    val tot = p.groupBy("source").agg(sum("n_tokens").as("t"))
    assert(last.join(tot, "source").filter(col("end") =!= col("t")).count() == 0)
  }

  test("as-of join: each purchase matched to the latest strictly-earlier view") {
    val got = EventsOps.asofJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
      .toMap
    // recompute naively from the raw events
    val e = EventsOps.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val views = e.filter(_._3 == "view").groupBy(_._2)
    val purchases = e.filter(_._3 == "purchase")
    var matched = 0
    purchases.foreach { case (id, u, _, ts) =>
      val prior = views.getOrElse(u, Array.empty).map(_._4).filter(_.before(ts))
      if (prior.nonEmpty) {
        matched += 1
        val expect = prior.max
        assert(got(id) == ((u, ts, expect)), s"purchase $id: ${got.get(id)} vs $expect")
      } else assert(!got.contains(id), s"purchase $id should drop (no prior view)")
    }
    assert(got.size == matched && matched > 0)
  }

  test("anomalies: every flagged event is >=3 sigma from its type mean") {
    val flagged = EventsOps.anomalies(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(flagged.nonEmpty)
    assert(flagged.forall(f => math.abs(f._4) >= 3000000L))
    // recompute per-type stats naively; flagged values must truly be outliers
    val all = EventsOps.events(spark, sf).select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    val byType = all.groupBy(_._1).map { case (t, vs) =>
      val xs = vs.map(_._2)
      val mu = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.length)
      t -> (mu, sd)
    }
    flagged.foreach { case (t, _, v, _) =>
      val (mu, sd) = byType(t)
      assert(math.abs(v - mu) / sd >= 2.9, s"$t value $v not an outlier")
    }
  }

  test("as-of join plan: pushed type filter, pruned scan, exactly one exchange") {
    val plan = EventsOps.asofJoin(spark, sf).queryExecution.executedPlan.toString
    // the filter must reach the parquet scan and the scan must not read
    // value/props; the whole operator is ONE hash exchange on user_id
    assert(plan.contains("PushedFilters: [In(event_type"), plan.take(2000))
    assert(!plan.contains("value"), "scan should prune unused columns")
    val exchanges = plan.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly 1 exchange, plan:\n${plan.take(3000)}")
  }

  test("quality filter: ONE documents scan, zero keyed exchanges, matches join-shape stats") {
    val df = TextStats.qualityFilter(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n${plan.take(3000)}")
    // the 100 TB shape claim: no KEYED (hash/range) exchange anywhere — the
    // only permissible exchange is Par.spread's small-input round-robin,
    // which disappears by its own size gate at scale
    assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
      s"quality filter must be map-side only:\n${plan.take(3000)}")
    // differential vs the oracle-checked multi-scan components: the in-row
    // sorted-run top-2-gram max must equal repetition()'s explode+groupBy max
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val old = TextStats.tokens(spark, sf).select(col("doc_id"), col("n_tokens"))
      .join(TextStats.quality(spark, sf).select(
        col("doc_id"), col("stop_ratio"), col("type_token")), "doc_id")
      .join(TextStats.repetition(spark, sf).select(
        col("doc_id"), col("top2_frac")), "doc_id")
      .collect().map { r =>
        val n = r.getLong(1)
        val reason =
          if (n < 20) "too_short" else if (n > 100000) "too_long"
          else if (r.getDouble(2) < 0.01) "low_stopword"
          else if (r.getDouble(3) < 0.45) "low_diversity"
          else if (r.getDouble(4) > 0.15) "repetitive" else "ok"
        r.getLong(0) -> (n, reason)
      }.toMap
    assert(old.nonEmpty && old.forall { case (id, v) => got.get(id).contains(v) },
      "single-scan quality filter diverges from the join-shape components")
  }

  test("chunk→dedup→pack chain: shard-parallel prefix sum, no per-source serial window") {
    val df = Curation.chunkPack(spark, sf)
    // collect FIRST so AQE finalizes the plan (stage reuse is decided at run
    // time); then pin the executed shape
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the pack window must be SHARDED — partitioned by (source, shard), never
    // by source alone (a per-source window = one multi-TB task per source at
    // 100 TB); the range exchange is what makes the sharding order-preserving
    val packWindows = plan.split("\n").filter(l =>
      l.contains("windowspecdefinition(source") && l.contains("sum(n_tok"))
    assert(packWindows.nonEmpty && packWindows.forall(_.contains("__graft_shard")),
      s"pack running sum must window on (source, __graft_shard):\n${plan.take(3000)}")
    assert(plan.contains("Exchange rangepartitioning(source"),
      s"shard assignment must be an order-preserving range exchange:\n${plan.take(3000)}")
    // the corpus is READ once: the sharded frame is scratch-persisted, so
    // BOTH the offsets branch and the data branch read ONE cached relation
    // and the (boundary-sampling) range exchange runs only inside the cache
    // build — the r15 shape planned the branches as two scans + two range
    // exchanges. Walk the executed TREE (cache scans are leaves there, so
    // the cache-build subtree is naturally excluded — its text rendering
    // repeats per scan and cannot be string-counted):
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val outer = PlanShape.nodes(df.queryExecution.executedPlan)
    val outerRange = outer.collect { case e: ShuffleExchangeExec
      if e.outputPartitioning.toString.contains("range") => e }
    assert(outerRange.isEmpty,
      s"data/offsets branches must read the cached sharded frame, not re-run " +
        s"the range exchange; found $outerRange:\n${plan.take(3000)}")
    assert(PlanShape.of(df.queryExecution.executedPlan).cachedScans > 0,
      s"sharded frame must be read through the scratch cache:\n${plan.take(3000)}")
    // semantics: every chunk_hash appears once; pack offsets are consistent
    // (each source stream's cumulative token count reproduces pack_id/pack_off)
    val hashes = rows.map(_.getString(4))
    assert(hashes.distinct.length == hashes.length, "dedup must leave unique chunk hashes")
    rows.groupBy(_.getString(2)).foreach { case (_, rs) =>
      var cum = 0L
      rs.sortBy(r => (r.getLong(0), r.getLong(1))).foreach { r =>
        assert(r.getLong(5) == cum / 256 && r.getLong(6) == cum % 256,
          s"pack bookkeeping off at doc ${r.getLong(0)} chunk ${r.getLong(1)}")
        cum += r.getLong(3)
      }
    }
  }

  test("BPE merges: greedy left-to-right semantics, deterministic ties, corpus learnability") {
    import spark.implicits._
    // 'aaa' pins the non-overlap rule: pairs of 'aaa' are (a,a)×2, so merge 1
    // is (a,a); greedy application turns 'aaa' into (aa, a) — NOT (a, aa) and
    // NOT (aa, aa with a shared middle) — so merge 2 must be (aa, a)
    val dir = "/tmp/graft_bpe"
    Seq((1L, "aaa aaa", "en", "s", 7L), (2L, "aaa bb", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = Tokenizer.bpeMerges(spark, dir, nMerges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // counts: (a,a) = 2 pairs × 3 words of 'aaa' = 6; after merge (aa,a) = 3;
    // then (b,b) = 1 ties with nothing (aa+a merged next at 3)
    assert(m(0) == ((1L, "a", "a", 6L)), s"merge 1: ${m.toSeq}")
    assert(m(1) == ((2L, "aa", "a", 3L)), s"merge 2: ${m.toSeq}")
    // merges never cross word boundaries (the table is per-word): after
    // merges 1-2 every 'aaa' is one symbol with no internal pair, so the
    // only remaining pair is (b,b) from 'bb'
    assert(m(2) == ((3L, "b", "b", 1L)), s"merge 3: ${m.toSeq}")
    // apply side: doc 1 'aaa aaa' segments to 2 subwords (one per word); the
    // '|' word sentinel must block any cross-word merge
    val seg = Tokenizer.bpeSegmentCounts(spark, dir,
      Seq(("a", "a"), ("aa", "a"))).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(seg(1L) == 2L, s"doc 1 should segment to 2 subwords: $seg")
    assert(seg(2L) == 3L, s"doc 2 = aaa + b + b: $seg") // (b,b) never merged
    // EVEN runs pin true greedy (Sennrich) semantics: 'aaaa' merges to
    // (aa)(aa) — a single-space replace would under-merge the shared-boundary
    // run to (aa)(a)(a) and learn merge 2 = (a,a) again instead of (aa,aa)
    val dir2 = "/tmp/graft_bpe_even"
    Seq((1L, "aaaa aaaa", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val m2 = Tokenizer.bpeMerges(spark, dir2, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2(0) == ((1L, "a", "a", 6L)), s"even-run merge 1: ${m2.toSeq}")
    assert(m2(1) == ((2L, "aa", "aa", 2L)), s"even-run merge 2: ${m2.toSeq}")
    val seg2 = Tokenizer.bpeSegmentCounts(spark, dir2,
      Seq(("a", "a"), ("aa", "aa"))).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(seg2(1L) == 2L, s"'aaaa aaaa' must segment to one subword per word: $seg2")
    // corpus sanity at sf0.001: 8 merges learned, counts strictly ordered
    val real = Tokenizer.bpeMerges(spark, sf).collect().map(_.getLong(3))
    assert(real.length == 8 && real.zip(real.tail).forall { case (a, b) => a >= b },
      s"merge counts must be non-increasing: ${real.toSeq}")
    // realistic merge count: the loop is local after one |vocab| collect, so
    // hundreds of merges are driver-cheap (32k-scale trainability)
    // (the sf0.001 vocabulary exhausts its pairs before 256 — the loop must
    // drain gracefully and stay prefix-consistent with the 8-merge run)
    val big = Tokenizer.bpeMerges(spark, sf, nMerges = 256).collect()
    assert(big.length >= 64 && big.take(8).map(_.getLong(3)).toSeq ==
      real.toSeq, "first 8 of 256 merges must equal the 8-merge run")
  }

  test("DSIR weights: target-like docs score positive, disjoint-vocab docs negative") {
    import spark.implicits._
    // target source 'src0' has a distinctive vocabulary; doc 100 (different
    // source, same vocabulary) must score ABOVE doc 200 (disjoint vocabulary)
    val tgt = "quantum entangled qubits decohere rapidly under thermal noise "
    val other = "completely unrelated cooking recipes with butter and flour "
    val rows = (1L to 8L).map(i => (i, tgt * 4, "en", "src0", 1L)) ++ Seq(
      (100L, tgt * 4, "en", "srcX", 1L),
      (200L, other * 4, "en", "srcX", 1L))
    val dir = "/tmp/graft_dsir"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // buckets sized to the toy corpus: with B far above the target feature
    // count the add-one smoothing mass dominates and every ratio flattens
    // toward the corpus prior (at real scale N >> B and the default is fine)
    val w = Curation.dsirWeights(spark, dir, targetSource = "src0", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(100L) > 0, s"target-like doc must have positive log-ratio: $w")
    assert(w(200L) < 0, s"disjoint-vocab doc must have negative log-ratio: $w")
    assert(w(100L) > w(200L))
  }

  test("DSIR plan: map-side scoring pass — one scan, zero exchanges, no join") {
    // calling dsirWeights runs exactly ONE corpus-aggregating job (the fused
    // bucket-count collect: raw + target counts in one aggregate); the
    // returned SCORING frame is a pure map-side projection — the λ table
    // rides as a bucket-indexed array literal and the per-doc score is an
    // in-row integer fold, so the pass has no join, no explode shuffle, no
    // doc-keyed exchange, and nothing cached (r15: the r14 shape re-exploded
    // into a broadcast join + groupBy, one corpus-sized exchange)
    val df = Curation.dsirWeights(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1,
      s"scoring side must be one fresh corpus scan; got $scans:\n${plan.take(2000)}")
    assert(!plan.contains("InMemoryRelation") && !plan.contains("InMemoryTableScan"),
      s"exploded feature frame must not be cached:\n${plan.take(2000)}")
    // no KEYED exchange and no join — Par.spread's small-input round-robin
    // (gated away at scale) is the only exchange allowed in the scoring pass
    assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
      s"scoring pass must be shuffle-free:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"scoring pass must be join-free:\n${plan.take(2000)}")
  }

  test("pii redaction: emails/ips/phones replaced with typed placeholders") {
    val r = TextStats.piiRedact(spark, sf).collect()
    assert(r.length == 500)
    r.foreach { row =>
      val red = row.getString(4)
      // every derived doc carries exactly one of each PII kind; all scrubbed
      assert(row.getInt(1) == 1 && row.getInt(2) == 1 && row.getInt(3) == 1,
        s"counts off for ${row.getLong(0)}: $row")
      assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<PHONE>"))
      assert(!red.matches(".*[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}.*"),
        s"unredacted email survives: $red")
      assert(!red.matches(".*\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}.*"),
        s"unredacted ip survives: $red")
    }
  }

  test("tf-idf: corpus-wide token is never a top term, distinctive token is") {
    import spark.implicits._
    // 'common' appears in every doc (idf = ln(1) = 0); each doc has one
    // distinctive high-tf token that must rank first
    val rows = Seq(
      (1L, "common common rare1 rare1 rare1 filler1", "en", "s", 1L),
      (2L, "common common rare2 rare2 rare2 filler2", "en", "s", 1L),
      (3L, "common common rare3 rare3 rare3 filler3", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_tfidf"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = TextStats.tfidfTop(spark, dir, k = 3).collect()
    val got = top.map(r => (r.getLong(0), r.getLong(5)) -> r.getString(1)).toMap
    (1 to 3).foreach { d =>
      assert(got((d.toLong, 1L)) == s"rare$d", s"doc $d top term: $got")
      assert(got((d.toLong, 2L)) == s"filler$d", s"doc $d 2nd term: $got")
    }
    // ln(3/3)=0 for 'common': never outranks a distinctive term, score 0
    assert(top.filter(_.getString(1) == "common")
      .forall(r => r.getDouble(4) == 0.0 && r.getLong(5) == 3L))
  }

  test("semantic dedup: planted twins pruned to one representative, far vectors kept") {
    val r = Similarity.semDedup(spark, plantedEmbDir, tau = 0.9).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getBoolean(2))).toMap
    // planted twin (q, q+1000000) has cosine ~0.999: same cluster, lower id kept
    (0L until 10L).foreach { q =>
      assert(r(q)._2, s"original $q must be kept")
      if (r(q)._1 == r(q + 1000000L)._1)
        assert(!r(q + 1000000L)._2, s"twin of $q must be pruned")
    }
    // at tau=0.9 nothing in the base synthetic corpus (cos ceiling ~0.6) prunes
    assert(r.filter(_._1 < 1000000L).values.forall(_._2))
    // every vector is assigned and accounted for
    assert(r.size == Similarity.emb(spark, plantedEmbDir).count())
  }

  test("pagerank: leaves at base rank, rank flows orders->customers->nations->regions") {
    val r = GraphRank.pagerank(spark, sf).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // order nodes have no in-edges: rank = damped base exactly
    val (orders, regions) = (r.keys.filter(_.startsWith("o")), r.keys.filter(_.startsWith("r")))
    assert(orders.nonEmpty && orders.forall(o => r(o) == 150000L))
    // every region out-ranks every order leaf; total count = distinct nodes
    val maxLeaf = orders.map(r).max
    assert(regions.nonEmpty && regions.forall(g => r(g) > maxLeaf))
    assert(r.size == GraphRank.edges(spark, sf)
      .select(col("src").as("n")).union(
        GraphRank.edges(spark, sf).select(col("dst").as("n"))).distinct().count())
  }

  test("surprisal: rare-token doc scores higher than common-token doc") {
    import spark.implicits._
    val rows = Seq(
      (1L, "common common common common", "en", "s", 1L),
      (2L, "common common rareword unique", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_surprisal"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.surprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 == 4 && got(2L)._1 == 4)
    assert(got(2L)._2 > got(1L)._2, s"rare-token doc must be more surprising: $got")
    // doc of only the most common token: surprisal = ln(8/6) exactly
    assert(math.abs(got(1L)._2 - math.log(8.0 / 6.0)) < 1e-3)
  }

  test("perceptron classifier separates length classes on real corpus features") {
    val r = Curation.perceptronLengthClassifier(spark, sf).collect()
    val acc = r.count(_.getBoolean(3)).toDouble / r.length
    assert(acc >= 0.9, s"expected >=0.9 training accuracy, got $acc")
    // prediction is a pure function of the final weights: pred in {-1, 1}
    assert(r.forall(x => math.abs(x.getLong(2)) == 1L))
  }

  test("bm25: doc sharing the query's rare term outranks common-term-only doc") {
    import spark.implicits._
    val rows = Seq(
      (0L, "zebra common common", "en", "s", 1L), // the query doc
      (1L, "zebra common filler filler", "en", "s", 1L), // shares rare 'zebra'
      (2L, "common common filler filler", "en", "s", 1L), // shares only 'common'
      (3L, "nothing shared here at all", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_bm25"
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Retrieval.bm25TopK(spark, dir, nQueries = 1, k = 3).collect()
      .map(r => r.getLong(3) -> r.getLong(1)).toMap
    assert(got(1L) == 1L, s"rank-1 must be the zebra doc: $got")
    assert(got(2L) == 2L, s"rank-2 must be the common-term doc: $got")
    assert(!got.values.toSet.contains(3L), "doc with no shared term must not score")
  }

  test("hybrid rrf: item ranked top in both lists fuses to rank 1") {
    val r = Retrieval.hybridRrf(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(3)) -> (x.getLong(1), x.getLong(2)))
    val byQ = r.groupBy(_._1._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      // scores strictly ordered by the (score desc, nid) window contract
      val scores = rows.sortBy(_._1._2).map(_._2._2)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores not descending: ${scores.toSeq}")
    }
    // max possible rrf = membership in both lists; assert it occurs somewhere
    assert(r.exists(_._2._2 > 1000000L / 61L + 1000L),
      "no candidate fused from both lists — pools misaligned")
  }

  test("bm25 df size gate: join-back path equals the window path exactly") {
    // the index build computes df with a tok window locally and a
    // skew-splittable groupBy+join above the size gate — the two paths must
    // be value-identical on every output (df = posting rows per tok either
    // way, so scores and ranks cannot differ)
    def run(mode: String): Seq[(Long, Long, Long, Long)] = {
      sys.props.put("graft.bm25.df", mode)
      try Retrieval.bm25Prf(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      finally sys.props.remove("graft.bm25.df")
    }
    val win = run("window")
    val join = run("join")
    assert(win.nonEmpty && win == join,
      s"df paths diverge: window=${win.take(3)} join=${join.take(3)}")
  }

  test("salted join equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 10k rows, 95% on one hot key
    val big = spark.range(10000)
      .select((when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id") % 13)).as("k"),
        col("id").as("payload"))
    val small = Seq((0L, "a"), (7L, "hot"), (12L, "z"), (99L, "none"))
      .toDF("k", "tag")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val plain = big.join(small, "k")
      .select("k", "payload", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq && salted.nonEmpty)
    // left-outer variant preserves unmatched big-side rows exactly once
    val lo = Skew.saltedJoin(big, small, "k", salts = 8, joinType = "left")
    assert(lo.count() == big.count())
    // small-side-preserving join types would duplicate unmatched small rows
    // once per salt replica — must be rejected up front
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, "k", salts = 8, joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, "k", salts = 8, joinType = "right")
    }
  }

  test("spreadSalt splits byte-identical duplicates where saltOf cannot") {
    // a hot group of 4k IDENTICAL rows over 8 input partitions: the pure
    // content salt maps them all to ONE salt (the documented limitation);
    // spreadSalt mixes spark_partition_id and must hit every partition's salt
    val dups = spark.range(4000).select(lit(7L).as("k"), lit("same").as("v"))
      .repartition(8)
    val contentSalts = dups.select(Skew.saltOf(dups, 32).as("s"))
      .distinct().count()
    assert(contentSalts == 1L, "content salt should collapse identical rows")
    val spreadSalts = dups.select(Skew.spreadSalt(dups, 32).as("s"))
      .distinct().count()
    assert(spreadSalts > 1L, "spreadSalt must spread duplicates across salts")
    // and a two-phase collect over spreadSalt still merges to the exact result
    val merged = dups.withColumn("__s", Skew.spreadSalt(dups, 32))
      .groupBy("k", "__s").agg(count(lit(1)).as("c"))
      .groupBy("k").agg(sum("c").as("n")).collect()
    assert(merged.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 4000L)))
  }

  test("salted collect merges per-salt partials to the exact multiset") {
    val df = spark.range(5000)
      .select((col("id") % 3).as("k"), col("id").as("v"))
    val got = Skew.saltedCollect(df, "k", "v", salts = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    (0L until 3L).foreach { k =>
      val exp = (0L until 5000L).filter(_ % 3 == k)
      assert(got(k) == exp, s"key $k multiset mismatch")
    }
  }

  test("cluster representative: highest-quality member kept per near-dup cluster") {
    val r = Curation.clusterRep(spark, plantedDir, maxHam = 10)
    val m = r.collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(m.size == 6)
    // exact dups 9005/9006 share a rep; near pair 9001/9002 shares a rep and
    // the rep is the LONGER text (9001 len == 9002 len? nearA/nearB differ by
    // final word: "xi" vs "omicron" -> 9002 longer), ties impossible here
    assert(m(9005L)._1 == m(9006L)._1)
    assert(m(9001L)._1 == m(9002L)._1 && m(9001L)._1 == 9002L,
      s"rep should be the longest member: $m")
    // reps marked exactly on rep rows; non-clustered docs represent themselves
    m.foreach { case (id, (rep, isRep)) => assert(isRep == (id == rep)) }
    assert(m(9003L)._1 == 9003L && m(9004L)._1 == 9004L)
  }

  test("phash: same text + same dims collide at hamming 0; hash is 12-bit") {
    import spark.implicits._
    // height = 3 + doc_id % 5: ids 10/15 share dims AND text -> identical
    // raster -> identical phash; 9999 has disjoint bytes
    val same = "alpha beta gamma delta epsilon zeta eta theta " * 8
    val other = "0123456789 !@#$%^&*() completely different byte content " * 9
    val rows = Seq(
      (10L, same, "en", "s", same.length.toLong),
      (15L, same, "en", "s", same.length.toLong),
      (9999L, other, "en", "s", other.length.toLong))
    val dir = "/tmp/graft_phash"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = Multimodal.ppmRecords(spark, dir).collect()
      .map(r => r.doc_id -> Multimodal.phashOfPpm(r.payload)).toMap
    assert(sigs.values.forall(h => h >= 0 && h < 4096), "12-bit range")
    assert(sigs(10L) == sigs(15L), "same raster must hash identically")
    val pairs = Multimodal.phashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((10L, 15L)).contains(0L), s"expected (10,15) at ham 0: $pairs")
  }

  test("entropy: single-type doc scores 0, k uniform types score ln k") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("x " * 50).trim),                        // one type -> H = 0
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")), // 32 uniform -> ln 32
      (3L, "a a a b"))                               // 3/4,1/4 mix
    val got = TextStats.entropyOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == (50L, 0.0))
    assert(got(2L)._1 == 32L &&
      math.abs(got(2L)._2 - math.log(32)) < 1e-4)
    val h3 = 0.75 * math.log(4.0 / 3) + 0.25 * math.log(4.0)
    assert(got(3L)._1 == 4L && math.abs(got(3L)._2 - h3) < 1e-4)
  }

  test("dup spans: shared 12-token run yields max_run 5, unshared doc absent") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // 12 shared tokens
    // keep the shared run away from doc ends: the 1..len-8 start convention
    // drops the final gram, which would clip a doc-final span's last start
    val docs = Seq(
      (1L, shared + " " + (1 to 20).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"b$i").mkString(" ") + " " + shared + " " +
        (11 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))) // nothing shared
    val got = Dedup.dupSpansOf(docs.toDF("doc_id", "text"), 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // a 12-token shared run has 12-8+1 = 5 duplicated 8-gram starts, all
    // consecutive: dup_grams == max_run == 5 for both members
    assert(got(1L)._2 == 5L && got(1L)._3 == 5L, s"doc1: $got")
    assert(got(2L)._2 == 5L && got(2L)._3 == 5L, s"doc2: $got")
    assert(!got.contains(3L), "doc with no cross-doc grams must be absent")
    // n_grams = len - 8 per the 1..len-8 start convention
    assert(got(1L)._1 == 32L - 8 && got(2L)._1 == 32L - 8)
  }

  test("transitions: pair mass = events - users, probs row-normalize to 1") {
    val e = EventsOps.events(spark, sf)
    val n = e.count()
    val users = e.select("user_id").distinct().count()
    val t = EventsOps.transitions(spark, sf).collect()
    assert(t.map(_.getLong(2)).sum == n - users,
      "each user contributes (n_u - 1) successor pairs")
    t.groupBy(_.getString(0)).foreach { case (prev, rows) =>
      val p = rows.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 0.01, s"row $prev sums to $p")
    }
  }

  test("triangles: counts match a brute-force closure of the same edge set") {
    val got = GraphRank.triangles(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // rebuild the same co-purchase edge set and close it brute-force
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (for {
      (o1, p1) <- li; (o2, p2) <- li
      if o1 == o2 && p1 < p2
    } yield (p1, p2)).toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val triCount = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj.getOrElse(b, Set.empty) if edges((a, c))) {
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(got.keySet == nodes, "every graph node reported")
    nodes.foreach { v =>
      val deg = edges.count(e => e._1 == v || e._2 == v).toLong
      assert(got(v)._1 == deg, s"deg($v)")
      assert(got(v)._2 == triCount(v), s"tri($v): got ${got(v)._2} exp ${triCount(v)}")
      val coeff = if (deg >= 2) BigDecimal(2.0 * triCount(v) / (deg * (deg - 1)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      assert(got(v)._3 == coeff, s"coeff($v)")
    }
  }

  /** Brute-force co-purchase edge set shared by the jaccard/components tests. */
  private lazy val copurchaseEdges: Set[(Long, Long)] = {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (for {
      (o1, p1) <- li; (o2, p2) <- li
      if o1 == o2 && p1 < p2
    } yield (p1, p2)).toSet
  }

  test("neighbor jaccard matches brute-force set intersection") {
    val got = GraphRank.jaccardNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val nbrs = (copurchaseEdges.toSeq ++ copurchaseEdges.toSeq.map(_.swap))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val exp = for {
      a <- nbrs.keySet; b <- nbrs.keySet
      if a < b
      c = (nbrs(a) & nbrs(b)).size.toLong
      if c > 0
    } yield (a, b) -> c
    assert(got.keySet == exp.map(_._1), "pair sets agree")
    exp.foreach { case ((a, b), c) =>
      assert(got((a, b))._1 == c, s"common($a,$b)")
      val jac = BigDecimal(c.toDouble / (nbrs(a).size + nbrs(b).size - c))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((a, b))._2 == jac, s"jac($a,$b)")
    }
  }

  test("components: labels are the min reachable node, sizes consistent, singletons included") {
    val got = GraphRank.components(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute-force closure
    val adj = (copurchaseEdges.toSeq ++ copurchaseEdges.toSeq.map(_.swap))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    def reach(v: Long): Set[Long] = {
      var seen = Set(v); var frontier = Set(v)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj(_)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    // the operator partitions the WHOLE sliced part universe: parts that
    // never co-occur with another part come back as size-1 components
    val universe = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_partkey")).distinct().collect().map(_.getLong(0)).toSet
    assert(got.keySet == universe, "every sliced part reported")
    (universe -- adj.keySet).foreach { v =>
      assert(got(v) == ((v, 1L)), s"singleton($v)")
    }
    adj.keySet.foreach { v =>
      val comp = reach(v)
      assert(got(v)._1 == comp.min, s"component($v)")
      assert(got(v)._2 == comp.size.toLong, s"csize($v)")
    }
  }

  // ---- property tests: the pipeline family's algebraic core ---------------
  // The dedup/curation ops are oracle-checked on one dataset; these pin the
  // invariants that need no oracle — split totality/determinism under
  // repartition, LSH band-count monotonicity, and union-find == superstep
  // components with both gate paths forced over the SAME inputs.

  test("property: hash split is total, disjoint, repartition-invariant, and content-keyed") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val docRows = (0 until 400).map(i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString))
    val df = docRows.toDF("doc_id", "text")
    def runOn(d: org.apache.spark.sql.DataFrame) =
      Curation.hashSplitOf(d).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val base = runOn(df)
    assert(base.size == 400, "totality: every doc assigned exactly once")
    assert(base.values.map(_._2).toSet.subsetOf(Set("train", "valid", "test")),
      "every assignment is one of the three splits")
    for (parts <- Seq(1, 7, 32))
      assert(runOn(df.repartition(parts)) == base,
        s"split must be invariant under repartition($parts)")
    // content-keyed: the same text lands in the same split under ANY doc_id
    // (the leakage guarantee — an exact copy can't straddle train/test)
    val dup = Seq((9001L, docRows(5)._2), (9002L, docRows(5)._2))
      .toDF("doc_id", "text")
    val dd = runOn(dup)
    assert(dd(9001L) == dd(9002L), "same text ⇒ same split regardless of id")
    assert(dd(9001L) == base(5L), "and the same split as the original doc")
  }

  test("property: LSH band-count monotonicity — more bands only ADD verified pairs") {
    // with k fixed, splitting the signature into more (shorter) bands can
    // only make collisions easier: a pair equal on an 8-row band is equal on
    // both of its 4-row halves, so every candidate (and, post-verification,
    // every emitted pair) survives the refinement
    def pairs(bands: Int): Set[(Long, Long)] =
      Dedup.minhashLsh(spark, plantedDir, k = 64, bands = bands, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p8 = pairs(8); val p16 = pairs(16); val p32 = pairs(32)
    assert(p8.subsetOf(p16), s"bands 8→16 lost pairs: ${p8 -- p16}")
    assert(p16.subsetOf(p32), s"bands 16→32 lost pairs: ${p16 -- p32}")
    assert(p16.nonEmpty, "vacuous: the planted dir must produce pairs")
  }

  test("property: driver union-find == superstep components, both gate paths") {
    import spark.implicits._
    def norm(es: Seq[(Long, Long)]) =
      es.filter(e => e._1 != e._2).map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val randomGraphs = Seq(11L, 23L, 47L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(60)
      s"seed=$seed" -> norm(Seq.fill(80 + rnd.nextInt(120))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
    }
    // a 40-vertex path with shuffled ids: the min label crosses up to 39
    // edges, so the loop runs dozens of supersteps and several checks
    val ids = new scala.util.Random(5L).shuffle((0L until 40L).toList)
    val path = "path40" -> norm(ids.zip(ids.tail))
    for ((name, edges) <- randomGraphs :+ path) {
      val df = edges.toDF("a", "b")
      def labels(gate: Long) = Dedup.clustersOf(df, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uf = labels(Long.MaxValue) // forces the driver union-find
      val loop = labels(0L)          // forces the superstep loop
      assert(uf == loop, s"gate paths disagree on $name")
      // brute-force closure: label = min reachable node
      val adj = (edges ++ edges.map(_.swap))
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      def reach(v: Long): Set[Long] = {
        var seen = Set(v); var f = Set(v)
        while (f.nonEmpty) { val nx = f.flatMap(adj(_)) -- seen; seen ++= nx; f = nx }
        seen
      }
      assert(uf.keySet == adj.keySet, s"vertex set of $name")
      adj.keySet.foreach(v =>
        assert(uf(v) == reach(v).min, s"label($v) of $name"))
    }
  }

  test("labelProp: deep run (iters=10) matches brute-force synchronous LPA; one job, stages bounded by rounds") {
    val e0 = GraphRank.edges(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sym = (e0 ++ e0.map(_.swap)).distinct
    val adj = sym.groupMap(_._2)(_._1) // voters for each node = its neighbors
    val nodes = sym.map(_._1).distinct
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 0 until 10) {
      lab = nodes.map { n =>
        val votes = adj(n).map(lab).groupBy(identity).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    var got = Map.empty[String, String]
    // the superstep loop is one job of one stage per round plus the
    // adjacency and result stages: a per-round job or a re-plan would break
    // the bound as the rounds grow
    val (jobs, stages) = jobsAndStages {
      got = GraphRank.labelProp(spark, sf, iters = 10).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(got == lab, "iters=10 labels match the brute-force replay")
    assert(jobs <= 2 && stages <= 10 + 3, s"$jobs jobs, $stages stages")
  }

  test("pagerank: matches a brute-force driver replay at iters 0, 1, 5 and 12") {
    val es = GraphRank.edges(spark, sf).collect().map(r => (r.getString(0), r.getString(1)))
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val out = es.groupMap(_._1)(_._2)
    for (iters <- Seq(0, 1, 5, 12)) {
      var rank = nodes.map(_ -> 1000000L).toMap
      for (_ <- 0 until iters) {
        val in = out.toSeq.flatMap { case (v, ds) => ds.map(_ -> rank(v) / ds.length) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        rank = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100)).toMap
      }
      val got = GraphRank.pagerank(spark, sf, iters).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == rank, s"iters=$iters")
    }
  }

  test("pagerank: after a warm call, an iters=5 run is one job of at most iters + 3 stages") {
    GraphRank.pagerank(spark, sf).collect()
    ScratchCache.drain()
    val (jobs, stages) = jobsAndStages(GraphRank.pagerank(spark, sf, iters = 5).collect())
    assert(jobs <= 2 && stages <= 5 + 3, s"$jobs jobs, $stages stages")
  }

  test("ScratchCache.drain unpersists the graph loop's RDDs") {
    ScratchCache.drain()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GraphRank.pagerank(spark, sf).collect()
    GraphRank.labelProp(spark, sf).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    ScratchCache.drain()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("Tables.read: a remembered path starts no job; an overwrite or a parquet setting re-infers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val p = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("x", "y").write.parquet(p)
    assert(Tables.read(spark, p).columns.toSeq == Seq("x", "y"))
    val (jobs, _) = jobsAndStages(Tables.read(spark, p))
    assert(jobs == 0, s"a remembered path ran $jobs jobs")
    Seq((1.5, true)).toDF("u", "v").write.mode("overwrite").parquet(p)
    assert(Tables.read(spark, p).schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("u" -> "double", "v" -> "boolean"))
    assert(Tables.read(spark, p).as[(Double, Boolean)].collect().toSeq == Seq((1.5, true)))
    // a TIMESTAMP(NANOS) column reads as LongType only under nanosAsLong
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val n = s"$dir/nanos.parquet"
    val ms = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$n/part-0.parquet"))
      .withType(ms).build()
    try w.write(new SimpleGroupFactory(ms).newGroup().append("ts", 1000L)) finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.read(spark, n).schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      val off = scala.util.Try(Tables.read(spark, n).schema("ts").dataType)
      assert(!off.toOption.contains(LongType), s"nanosAsLong=false read $off")
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("attribution: binned interval join equals the naive pair predicate, incl. bucket-crossing lags") {
    val horizonMin = 60
    val got = EventsOps.attributeClicks(spark, sf, horizonMin).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = EventsOps.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val exp = (for {
      (vid, vu, vt, vus) <- ev if vt == "view"
      (cid, cu, ct, cus) <- ev if ct == "click"
      if cu == vu && cus > vus && cus - vus <= horizonMin * 60000000L
    } yield (vid, cid, cus - vus)).toSet
    assert(got == exp, s"got ${got.size} exp ${exp.size}")
    // the bucket replication must capture pairs whose lag spans a bucket
    // boundary — assert the device is exercised: some attributed pair's
    // view and click fall in DIFFERENT horizon buckets
    val h = horizonMin * 60000000L
    val cross = exp.exists { case (vid, cid, _) =>
      val vus = ev.find(_._1 == vid).get._4
      val cus = ev.find(_._1 == cid).get._4
      vus / h != cus / h
    }
    assert(cross, "test corpus exercises the bucket-crossing path")
  }

  test("audio features match a scalar replay of the sample rule") {
    val got = Multimodal.audioFeatures(spark, sf).collect()
      .map(f => f.doc_id -> f).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.take(50).foreach { case (id, text) =>
      val tb = text.getBytes("UTF-8")
      val n = tb.length * 3
      val s = Array.tabulate(n)(i => tb(i % tb.length) & 0xFF)
      val nf = n / 160
      val zc = (1 until n).count(i => (s(i) >= 100) != (s(i - 1) >= 100)).toLong
      val en = s.map(v => { val d = (v - 100).toLong; d * d }).sum
      val af = (0 until nf).count { f =>
        (f * 160 until (f + 1) * 160)
          .map(i => { val d = (s(i) - 100).toLong; d * d }).sum > 130000L
      }.toLong
      val g = got(id)
      assert((g.n_frames, g.zero_cross, g.energy, g.active_frames) ==
        ((nf.toLong, zc, en, af)), s"doc $id")
    }
  }

  test("rfm: metrics and quartiles match a scalar replay") {
    val got = EventsOps.rfm(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val ev = EventsOps.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), round(col("value") * 1000).cast("long").as("mv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val maxUs = ev.map(_._2).max
    val per = ev.groupBy(_._1).map { case (u, es) =>
      (u, (maxUs - es.map(_._2).max) / 86400000000L, es.length.toLong,
        es.filter(_._3 == "purchase").map(_._4).sum)
    }.toSeq
    def quartile(ordered: Seq[Long]): Map[Long, Long] = {
      val n = ordered.length
      ordered.zipWithIndex.map { case (u, i) =>
        // ANSI ntile(4): first n%4 buckets take ceil(n/4) rows
        val big = n % 4; val base = n / 4
        val q = if (i < big * (base + 1)) i / (base + 1)
          else big + (i - big * (base + 1)) / base
        u -> (q + 1).toLong
      }.toMap
    }
    val rq = quartile(per.sortBy(p => (p._2, p._1)).map(_._1))
    val fq = quartile(per.sortBy(p => (-p._3, p._1)).map(_._1))
    val mq = quartile(per.sortBy(p => (-p._4, p._1)).map(_._1))
    assert(got.keySet == per.map(_._1).toSet)
    per.foreach { case (u, rec, f, m) =>
      assert(got(u) == ((rec, f, m, rq(u), fq(u), mq(u))), s"user $u") }
  }

  test("ab test: welch z matches a scalar replay of the integer moments") {
    val row = EventsOps.abTest(spark, sf).collect().head
    val mv = EventsOps.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), round(col("value") * 1000).cast("long").as("mv"))
      .collect().map(r => (r.getLong(0) % 2, r.getLong(1)))
    def mom(arm: Long) = {
      val vs = mv.filter(_._1 == arm).map(_._2)
      (vs.length.toLong, vs.sum, vs.map(v => v * v).sum)
    }
    val (na, sa, qa) = mom(0); val (nb, sb, qb) = mom(1)
    val mA = sa.toDouble / na; val mB = sb.toDouble / nb
    val se2 = (qa.toDouble / na - mA * mA) / na + (qb.toDouble / nb - mB * mB) / nb
    val z = if (se2 <= 0) 0L else math.round((mA - mB) / math.sqrt(se2) * 1e6)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((na, sa, nb, sb)))
    assert(row.getLong(4) == z, "z_micro")
    assert(row.getBoolean(5) == (math.abs(z) >= 1960000L), "significance cut")
  }

  test("repeat plan: integer ceil and cap match a scalar replay") {
    val got = Curation.repeatPlan(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val share = 100000L / toks.size
    assert(got.keySet == toks.keySet)
    toks.foreach { case (s, nt) =>
      val reps = math.min((share + nt - 1) / nt, 4L)
      assert(got(s) == ((nt, share, reps, reps * nt)), s"source $s") }
  }

  test("zipf slope: integer regression sums match a scalar replay") {
    val row = TextStats.zipfSlope(spark, sf).collect().head
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .collect().map(_.getString(0))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val xy = top.zipWithIndex.map { case ((_, c), i) =>
      (math.round(math.log((i + 1).toDouble) * 1e6),
        math.round(math.log(c.toDouble) * 1e6)) }
    val n = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum; val sxx = xy.map(p => p._1 * p._1).sum
    val slope = math.round(
      (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble * 1e6)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4), row.getLong(5)) == ((n, sx, sy, sxy, sxx, slope)))
    // natural-ish corpus: slope should be clearly negative
    assert(row.getLong(5) < 0, "zipf slope negative")
  }

  test("ngram containment: a quoted substring scores 1.0 while jaccard stays low") {
    import spark.implicits._
    // non-repetitive host: every word unique, so the host's gram set is
    // large and the quote's grams are a small fraction of it
    val long = (0 until 150).map(i => s"word$i item$i").mkString(" ")
    // doc 2 = a short quote of doc 1, length-padded by REPEATING itself:
    // repetition adds no new distinct grams (beyond a few seam trigrams), so
    // containment stays ~1.0, and the padding keeps both docs in the same
    // length band — the blocked candidate generation pairs same-band docs
    // (true cross-length quote detection needs a different blocking; this
    // operator's contract is the banded one)
    val short = long.substring(100, 213)
    val doc2 = ((short + " ") * 40).substring(0, long.length - 10)
    val rows = Seq(
      (1L, long, "en", "srcQ", long.length.toLong),
      (2L, doc2, "en", "srcQ", doc2.length.toLong))
    val dir = "/tmp/graft_containment"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val cont = Dedup.ngramContainmentOf(d, threshold = 0.9).collect()
    assert(cont.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) >= 0.9), s"containment found: ${cont.mkString}")
    // the same pair must NOT be a symmetric near-dup at a high jaccard bar
    val jac = Dedup.ngramJaccardOf(d, threshold = 0.9).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "jaccard correctly below the symmetric bar")
  }

  test("kmv sketch: exact under k, banded error above k, partition-invariant") {
    import spark.implicits._
    // under k distinct values the sketch IS the exact count
    val exactK = TextStats.kmvDistinct(spark, sf, k = 100000).collect()
    exactK.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"k > n must be exact: ${r.getString(0)}"))
    // in the estimation regime the relative error stays in the KMV band
    val est = TextStats.kmvDistinct(spark, sf, k = 16).collect()
    est.foreach { r =>
      val (e, n) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(e - n) / n < 0.8,
        s"${r.getString(0)}: est $e vs exact $n out of band") }
    // merge path: estimate must not depend on partitioning (update-only vs
    // many-partition merge trees give the same k-smallest set)
    val hs = (1 to 5000).map(i => (i % 7, i * 2654435761L & ((1L << 60) - 1)))
    val df1 = hs.toDF("g", "h").coalesce(1)
    val df32 = hs.toDF("g", "h").repartition(32)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(graft.functions.KMVAgg(col("h"), 16).as("est"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(agg(df1) == agg(df32), "partitioning changed the sketch estimate")
  }

  test("kmv overlap: exact when both sketches are exact, banded otherwise") {
    // with k far above the vocabulary, both sketch sets are the full hash
    // sets -> theta = the whole domain -> the estimate IS the exact overlap
    val big = TextStats.kmvOverlap(spark, sf, k = 100000).collect()
    big.foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"(${r.getString(0)},${r.getString(1)}): exact sketches must match"))
    // estimation regime: relative error within the KMV band on real overlaps
    val est = TextStats.kmvOverlap(spark, sf, k = 16).collect()
    est.filter(_.getLong(3) >= 16).foreach { r =>
      val (e, n) = (r.getLong(2).toDouble, r.getLong(3).toDouble)
      assert(math.abs(e - n) / n < 0.9,
        s"(${r.getString(0)},${r.getString(1)}): est $e vs $n out of band") }
    assert(est.length == big.length && est.nonEmpty, "all pairs present")
  }

  test("prf expansion changes the ranking and keeps the top-k contract") {
    val base = Retrieval.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prf = Retrieval.bm25Prf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // contract: 5 ranked results per query, ranks 1..5
    prf.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"q$q ranks") }
    // expansion must actually fire: some (qid, nid) score differs from the
    // unexpanded run (expansion terms add posting-list contributions)
    assert(prf.exists(p => !base.contains((p._1, p._2, p._3))),
      "expanded scores identical to base — expansion never fired")
  }

  test("mp4 container decode: box walker matches the generator and rejects corruption") {
    val recs = Multimodal.mp4Records(spark, sf).collect()
    val got = Multimodal.mp4Features(spark, sf).collect()
      .map(f => f.doc_id -> f).toMap
    recs.take(50).foreach { r =>
      val f = got(r.doc_id)
      val nf = 1 + r.doc_id % 5
      assert(f.timescale == 600 && f.duration_ticks == nf * 20 &&
        f.n_frames == nf, s"doc ${r.doc_id} header fields")
      val total = (0L until nf).map(i => 50 + (r.doc_id + i) % 20).sum
      assert(f.total_frame_bytes == total, s"doc ${r.doc_id} stsz sum")
    }
    // corruption must be detected, not silently mis-parsed
    val p = recs.head.payload
    val truncated = p.dropRight(1)
    intercept[Exception](Multimodal.decodeMp4(0L, truncated))
    val badMagic = p.clone(); badMagic(4) = 'X'
    intercept[Exception](Multimodal.decodeMp4(0L, badMagic))
  }

  test("kmeans clusters agree with the IVF assignment and partition the corpus") {
    val got = Similarity.kmeansClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(got.length.toLong == n, "every vector assigned exactly once")
    val sizes = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    got.foreach { case (vid, cl, csize) =>
      assert(csize == sizes(cl), s"csize($vid)") }
    // same trainer, same assignment as SemDeDup's first stage
    val sem = Similarity.semDedup(spark, sf).select("vec_id", "cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (vid, cl, _) => assert(sem(vid) == cl, s"cl($vid)") }
  }
}
