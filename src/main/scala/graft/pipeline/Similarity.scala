package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - brute-force cosine top-k: the exactness baseline; scales as |queries|×|corpus|
  *    (fine for bounded query sets; the corpus side streams).
  *  - random-hyperplane LSH: seeded hyperplanes → sign-bit signature → bucket join →
  *    cosine rerank. The scale path: candidate generation is a bucket equi-join, so
  *    cost follows bucket occupancy instead of |q|×|corpus|.
  */
object Similarity {

  def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  def withNorm(d: DataFrame): DataFrame = d.withColumn("nrm", norm(col("e")))

  /** Exact cosine top-k of each query vector (vec_id < nQueries), excluding self. */
  def bruteTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val e = withNorm(emb(spark, dir))
      .transform(ScratchCache.persist)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    // rank on the ROUNDED cosine (then nid): raw doubles differ from the
    // oracle engine's summation order by last-ulp amounts, which can flip a
    // rank boundary; rounding to 4 places before the cut makes the ranking
    // engine-independent (same device as lshTopK)
    val scored = q.join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("qe"), col("e")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"),
        col("rk").cast("long").as("rk"))
  }

  /** Scalar int8 quantization of each embedding (per-vector min/max range,
    * 256 levels, floor binning — floor, not round, so the bin boundary is
    * deterministic across engines) + mean-absolute reconstruction error with
    * midpoint dequantization. The embedding-compression step of a training
    * pipeline; map-side only, no shuffle. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val lo = array_min(col("e"))
    val hi = array_max(col("e"))
    val scale = (hi - lo) / lit(255.0)
    // q(x) = min(floor((x-lo)/scale), 255); dequant midpoint lo+(q+0.5)*scale
    val mae = aggregate(
      transform(col("e"), x =>
        abs(x - (lo + (least(floor((x - lo) / scale), lit(255.0)) + lit(0.5)) * scale))),
      lit(0.0), (acc, x) => acc + x) / size(col("e"))
    e.select(col("vec_id"), round(lo, 4).as("lo"), round(hi, 4).as("hi"),
      round(mae, 4).as("mae"))
  }

  /** splitmix64 finalizer over a small counter — the SAME wrapping-arithmetic
    * construction the MinHash oracle replicates in DuckDB (HUGEINT mod-2^64),
    * so hyperplane signs are computable identically by both engines. */
  private def mix64(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Seeded Rademacher (±1) hyperplanes: sign = top bit of
    * mix64(seed + 1 + planeIndex). Sign-hash quality is equivalent to
    * Gaussian planes for cosine LSH, and — unlike Gaussian floats — the
    * whole signature computation stays in INTEGER arithmetic (order-free,
    * bit-identical across engines), which is what makes `sim_lsh_topk` and
    * `sim_neardup` full value-oracle-checkable in DuckDB. */
  private def planes(dim: Int, nTables: Int, nBits: Int, seed: Long): Seq[Seq[Array[Int]]] =
    Seq.tabulate(nTables)(t => Seq.tabulate(nBits)(b => Array.tabulate(dim)(j =>
      if (mix64(seed + 1L + ((t.toLong * nBits + b) * dim + j)) < 0L) -1 else 1)))

  /** Per-vector exact integer quantization q_j = floor(e_j/max|e|*127 + 0.5):
    * every step is an IEEE double op both engines perform identically, so the
    * integers — and everything integer-arithmetic downstream of them — are
    * bit-identical across engines. */
  private def quantize127(arr: Array[Double]): Array[Long] = {
    var m = 0.0
    var i0 = 0
    while (i0 < arr.length) { val a = math.abs(arr(i0)); if (a > m) m = a; i0 += 1 }
    val q = new Array[Long](arr.length)
    if (m > 0) {
      var j = 0
      while (j < arr.length) { q(j) = math.floor(arr(j) / m * 127.0 + 0.5).toLong; j += 1 }
    }
    q
  }

  /** One UDF computing ALL table signatures per row: each bit is the sign of
    * an integer dot between the quantized vector and a ±1 plane — no float
    * summation anywhere, so bucket assignment is deterministic and
    * cross-engine reproducible. */
  private def sigsUdf(pls: Seq[Seq[Array[Int]]]) = udf { (e: Seq[Double]) =>
    val q = quantize127(e.toArray)
    pls.map { tablePlanes =>
      var sig = 0L
      var i = 0
      while (i < tablePlanes.length) {
        val pl = tablePlanes(i)
        var d = 0L
        var j = 0
        while (j < q.length && j < pl.length) { d += q(j) * pl(j); j += 1 }
        if (d > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
  }

  /** Explode (vec_id, e, nrm) into one row per (table, signature) bucket. */
  private def bucketize(d: DataFrame, pls: Seq[Seq[Array[Int]]]): DataFrame =
    d.withColumn("sigs", sigsUdf(pls)(col("e")))
      .select(col("vec_id"), col("e"), col("nrm"),
        posexplode(col("sigs")).as(Seq("tbl", "sig")))

  /** Approximate cosine top-k via random-hyperplane LSH + rerank. */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nTables: Int = 16, nBits: Int = 6, dim: Int = 64, seed: Long = 42): DataFrame = {
    val pls = planes(dim, nTables, nBits, seed)
    val e = withNorm(emb(spark, dir))
      .transform(ScratchCache.persist)
    val bucketed = bucketize(e, pls)
      .transform(ScratchCache.persist)

    val qb = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("tbl"), col("sig"))
    val cand = qb.join(bucketed, Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("qn"), col("vec_id").as("nid"),
        col("e"), col("nrm"))
      .dropDuplicates("qid", "nid")
    // rank by the ROUNDED cosine (then id): the raw double sum's last-ulp
    // depends on summation order, which the oracle engine doesn't share —
    // rounding first makes the top-k cut deterministic across engines
    val scored = cand.select(col("qid"), col("nid"),
      round(dot(col("qe"), col("e")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Assignment score of quantized vector q against centroid c = (S, n):
    * dot(q, S)/n — one double division of exact integers, no float summation,
    * so assignment is order-free and replicable by the DuckDB oracle. */
  private def centScore(q: Array[Long], c: (Array[Long], Long)): Double = {
    var d = 0L; var i = 0
    val cv = c._1
    while (i < q.length && i < cv.length) { d += q(i) * cv(i); i += 1 }
    d.toDouble / c._2.toDouble
  }

  private def coarseAssignUdf(cs: Array[(Array[Long], Long)]) = udf { (v: Seq[Long]) =>
    val q = v.toArray
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val s = centScore(q, cs(c))
      if (s > bestScore) { bestScore = s; best = c } // ties keep lowest c
      c += 1
    }
    best
  }

  /** Persisted (vec_id, e, nrm, q) frame: embeddings with norms and the
    * exactly-quantized integer vector — the shared input of the coarse
    * k-means family ([[ivfTopK]], [[semDedup]]). */
  private def quantizedFrame(spark: SparkSession, dir: String): DataFrame =
    withNorm(emb(spark, dir))
      .withColumn("q", udf((v: Seq[Double]) => quantize127(v.toArray)).apply(col("e")))
      .transform(ScratchCache.persist)

  /** Deterministic coarse k-means over the quantized frame: centroids are
    * EXACT integer (component-sum, member-count) pairs; init = the nLists
    * lowest-id vectors at weight 1; `iters` Lloyd steps, each one groupBy
    * over (list, dim) — no RNG anywhere, so an unrolled-iteration oracle CTE
    * computes the identical integers. Shared by [[ivfTopK]] and
    * [[semDedup]]. */
  private def trainCoarse(eq: DataFrame, nLists: Int,
      iters: Int): Array[(Array[Long], Long)] = {
    var cents: Array[(Array[Long], Long)] = eq.filter(col("vec_id") < nLists)
      .orderBy("vec_id").select("q").collect()
      .map(r => (r.getSeq[Long](0).toArray, 1L))
    for (_ <- 0 until iters) {
      val cs = cents
      val sums = eq.withColumn("cl", coarseAssignUdf(cs)(col("q")))
        .select(col("cl"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("cl", "pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map { case (v, n) => (v.clone(), n) } // empty list keeps old
      val byCl = sums.groupBy(_.getInt(0))
      byCl.foreach { case (cl, rows) =>
        val v = next(cl)._1
        rows.foreach(r => v(r.getInt(1)) = r.getLong(2))
        next(cl) = (v, rows.head.getLong(3))
      }
      cents = next
    }
    cents
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with a coarse k-means,
    * then — WITHIN each cluster only — flag any vector whose cosine to a
    * lower-id cluster-mate is ≥ `tau` (the lower id survives as the
    * representative; the witness rule is deterministic, no RNG).
    *
    * Scale shape: this is the paper's own trick for making semantic dedup
    * tractable — the only pairwise work is within a cluster, so cost is
    * Σ|cluster|², tuned by nLists (production: nLists ∝ corpus/√target so
    * clusters stay bounded), never |corpus|². Clustering reuses the exact
    * deterministic Lloyd trainer ([[trainCoarse]]), assignment is map-side,
    * and the pair join is an equi-join on the cluster id.
    *
    * Output: (vec_id, cl, keep) for every corpus vector. */
  def semDedup(spark: SparkSession, dir: String, nLists: Int = 8,
      iters: Int = 2, tau: Double = 0.4): DataFrame = {
    val eq = quantizedFrame(spark, dir)
    val cents = trainCoarse(eq, nLists, iters)
    val corpus = eq.withColumn("cl", coarseAssignUdf(cents)(col("q")))
      .select("vec_id", "cl", "e", "nrm")
      .transform(ScratchCache.persist)
    // rounded cosine (cross-engine-deterministic threshold cut, see lshTopK)
    val dups = corpus.alias("x").join(corpus.alias("y"),
        col("x.cl") === col("y.cl") && col("x.vec_id") > col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        round(dot(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= tau)
      .select("vec_id").distinct()
    corpus.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cl"),
        not(coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** K-means clustering of the embedding corpus as a FIRST-CLASS operator
    * (vec_id → cluster id + cluster size) — the data-curation clustering
    * primitive (topic bucketing, cluster-balanced sampling, SemDeDup's first
    * stage) exposed directly rather than embedded in an ANN index. Reuses the
    * deterministic integer Lloyd trainer ([[trainCoarse]]: lowest-id seeds,
    * exact integer (sum, count) centroids, no RNG), so assignments are
    * bit-identical to the DuckDB oracle's unrolled CTE replica.
    *
    * Scale shape: centroids are nLists × dim integers shipped in the task
    * closure; assignment is map-side; the size attach is one |clusters|-row
    * broadcast join. Training is `iters` (list, dim)-keyed groupBys. */
  def kmeansClusters(spark: SparkSession, dir: String, nLists: Int = 8,
      iters: Int = 2): DataFrame = {
    val eq = quantizedFrame(spark, dir)
    val cents = trainCoarse(eq, nLists, iters)
    val corpus = ScratchCache.persist(
      eq.withColumn("cl", coarseAssignUdf(cents)(col("q")))
        .select(col("vec_id"), col("cl")))
    val sz = corpus.groupBy("cl").agg(count(lit(1)).as("csize"))
    corpus.join(broadcast(sz), "cl")
      .select(col("vec_id"), col("cl"), col("csize"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse k-means quantizer
    * partitions the corpus into `nLists` inverted lists; each query probes its
    * `nProbe` nearest lists and reranks exactly within them.
    *
    * Scale shape: centroids are tiny (nLists × dim) and ship in the task
    * closure; assignment is map-side; candidate generation is an equi-join on
    * the list id — cost follows probed-list occupancy (≈ nProbe/nLists of the
    * corpus), never |q|×|corpus|. Training is `iters` Lloyd steps, each one
    * groupBy over (list, dim) — deterministic (lowest-id seeds, no RNG).
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nLists: Int = 8, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val eq = quantizedFrame(spark, dir)
    val cents = trainCoarse(eq, nLists, iters)
    val corpus = eq.withColumn("cl", coarseAssignUdf(cents)(col("q")))
      .transform(ScratchCache.persist)
    val cs = cents
    val probeUdf = udf { (v: Seq[Long]) =>
      val q = v.toArray
      cs.indices.map(c => (c, centScore(q, cs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(nProbe).map(_._1)
    }
    val q = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(probeUdf(col("q"))).as("cl"))
    val cand = q.join(corpus, Seq("cl")).filter(col("vec_id") =!= col("qid"))
    // rounded-cosine rank (see lshTopK): deterministic top-k cut across engines
    val scored = cand.select(col("qid"), col("vec_id").as("nid"),
      round(dot(col("qe"), col("e")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk").cast("long").as("rk"))
  }

  /** Range similarity search: ALL corpus vectors within cosine >= `minCos`
    * of each query (vec_id < nQueries), not just the top-k — the dedup/
    * retrieval primitive when the neighbor count is unknown. Brute exact
    * scan (|q| × corpus map-side work against a broadcast query set); the
    * bucketed LSH path ([[nearDupPairsOf]]) is the scale alternative when
    * minCos is high. */
  def rangeSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
      minCos: Double = 0.3): DataFrame = {
    val e = withNorm(emb(spark, dir)).transform(ScratchCache.persist)
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    broadcast(qs).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("qe"), col("e")) / (col("qn") * col("nrm")), 4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Product-quantization ANN: each vector is split into `m` subvectors;
    * per subspace a `ksub`-centroid codebook is trained (same exact-integer
    * Lloyd scheme as [[ivfTopK]]: centroids are integer (sum, count) pairs
    * over the quantized components, init = the ksub lowest-id vectors, ties
    * to the lowest code); a vector's code is its per-subspace nearest
    * centroid (squared L2, compared as the IEEE double Σ(n·x−S)²/n² both
    * engines compute identically from identical integers). Queries score
    * candidates with an ADC table — approximate distance = the SUM over
    * subspaces of the query-to-codeword distance, accumulated in FIXED
    * subspace order so the float sum is cross-engine deterministic.
    *
    * Scale shape: the scan side reads `m` small codes per vector (8 bytes
    * at m=8) instead of the full float vector — PQ's point is that the
    * exhaustive candidate scan touches ~1/32 of the bytes; codebooks are
    * tiny (m × ksub × dim/m ints) and ship in the closure. Training
    * aggregates are (sub, code, j)-keyed groupBys — corpus-sized shuffles
    * of integer triples, and only `iters` of them.
    *
    * Output: (qid, nid, adist, rk) — top-k by rounded ADC distance. */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    val e = emb(spark, dir)
    val eq = ScratchCache.persist(
      e.withColumn("q", udf((v: Seq[Double]) => quantize127(v.toArray))
        .apply(col("e"))).select("vec_id", "q"))
    eq.count()
    val dim = eq.select(size(col("q"))).first().getInt(0)
    val sub = dim / m

    // cents(s)(c) = (component sums over members, member count)
    var cents: Array[Array[(Array[Long], Long)]] = {
      val seeds = eq.filter(col("vec_id") < ksub).orderBy("vec_id")
        .select("q").collect().map(_.getSeq[Long](0).toArray)
      Array.tabulate(m)(s => seeds.map(v => (v.slice(s * sub, (s + 1) * sub), 1L)))
    }

    /** Squared L2 between integer subvector x and centroid S/n, as the
      * double Σ(n·x_j − S_j)² / n² — exact int64 numerator, one IEEE
      * division; identical in DuckDB. */
    def distOf(x: Array[Long], off: Int, c: (Array[Long], Long)): Double = {
      val (sv, n) = c
      var acc = 0L
      var j = 0
      while (j < sv.length) {
        val d = n * x(off + j) - sv(j)
        acc += d * d
        j += 1
      }
      acc.toDouble / (n.toDouble * n.toDouble)
    }
    def codesUdf(cs: Array[Array[(Array[Long], Long)]]) = udf { (v: Seq[Long]) =>
      val x = v.toArray
      Array.tabulate(m) { s =>
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cs(s).length) {
          val d = distOf(x, s * sub, cs(s)(c))
          if (d < bestD) { bestD = d; best = c } // ties keep lowest c
          c += 1
        }
        best
      }
    }

    for (_ <- 0 until iters) {
      val cs = cents
      val sums = eq.withColumn("codes", codesUdf(cs)(col("q")))
        .select(posexplode(col("q")).as(Seq("pos", "x")), col("codes"))
        .select((col("pos") / sub).cast("int").as("s"), (col("pos") % sub).as("j"),
          col("x"), expr(s"codes[CAST(pos / $sub AS INT)]").as("c"))
        .groupBy("s", "c", "j").agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map { case (v, n) => (v.clone(), n) })
      sums.foreach { r =>
        val (s, c, j) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(s)(c)._1(j) = r.getLong(3)
        next(s)(c) = (next(s)(c)._1, r.getLong(4))
      }
      cents = next
    }

    val coded = ScratchCache.persist(
      eq.withColumn("codes", codesUdf(cents)(col("q"))))
    coded.count()
    val cs = cents
    // ADC in FIXED ascending-subspace order (cross-engine deterministic sum)
    val adcUdf = udf { (qv: Seq[Long], codes: Seq[Int]) =>
      val x = qv.toArray
      var acc = 0.0
      var s = 0
      while (s < m) { acc += distOf(x, s * sub, cs(s)(codes(s))); s += 1 }
      acc
    }
    val qs = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val scored = broadcast(qs).join(coded, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(adcUdf(col("qq"), col("codes")), 4).as("adist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist").asc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Plant deterministic near-duplicates: for each vec_id < n, add a copy at
    * vec_id + idOffset with coordinates scaled by a small cyclic factor
    * (cosine vs the original ≈ 0.999). Gives the near-dup path known positives
    * to find — the synthetic corpus itself has none (max pairwise cosine ≈ 0.6).
    */
  def plantNearDups(embDf: DataFrame, n: Int = 20, idOffset: Long = 1000000L): DataFrame = {
    val planted = embDf.filter(col("vec_id") < n).select(
      (col("vec_id") + idOffset).as("vec_id"),
      transform(col("e"), (x, i) => x * (lit(1.0) + lit(0.03) * ((i % 3) - 1))).as("e"),
      col("label"))
    embDf.unionByName(planted)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold via LSH buckets. */
  def nearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.95,
      nTables: Int = 8, nBits: Int = 12, dim: Int = 64, seed: Long = 42,
      plant: Boolean = false): DataFrame = {
    val base = emb(spark, dir)
    nearDupPairsOf(if (plant) plantNearDups(base) else base, threshold,
      nTables, nBits, dim, seed)
  }

  /** Near-dup pairs over an explicit (vec_id, e, label) frame. */
  def nearDupPairsOf(embDf: DataFrame, threshold: Double = 0.95,
      nTables: Int = 8, nBits: Int = 12, dim: Int = 64, seed: Long = 42): DataFrame = {
    val pls = planes(dim, nTables, nBits, seed)
    val e = withNorm(embDf)
    val bucketed = bucketize(e, pls)
    val pairs = bucketed.alias("x").join(bucketed.alias("y"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        col("x.e").as("ea"), col("x.nrm").as("na"),
        col("y.e").as("eb"), col("y.nrm").as("nb"))
      .dropDuplicates("a", "b")
    pairs.select(col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
