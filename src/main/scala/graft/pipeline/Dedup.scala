package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication operators for LLM-data pipelines, designed for
  * shuffle-bounded execution at 100 TB:
  *
  *  - exact: one hash-groupBy, no pairwise work.
  *  - MinHash+LSH: shingle → k-minhash signature (one groupBy with k min-aggregates)
  *    → band buckets → candidate self-join *within buckets only* → exact-Jaccard
  *    verification. Pairwise work is bounded by bucket collisions, never n².
  *  - SimHash: 60-bit signature via per-bit weighted sums (one groupBy), near-dup
  *    candidates from 15-bit band buckets, verified by hamming distance.
  *  - n-gram Jaccard: brute-force *within blocking keys* (source, length bucket) —
  *    the classic blocked-pairwise baseline.
  */
object Dedup {

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"$dir/documents.parquet")

  /** The DEFAULT near-duplicate path: MinHash+LSH — bucketed candidate
    * generation, never O(n²). The blocked n-gram Jaccard below is a
    * diagnostic/small-data baseline only: its within-block pairwise cost is
    * quadratic in the largest block and must not be the production path. */
  def nearDuplicates(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    minhashLsh(spark, dir, threshold = threshold)

  /** End-to-end near-dup deduplication: candidate pairs → transitive clusters
    * ([[clustersOf]] over the pair graph) → one representative (min doc_id)
    * per cluster. Output: (doc_id, keep) for every clustered doc — the drop
    * set is `doc_id != keep`. Pairs from any detector (minhashLsh by
    * default); components run on the pair graph only (≪ corpus), so the
    * expensive step stays the bucketed candidate generation.
    */
  def dedupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    clustersOf(nearDuplicates(spark, dir, threshold))

  /** Connected-component clustering of an (a, b, …) pair frame: (doc_id,
    * keep) for every vertex of the pair graph, `keep` the component's min
    * member id.
    *
    * One edge count (this runs at query time, not compile time) picks the
    * path by the PAIR GRAPH's size, not the corpus's. Near-dup pair graphs
    * are output-sized (≪ corpus): up to `gateEdges` edges (≈ 8 MB at 500k)
    * one bounded collect feeds a driver union-find, which beats any
    * distributed loop whose per-superstep scheduling dwarfs the work. Above
    * the gate, min-label propagation runs on the superstep loop until no
    * label changes, over a graph sized at ~500k edges per partition and
    * capped at the session's parallelism. `gateEdges` lets the property
    * suite force BOTH paths over one input (they must agree). */
  def clustersOf(pairs: DataFrame, gateEdges: Long = 500000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = ScratchCache.persist(
      pairs.select(col("a").cast(LongType), col("b").cast(LongType)))
    val nEdges = p.count()
    if (nEdges <= gateEdges) {
      val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val verts = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      // component label = min member id, matching the loop/oracle convention
      val label = verts.iterator.map(v => v -> find(v)).toMap
      val minOf = label.groupMapReduce(_._2)(_._1)(math.min)
      verts.iterator.map(v => (v, minOf(label(v)))).toSeq
        .toDF("doc_id", "keep")
    } else {
      val parts = math.min(spark.sparkContext.defaultParallelism.toLong,
        nEdges / 500000L + 1L).toInt
      val adj = graft.graph.Supersteps.adjacency(
        p.rdd.map(r => (r.getLong(0), r.getLong(1))), parts, undirected = true)
      // state (label, changed). A message is (own, heard): a vertex sends
      // itself its label and, when it changed, its neighbours
      val none = Long.MaxValue
      val labels = graft.graph.Supersteps.run[Long, (Long, Boolean), (Long, Long)](adj,
          active = Some(_._2))(v => (v, true),
        { case (v, (l, changed), out) => Iterator(v -> (l, none)) ++
          (if (changed) out.iterator.map(_ -> (none, l)) else Iterator.empty) },
        { case ((o1, h1), (o2, h2)) => (math.min(o1, o2), math.min(h1, h2)) },
        (_, m) => { val (own, heard) = m.get; if (heard < own) (heard, true) else (own, false) })
      labels.map { case (v, (l, _)) => (v, l) }.toDF("doc_id", "keep")
    }
  }

  /** Exact dedup: clusters of byte-identical texts. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep"))

  /** Full doc→representative mapping via the [[clustersOf]] components path:
    * exact-duplicate groups become STAR edges (each doc → its group's min id,
    * linear in group size — a within-group self-join would be quadratic on a
    * degenerate hot text), components run over that pair graph, singletons
    * map to themselves. Equivalent to the window-min oracle, which makes the
    * transitive-clustering operator itself oracle-checkable. */
  def exactClusters(spark: SparkSession, dir: String): DataFrame = {
    val h = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
      .transform(ScratchCache.persist)
    val reps = h.groupBy("h").agg(min(col("doc_id")).as("a"))
    val pairs = h.join(reps, "h").filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b"))
    val clustered = clustersOf(pairs)
    h.select(col("doc_id"))
      .join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep"), col("doc_id")).as("keep"))
  }

  /** Word w-shingles of the text, distinct, as an exploded (doc_id, shingle-hash)
    * frame. Hashing at the shingle level keeps the shuffle narrow (two longs).
    * The shingle hash is the first 15 hex chars of md5(shingle) as a 60-bit
    * integer — the same oracle-checkable construction as [[SimHashBits]]: both
    * Spark (`conv`, whole-stage codegen'd) and DuckDB (`CAST('0x'||… AS
    * BIGINT)`) compute it identically, which is what lets the downstream
    * MinHash signatures (pure splitmix64 over these hashes) be replicated
    * exactly in the DuckDB oracle. 60 bits is ample for per-doc shingle
    * dedup. */
  def shingles(d: DataFrame, w: Int): DataFrame =
    // split ONCE into a materialized words array: with the split inside the
    // transform lambda it re-tokenized the whole text per shingle index —
    // O(words²) work and allocation per document. The size guard matters:
    // for size(ws) ≤ w, sequence(0, size-w-1) counts DOWNWARD through
    // negative indices and slice() then throws on index 0 — short docs
    // produce no shingles instead of failing the job.
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        s"CASE WHEN size(ws) > $w THEN " +
        s"transform(sequence(0, size(ws) - $w - 1), " +
        s"i -> concat_ws(' ', slice(ws, i + 1, $w))) " +
        s"ELSE array() END").as("shs"))
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast(LongType).as("h"))
      .distinct()

  /** [[shingles]] as ONE map-side row per document: the distinct shingle-hash
    * set as an array. Same md5-prefix hash (it runs inside the transform
    * lambda), same short-doc guard — but no explode and no dedup shuffle;
    * per-doc distinct-ness comes from array_distinct in the projection. */
  def shingleArrays(d: DataFrame, w: Int): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        s"sort_array(array_distinct(CASE WHEN size(ws) > $w THEN " +
        s"transform(sequence(0, size(ws) - $w - 1), " +
        s"i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, $w))), 1, 15), " +
        s"16, 10) AS BIGINT)) ELSE CAST(array() AS ARRAY<BIGINT>) END))").as("hs"))

  /** MinHash signatures + LSH banding + exact-Jaccard verification.
    * Output: (a, b, jaccard) pairs with jaccard >= threshold, a < b.
    */
  def minhashLsh(spark: SparkSession, dir: String, k: Int = 64, bands: Int = 16,
      shingleW: Int = 3, threshold: Double = 0.5, seed: Long = 42): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    // per-doc distinct shingle-hash ARRAY, built entirely map-side (the
    // md5-prefix hash runs inside the transform lambda): no explode, no
    // dedup shuffle. Signatures are then a pure projection (MinHashSig runs
    // the same splitmix64 lanes as the MinHashAgg aggregate, over the array)
    // — signature computation costs ZERO shuffles; the operator's first
    // exchange is the LSH band self-join. The same arrays drive the exact-
    // Jaccard verification below via per-pair array_intersect, replacing the
    // two gram-level joins of the exploded formulation.
    val sh = shingleArrays(docs(spark, dir), shingleW)
      .transform(ScratchCache.persist)
    sh.count() // materialize before fan-out (band explode + 2 verify joins)
    val sigs = ScratchCache.persist(sh.select(col("doc_id"),
      graft.functions.MinHashSig(col("hs"), k, seed).as("sig"))
      .filter(col("sig").isNotNull))
    // materialized before the band explode: Generate re-evaluates an
    // un-materialized input per OUTPUT row — 16 bands would recompute the
    // full k-lane signature 16x per document
    sigs.count()

    // band key = the band's signature slice itself (4 longs). Joining on the
    // slice instead of a hash of it keeps the key computable by BOTH engines
    // (DuckDB lists compare with `=` just like Spark arrays), making the whole
    // candidate generation oracle-checkable; the extra 24 bytes/row of shuffle
    // key is noise next to the signature aggregation.
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("bs"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bs").as("bs"))

    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bs") === col("y.bs") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

    // exact Jaccard verification of candidates only: attach the two gram
    // arrays (doc-level rows) and intersect per pair in codegen — candidate
    // count bounds the work, and no gram-level rows ever shuffle
    cand
      .join(sh.select(col("doc_id").as("a"), col("hs").as("ha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("hs").as("hb")), "b")
      .select(col("a"), col("b"),
        graft.functions.SortedIntersectSize(col("ha"), col("hb")).as("inter"),
        size(col("ha")).cast(LongType).as("sa"),
        size(col("hb")).cast(LongType).as("sb"))
      .withColumn("jaccard", round(col("inter") /
        (col("sa") + col("sb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** SimHash bit width: 60 bits — the token hash is the first 15 hex chars of
    * md5(token) parsed as an integer, which BOTH Spark (`conv(...,16,10)`,
    * whole-stage codegen'd) and the DuckDB oracle (`CAST('0x'||… AS BIGINT)`)
    * compute identically, making the signature oracle-checkable end-to-end. */
  val SimHashBits = 60

  /** 60-bit SimHash per document, computed ENTIRELY map-side: the md5-prefix
    * token hashes come from a transform lambda over the split array (token
    * multiplicity preserved — no dedup) and the ±1-per-bit accumulation runs
    * in the SimHashSig scalar expression. No explode, no 60-sum groupBy, no
    * shuffle — signatures are a projection over the document scan, which is
    * the correct 100 TB shape (the old formulation shuffled every token). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      graft.functions.SimHashSig(expr(
        "transform(split(text, ' '), " +
        "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"),
        SimHashBits).as("simhash"))

  /** SimHash near-dup pairs: 4 x 15-bit band buckets, verified by hamming <= maxHam. */
  def simhashPairs(spark: SparkSession, dir: String, maxHam: Int = 3): DataFrame = {
    val sig = simhash(spark, dir)
      .transform(ScratchCache.persist)
    sig.count() // materialize before the band explode + self-join fan-out
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF).as("bh")))
    val banded = sig.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** Benchmark decontamination: flag corpus documents whose token-n-gram
    * overlap with an EVALUATION set exceeds `threshold` — the standard
    * training-data hygiene step (drop/flag training docs that leak benchmark
    * content). Uses the same md5-prefix shingle hash as [[minhashLsh]], so it
    * is fully value-oracle-checkable.
    *
    * Scale shape: the eval set is small by nature (benchmarks are thousands
    * of docs; the corpus is billions), so its DISTINCT n-gram hash set is
    * broadcast and the corpus side is a map-side semi-join — nothing shuffles
    * at corpus scale except the per-doc gram counts, which [[shingles]]
    * already pays for its distinct.
    *
    * Output: (doc_id, n_grams, hits, overlap) for flagged corpus docs.
    */
  /** [[shingleArrays]] with xxhash64 instead of the md5-prefix hash: for
    * operators whose OUTPUT is hash-free (overlap counts/ratios) the hash
    * only has to be consistent within the job, so the codegen'd 64-bit hash
    * replaces the md5 hex round-trip. (MinHash keeps md5 — its signatures
    * ARE the output the oracle replays.) */
  private def shingleArraysFast(d: DataFrame, w: Int): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        s"array_distinct(CASE WHEN size(ws) > $w THEN " +
        s"transform(sequence(0, size(ws) - $w - 1), " +
        s"i -> xxhash64(concat_ws(' ', slice(ws, i + 1, $w)))) " +
        s"ELSE CAST(array() AS ARRAY<BIGINT>) END)").as("hs"))

  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 8,
      threshold: Double = 0.05): DataFrame = {
    // per-doc distinct gram arrays are built map-side; the corpus side
    // explodes ONCE into the broadcast semi-join (no dedup shuffle — arrays
    // are already per-doc distinct), and totals are a map-side size().
    // The arrays frame is materialized BEFORE the explode — Generate
    // re-evaluates an un-materialized lambda input per OUTPUT row.
    val cg = shingleArraysFast(corpus, n).transform(ScratchCache.persist)
    cg.count()
    val eg = shingleArraysFast(evalSet, n)
      .select(explode(col("hs")).as("h")).distinct()
    val totals = cg.select(col("doc_id"),
        size(col("hs")).cast(LongType).as("n_grams"))
      .filter(col("n_grams") > 0)
    val hits = cg.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(eg), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("overlap", round(col("hits") / col("n_grams"), 4))
      .filter(col("overlap") >= threshold)
      .select("doc_id", "n_grams", "hits", "overlap")
  }

  /** Corpus-boilerplate detection (C4-style repeated-content flagging):
    * token n-grams shared by more than `minDocs` documents are "boilerplate"
    * (headers, footers, license blocks, templated text); each document
    * reports how much of it is made of such grams. Downstream filters drop
    * or trim docs above a boilerplate fraction.
    *
    * Scale shape: gram doc-frequencies are one map-side-combine groupBy over
    * the exploded per-doc distinct gram frame; the per-doc fraction is one
    * more groupBy keyed by doc. Both shuffles move (hash, count) pairs only.
    * Output: (doc_id, n_grams, bp_grams, bp_frac) for docs with any
    * boilerplate gram. */
  def boilerplate(corpus: DataFrame, n: Int = 8, minDocs: Int = 4): DataFrame = {
    // materialize the ARRAYS frame before exploding: Generate re-evaluates
    // its (interpreted) gram-lambda input per OUTPUT row, so exploding the
    // un-materialized projection costs |grams| lambda evaluations instead
    // of |docs| (measured 4.5× on this operator)
    val arrs = ScratchCache.persist(shingleArraysFast(corpus, n))
    arrs.count()
    val cg = arrs.select(col("doc_id"), explode(col("hs")).as("h"))
    // one pass: per-gram doc-frequency, re-attached to the gram frame (both
    // sides hash-partitioned on h — the aggregate reuses the exchange), then
    // ONE per-doc aggregate computing total and boilerplate gram counts
    // together. No semi-join, no totals⋈hits join.
    val dfreq = cg.groupBy("h").agg(count(lit(1)).as("df"))
    cg.join(dfreq, Seq("h"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") > minDocs, 1L).otherwise(0L)).as("bp_grams"))
      .filter(col("bp_grams") > 0)
      .withColumn("bp_frac", round(col("bp_grams") / col("n_grams"), 4))
      .select("doc_id", "n_grams", "bp_grams", "bp_frac")
  }

  def boilerplateDir(spark: SparkSession, dir: String, n: Int = 8,
      minDocs: Int = 4): DataFrame =
    boilerplate(docs(spark, dir), n, minDocs)

  /** Cross-document duplicated-SPAN detection — the exact-substring-dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499): a token w-gram occurring in ≥2
    * DISTINCT documents marks its start position as duplicated; per doc we
    * report total grams, duplicated positions, and the LONGEST CONSECUTIVE
    * duplicated run (`max_run` grams ≈ a shared substring of max_run+w−1
    * tokens — the quantity substring dedup trims on). Differs from
    * [[boilerplate]] in both threshold (df ≥ 2: ANY cross-doc repeat, not
    * df > minDocs boilerplate mass) and output (positional run structure,
    * not gram fractions).
    *
    * Scale shape: positional grams are built MAP-SIDE from the token array
    * (one Generate, no position self-join); the dup-gram set is an h-keyed
    * count over per-doc-distinct (doc, h) pairs (map-side combine) rejoined
    * to the positional stream on the same hash partitioning — the set is
    * corpus-sized, so deliberately NO broadcast; the run structure costs one
    * doc-keyed window over DUPLICATED positions only (a small fraction of
    * the stream in a deduplicated corpus). Gram identity is xxhash64 — the
    * output is hash-free, so the hash only needs within-job consistency
    * (same convention as [[decontaminate]]). */
  def dupSpans(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    dupSpansOf(docs(spark, dir), w)

  def dupSpansOf(corpus: DataFrame, w: Int = 8): DataFrame = {
    // materialize BEFORE posexplode: Generate re-evaluates an un-materialized
    // lambda input per OUTPUT row (same pitfall as boilerplate/decontaminate)
    val arr = ScratchCache.persist(
      corpus.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), expr(
          s"CASE WHEN size(ws) > $w THEN transform(sequence(0, size(ws) - $w - 1), " +
          s"i -> xxhash64(concat_ws(' ', slice(ws, i + 1, $w)))) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END").as("gs")))
    arr.count()
    val pos = arr.select(col("doc_id"), posexplode(col("gs")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
    val dup = pos.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h")
    val flagged = pos.join(dup, Seq("h"), "left_semi")
    val tot = arr.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0)
    // consecutive duplicated positions share (i − row_number) — the classic
    // gaps-and-islands grouping, computed per doc over dup positions only
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val runs = flagged
      .withColumn("grp", col("i") - row_number().over(wn))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
    val agg = runs.groupBy("doc_id")
      .agg(sum("run").as("dup_grams"), max("run").as("max_run"))
    tot.join(agg, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("dup_grams"), col("max_run"))
  }

  /** [[decontaminate]] over the documents table, with the deterministic
    * doc_id % 20 == 0 slice standing in for the held-out benchmark. */
  def decontaminateDir(spark: SparkSession, dir: String, n: Int = 8,
      threshold: Double = 0.05): DataFrame = {
    val d = docs(spark, dir)
    decontaminate(d.filter(col("doc_id") % 20 =!= 0),
      d.filter(col("doc_id") % 20 === 0), n, threshold)
  }

  /** Transitive clusters over the SimHash near-dup pair graph
    * ([[clustersOf]] connected components). Both the pairs AND the components are
    * oracle-checkable — the DuckDB replica closes the same graph with a
    * recursive CTE — so the clustering operator itself is value-verified,
    * not just mechanism-tested. */
  def simhashClusters(spark: SparkSession, dir: String, maxHam: Int = 10): DataFrame =
    clustersOf(simhashPairs(spark, dir, maxHam).select("a", "b"))

  /** Blocked brute-force character-n-gram Jaccard: pairs only within
    * (source, length-bucket) blocks — the O(block²) baseline that LSH replaces.
    */
  def ngramJaccard(spark: SparkSession, dir: String, n: Int = 3,
      threshold: Double = 0.4, maxBlockDocs: Int = 4096): DataFrame =
    ngramJaccardOf(docs(spark, dir), n, threshold, maxBlockDocs)

  /** Blocked n-gram Jaccard over an explicit (doc_id, source, n_chars, text)
    * frame. The within-block self-join is quadratic in block membership, so a
    * single hot block (one source flooding one length bucket) is the scale
    * hazard of this operator: blocks holding more than `maxBlockDocs` docs are
    * EXCLUDED from the pairwise join (they belong to the [[minhashLsh]] path,
    * which stays sub-quadratic via banding). The excluded blocks are
    * enumerable via [[ngramOversizedBlocks]] for routing/monitoring; the cap
    * bounds the worst block at maxBlockDocs² candidate pairs regardless of
    * corpus size. */
  def ngramJaccardOf(d: DataFrame, n: Int = 3,
      threshold: Double = 0.4, maxBlockDocs: Int = 4096): DataFrame =
    ngramPairStats(d, n, maxBlockDocs)
      .withColumn("jaccard", round(col("inter") /
        (col("sa") + col("sb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")

  /** Asymmetric near-dup (quote / subset detection): max-containment
    * `|A∩B| / min(|A|, |B|)` over the same blocked candidate pairs as
    * [[ngramJaccardOf]] — a short document fully quoted inside a long one
    * scores 1.0 here while its Jaccard stays low. Same block/cap scale
    * shape; only the finishing formula differs. */
  def ngramContainment(spark: SparkSession, dir: String, n: Int = 3,
      threshold: Double = 0.5, maxBlockDocs: Int = 4096): DataFrame =
    ngramContainmentOf(docs(spark, dir), n, threshold, maxBlockDocs)

  def ngramContainmentOf(d: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxBlockDocs: Int = 4096): DataFrame =
    ngramPairStats(d, n, maxBlockDocs)
      .withColumn("containment",
        round(col("inter") / least(col("sa"), col("sb")), 4))
      .filter(col("containment") >= threshold)
      .select("a", "b", "containment")

  /** Shared candidate-pair statistics of the blocked n-gram family:
    * (a, b, inter, sa, sb) for every within-block doc pair. */
  private def ngramPairStats(d0: DataFrame, n: Int,
      maxBlockDocs: Int): DataFrame = {
    // the per-doc gram hashing below is the operator's dominant CPU and is
    // otherwise bound to the input's split count (one task on a one-split
    // local corpus) — spread it across the session's cores; the gate turns
    // the spread off for inputs big enough to scan wide on their own
    val d = Par.spread(d0)
    // ONE row per document, computed ENTIRELY map-side: the doc's distinct
    // gram set as an array (array_distinct over the gram transform — no
    // explode, no dedup shuffle, no collect). Pair intersections are then a
    // codegen'd array_intersect over the two ~|grams/doc| arrays per
    // candidate pair, so the gram-level equi-join (|pairs × shared grams|
    // rows, the old dominant shuffle) never materializes — the operator's
    // only shuffle is the doc-level block self-join.
    val gramArrs = d.select(col("doc_id"), expr(
        s"sort_array(array_distinct(transform(sequence(0, greatest(length(text) - $n, 0)), " +
        s"i -> xxhash64(substring(text, i + 1, $n)))))").as("hs"))
    // staggered double-bucketing: every doc lands in primary bucket
    // floor(len/64) and staggered bucket floor((len+32)/64), so near-dups
    // straddling a bucket boundary still share a block; (a,b,h) is deduped
    // before counting so the ratio stays exact.
    // Guard the quadratic join: drop blocks over the membership cap — BOTH the
    // anti-join and the membership join run on the doc-level frame (one row
    // per doc per bucket, ~1000× smaller than the gram frame; AQE broadcasts
    // it when small). The broadcast side is the OVERSIZED list, whose size is
    // bounded by corpus/maxBlockDocs (the keep-list grows with #sources ×
    // #length-buckets, unbounded).
    val oversized = ngramOversizedBlocks(d, maxBlockDocs)
      .select("source", "lenb", "is_primary")
    // pb_ok: did this doc's PRIMARY block survive the oversized cap? The
    // emit-once guard below suppresses the staggered-block copy of a pair
    // whenever the two primaries match — which silently LOST the pair when
    // that shared primary block had been dropped by the cap while the shared
    // staggered block survived (two docs in one oversized 64-char length
    // band, close enough to also share the +32 staggered bucket). Carrying
    // the flag re-arms the staggered emit exactly in that regime; one extra
    // broadcast left join on the narrow membership frame, build side bounded
    // by corpus/maxBlockDocs like the anti join's.
    val ovPrim = oversized.filter(col("is_primary"))
      .select(col("source"), col("lenb").as("pb"), lit(true).as("__pb_dropped"))
    val okMemb = blockMembership(d)
      .join(broadcast(oversized), Seq("source", "lenb", "is_primary"), "left_anti")
      .join(broadcast(ovPrim), Seq("source", "pb"), "left")
      .withColumn("pb_ok", col("__pb_dropped").isNull)
      .drop("__pb_dropped")
    // NO materialization barrier here: the self-join's two sides each
    // recompute the map-side gram arrays (cheap, |docs|-proportional, and
    // pipelined straight into the join's shuffle) — caching the array rows
    // measured slower than recomputing them. The membership side is hinted
    // SHUFFLE_HASH (build side = the narrow membership rows): left alone the
    // planner broadcast the ARRAY side, which serialized the whole gram
    // computation into one single-threaded broadcast build; a broadcast of
    // the membership side instead would be corpus-sized at 100 TB (2 rows
    // per doc). The shuffled-hash shape is scale-safe on both sides.
    val blocked = gramArrs.join(okMemb.hint("shuffle_hash"), Seq("doc_id"))
    // Doc-level block self-join: ~(block size)² pair rows per block (bounded
    // by maxBlockDocs), each carrying the two gram arrays. The staggered
    // double-bucketing can put a pair in BOTH its blocks; the pb (primary
    // bucket) guard emits each pair EXACTLY once — in its shared primary
    // block when the primaries match, else in the shared staggered block —
    // so the expensive per-pair intersection runs once per pair and the old
    // (a, b)-keyed dedup exchange disappears outright. The intersection
    // itself never shuffles: it is evaluated where the join row is produced.
    // emit-once: primary block when primaries match AND that block survived
    // the cap (x.pb === y.pb on a shared block implies same source, so
    // x.pb_ok === y.pb_ok — checking x suffices); else the staggered block
    val inter = blocked.alias("x").join(blocked.alias("y"),
        col("x.source") === col("y.source") && col("x.lenb") === col("y.lenb") &&
          col("x.is_primary") === col("y.is_primary") &&
          col("x.doc_id") < col("y.doc_id") &&
          (col("x.is_primary") || col("x.pb") =!= col("y.pb") || !col("x.pb_ok")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.SortedIntersectSize(col("x.hs"), col("y.hs")).as("inter"),
        size(col("x.hs")).cast(LongType).as("sa"),
        size(col("y.hs")).cast(LongType).as("sb"))
    inter
  }

  /** Doc-level (doc_id, source, pb, lenb, is_primary) block membership — the
    * staggered double-bucketing used by BOTH [[ngramJaccardOf]]'s guard and
    * [[ngramOversizedBlocks]] (single definition so the routing output always
    * matches which blocks the guarded join excludes). A block is (source,
    * lenb, is_primary), so a primary and a staggered bucket never merge.
    * Two rows per doc, each carrying the doc's primary bucket `pb`. */
  private def blockMembership(d: DataFrame): DataFrame = {
    val pb = (col("n_chars") / 64).cast(IntegerType)
    d.select(col("doc_id"), col("source"), pb.as("pb"),
        explode(array(
          struct(pb.as("lenb"), lit(true).as("is_primary")),
          struct(((col("n_chars") + 32) / 64).cast(IntegerType).as("lenb"),
            lit(false).as("is_primary")))).as("blk"))
      .select(col("doc_id"), col("source"), col("pb"), col("blk.lenb"), col("blk.is_primary"))
      .distinct()
  }

  /** The routing/monitoring companion of [[ngramJaccardOf]]: the
    * (source, lenb, is_primary, bn) blocks whose membership exceeds the
    * pairwise cap — exactly the blocks the guarded join excludes. Feed these
    * docs to [[minhashLsh]] (bucketed, sub-quadratic) instead. */
  def ngramOversizedBlocks(d: DataFrame, maxBlockDocs: Int = 4096): DataFrame =
    blockMembership(d)
      .groupBy("source", "lenb", "is_primary").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBlockDocs)

  /** Cross-split leakage audit: the content-hash split
    * ([[Curation.hashSplit]]) makes EXACT duplicates leakage-proof by
    * construction, but NEAR-duplicates (shared token n-grams) can still
    * straddle train and valid/test — the contamination that inflates eval
    * scores. This audit reports every valid/test doc sharing at least one
    * token `n`-gram with any train doc: (doc_id, split, n_grams,
    * leaked_grams, leak_frac).
    *
    * Scale shape (same discipline as [[decontaminate]], but with NO
    * broadcast: at 100 TB BOTH sides are corpus-sized — train ~90%, eval
    * ~10%): per-doc distinct gram arrays are built map-side; the train side
    * reduces to DISTINCT gram hashes (one gram-keyed exchange with map-side
    * partial dedup); the eval side joins it gram-keyed (left_semi — train
    * rows never fan out into the output) and aggregates per doc. Three
    * bounded exchanges total, all moving (hash) or (doc_id, hash) pairs. */
  def splitLeakage(corpus: DataFrame, n: Int = 8): DataFrame = {
    val split = Curation.hashSplitOf(corpus).select("doc_id", "split")
    // materialize arrays before exploding (Generate re-evaluates lambdas
    // per OUTPUT row — see decontaminate)
    val grams = shingleArraysFast(corpus, n).transform(ScratchCache.persist)
    grams.count()
    val g = grams.join(split, "doc_id")
    val trainH = g.filter(col("split") === "train")
      .select(explode(col("hs")).as("h")).distinct()
    val evalG = g.filter(col("split") =!= "train")
    val totals = evalG.select(col("doc_id"), col("split"),
      size(col("hs")).cast(LongType).as("n_grams"))
    val leaked = evalG.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(trainH, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("leaked_grams"))
    totals.join(leaked, Seq("doc_id"), "left")
      .withColumn("leaked_grams", coalesce(col("leaked_grams"), lit(0L)))
      .filter(col("leaked_grams") > 0)
      .withColumn("leak_frac", round(col("leaked_grams") / col("n_grams"), 4))
      .select("doc_id", "split", "n_grams", "leaked_grams", "leak_frac")
  }

  def splitLeakageDir(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    splitLeakage(docs(spark, dir), n)
}
