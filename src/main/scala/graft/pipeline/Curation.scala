package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * between dedup and the trainer: deterministic split assignment, stratified
  * sampling, GPT-style sequence packing, and quality-ranked duplicate-cluster
  * representative selection. All are value-oracle-checkable (deterministic,
  * no RNG — hashes stand in for randomness) and shuffle-bounded at 100 TB:
  *
  *  - [[hashSplit]] is pure map-side (no shuffle at all);
  *  - [[stratifiedSample]] shuffles once on the stratum key;
  *  - [[packChunks]] runs [[shardedCum]]'s two-exchange shard-parallel
  *    prefix sum (no single-task-per-source window);
  *  - [[clusterRep]] works on the output-sized near-dup cluster frame.
  */
object Curation {

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"$dir/documents.parquet")

  /** Exact distributed exclusive prefix sum of `valueCol` over the total
    * order (source, orderCols) — the shard-parallel replacement for a
    * `Window.partitionBy(source).orderBy(orderCols)` running sum, which
    * would put each source's ENTIRE stream on one task (a multi-TB
    * sequential window at 100 TB with a handful of sources).
    *
    * Two-phase exact scheme:
    *   1. range-partition the rows by the order key itself
    *      (`repartitionByRange` on (source, orderCols)) — order-PRESERVING
    *      by construction: within a source, every row of shard k orders
    *      before every row of shard k+1 — and tag each row with its shard
    *      (`spark_partition_id`);
    *   2. shard-local exclusive running sum (window on (source, shard) —
    *      bounded by the shard size, parallelism = shard count);
    *   3. per-(source, shard) totals (|sources|·|shards| rows), exclusive-
    *      prefixed by shard id (a trivially tiny window), broadcast back
    *      and added.
    *
    * The result is bit-identical to the global window for any shard
    * boundaries, because local-prefix + preceding-shard totals IS the global
    * exclusive prefix whenever sharding preserves the order — so the
    * sample-based range boundaries need only be order-consistent, not
    * reproducible. (In-run determinism still holds: RangePartitioner samples
    * with a partition-index-derived seed, so the offsets branch and the data
    * branch see identical shard ids even if the exchange is recomputed
    * rather than reused.) Callers' order keys are unique per row, so no tie
    * can straddle a boundary. Cost: one range exchange + one hash exchange
    * of the data (vs one hash exchange for the serial window) — the price of
    * removing the single-task-per-source bottleneck. */
  private[pipeline] def shardedCum(df: DataFrame, valueCol: String,
      orderCols: Seq[String], cumName: String = "cum"): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val rangeKeys = col("source") +: orderCols.map(col)
    // scratch-persist the sharded frame: the offsets branch and the data
    // branch project DIFFERENT columns, so Spark plans two separate scans
    // and two separate range exchanges (each with its own boundary-sampling
    // job) instead of one ReusedExchange — verified in the r15 curate_pack
    // plan (two `rangepartitioning(source, …)` exchanges over two parquet
    // scans). One cached pass replaces scan+range-shuffle ×2; recomputing is
    // strictly more expensive than the cache at every scale (guide §5), and
    // the persisted shard ids are computed once, not merely
    // deterministically twice.
    val sharded = ScratchCache.persist(
      df.repartitionByRange(n, rangeKeys: _*)
        .withColumn("__graft_shard", spark_partition_id()))
    val wLocal = Window.partitionBy(col("source"), col("__graft_shard"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wShard = Window.partitionBy(col("source")).orderBy(col("__graft_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("source"), col("__graft_shard"))
      .agg(sum(col(valueCol)).as("__tot"))
      .select(col("source"), col("__graft_shard"),
        coalesce(sum(col("__tot")).over(wShard), lit(0L)).as("__off"))
    sharded.join(broadcast(offsets), Seq("source", "__graft_shard"))
      .withColumn(cumName,
        coalesce(sum(col(valueCol)).over(wLocal), lit(0L)) + col("__off"))
      .drop("__graft_shard", "__off")
  }

  /** Deterministic CONTENT-hash train/valid/test split: bucket =
    * md5(text)-derived value in [0,100); `< trainPct` → train, next
    * `validPct` → valid, rest → test.
    *
    * Hashing the CONTENT (not the doc id) makes the split leakage-proof by
    * construction: byte-identical duplicates land in the same bucket, so a
    * doc can never appear in train while its exact copy sits in test. It is
    * also stable under re-sharding/re-ingestion (ids may change, bytes
    * don't). Map-side only — at 100 TB this is a projection over the scan,
    * no shuffle, no state. */
  def hashSplit(spark: SparkSession, dir: String,
      trainPct: Int = 90, validPct: Int = 5): DataFrame =
    hashSplitOf(docs(spark, dir), trainPct, validPct)

  /** [[hashSplit]] over an explicit (doc_id, text, …) frame. */
  def hashSplitOf(d: DataFrame,
      trainPct: Int = 90, validPct: Int = 5): DataFrame =
    d.select(
        col("doc_id"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType) % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))

  /** Exact-k uniform-without-replacement sample per stratum: rank docs inside
    * each `source` by (md5(text), doc_id) — a deterministic stand-in for a
    * random permutation — and keep the first k.
    *
    * Scale shape: one shuffle on the stratum key, then a per-stratum sort.
    * For strata of millions of docs the full sort is wasteful — the
    * rank-by-hash formulation admits a two-phase refinement (per-partition
    * top-k, then top-k of top-ks) because the k smallest hashes of a stratum
    * are the k smallest of its partitions' top-ks; Spark's window is kept
    * here because AQE splits skewed strata and k is tiny. */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        row_number().over(w).cast(LongType).as("rk"))
      .filter(col("rk") <= k)
  }

  /** GPT-style sequence packing (concat-and-chunk): within each `source`
    * stream, documents in doc_id order are concatenated into one token
    * stream that is cut every `budget` tokens. Emits, per document, the
    * chunk it starts in, its token offset inside that chunk, and whether it
    * spans a chunk boundary (real packing pipelines then split or drop the
    * spanning tail). Token count = whitespace tokens, matching
    * [[TextStats.tokens]].
    *
    * Scale shape: chunk assignment is a pure function of the exclusive
    * running token sum, computed by the shard-parallel exact prefix sum
    * ([[shardedCum]]) — no collect, no sequential driver pass, and no
    * single-task-per-source window: each source's stream is range-sharded
    * and the shard offsets stitch the global sum back exactly. */
  def packChunks(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val t = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    shardedCum(t, "n_tokens", Seq("doc_id"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        floor(col("cum") / budget).as("chunk_id"),
        (col("cum") % budget).as("chunk_off"),
        (floor((col("cum") + col("n_tokens") - 1) / budget) >
          floor(col("cum") / budget)).as("spans"))
  }

  /** Sliding-window document chunker with overlap — the long-document
    * splitting primitive of RAG indexing and fixed-context pretraining
    * (window `win` tokens, stride `win − overlap`; the final chunk is the
    * remainder, shorter chunks are kept so coverage is total). Each chunk
    * carries its token span and an md5 content fingerprint, so a downstream
    * index or dedup pass never needs to re-derive chunk boundaries.
    *
    * Scale shape: one scan — tokenize map-side, explode a per-doc
    * `sequence(0, n_chunks−1)`, slice the token array per chunk. Output
    * rows ≈ corpus tokens / stride; no shuffle anywhere (the explode is
    * pipelined), which is the only acceptable shape for a 100 TB chunker. */
  def chunkDocs(spark: SparkSession, dir: String,
      win: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < win, "need 0 <= overlap < win")
    val stride = win - overlap
    docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      // 1 + ceil(max(0, n − win) / stride) windows cover n tokens exactly
      .withColumn("nc",
        (floor((greatest(col("n") - win, lit(0L)) + (stride - 1)) / stride) + 1)
          .cast(LongType))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(win.toLong), col("n") - col("chunk_idx") * stride).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(win))))
          .as("chunk_hash"))
  }

  /** The chained pretraining shape: chunk → dedup-by-chunk_hash → pack.
    * [[chunkDocs]] and [[packChunks]] are separately oracle-checked; a real
    * pipeline runs them composed, with an exact-dedup between (identical
    * chunk content — boilerplate, repeated headers — survives only once,
    * first occurrence by (doc_id, chunk_idx) kept). The packer then cuts the
    * per-source stream of SURVIVING chunks every `budget` tokens.
    *
    * Scale shape, end to end: ONE scan of documents (chunking is the same
    * zero-shuffle pipelined explode as [[chunkDocs]], with `source` carried),
    * then exactly TWO hash exchanges — chunk_hash for the dedup window,
    * source for the packing window. Nothing in the chain re-reads the corpus
    * or collects to the driver; the chain's cost at 100 TB is the two
    * exchanges over the chunk frame, pinned by a PipelineSpec plan test. */
  /** The chunker core over an explicit (doc_id, source, text, …) frame —
    * a pure pipelined projection (tokenize, explode a per-doc chunk-index
    * sequence, slice + hash), so the SAME plan runs unmodified over a
    * streaming frame ([[graft.streaming.StreamOps.chunkStream]]): no state,
    * no watermark. Output: (doc_id, source, chunk_idx, n_tok, chunk_hash). */
  def chunkOf(d: DataFrame, win: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < win, "need 0 <= overlap < win")
    val stride = win - overlap
    d.select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .withColumn("nc",
        (floor((greatest(col("n") - win, lit(0L)) + (stride - 1)) / stride) + 1)
          .cast(LongType))
      .select(col("doc_id"), col("source"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        least(lit(win.toLong), col("n") - col("chunk_idx") * stride).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"), lit(win))))
          .as("chunk_hash"))
  }

  def chunkPack(spark: SparkSession, dir: String,
      win: Int = 64, overlap: Int = 16, budget: Int = 256): DataFrame = {
    val chunks = chunkOf(docs(spark, dir), win, overlap)
    val wd = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val deduped = chunks
      .withColumn("rk", row_number().over(wd))
      .filter(col("rk") === 1).drop("rk")
    shardedCum(deduped, "n_tok", Seq("doc_id", "chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"), col("source"), col("n_tok"),
        col("chunk_hash"),
        floor(col("cum") / budget).as("pack_id"),
        (col("cum") % budget).as("pack_off"),
        (floor((col("cum") + col("n_tok") - 1) / budget) >
          floor(col("cum") / budget)).as("spans"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed n-gram features are under a TARGET
    * distribution (here: the docs of `targetSource`, standing in for the
    * high-quality seed corpus) than under the raw corpus. Features are word
    * unigrams + bigrams hashed into `buckets` buckets (the paper's hashed
    * n-gram generative model); per-bucket log-ratios use add-one smoothing.
    *
    * Determinism device: λ(bucket) = round((ln p_target − ln p_raw)·1e6) is
    * fixed-pointed ONCE per bucket (exact-integer operands in each division,
    * one IEEE ln each — the [[TextStats.surprisal]] device), so the per-doc
    * score is an order-free INTEGER sum of λ values.
    *
    * Scale shape: ONE action over the corpus — the map-side feature explode
    * feeds a single bucket-keyed aggregate carrying both the raw and the
    * target count (conditional count; map-side combine, `buckets` rows
    * collected), from which nt/nr are local sums; the λ table is built from
    * those `buckets` rows (same Spark round/log expression as before, so
    * values are bit-identical) and shipped back as a bucket-indexed ARRAY
    * LITERAL into a second, PURELY MAP-SIDE pass: per document the feature
    * buckets are computed in-row and the score is an in-row integer fold
    * over element_at(λ, b+1) — no join, no explode shuffle, no doc-keyed
    * exchange anywhere in the scoring pass (the r14 shape re-exploded the
    * corpus into a broadcast join + groupBy, paying one corpus-sized
    * exchange and evaluating the md5 bucket hash twice per feature under
    * the join-key null filter). The corpus is scanned exactly twice and the
    * exploded (~2×-token-count) frame is never cached. */
  def dsirWeights(spark: SparkSession, dir: String,
      targetSource: String = "src0", buckets: Int = 1024): DataFrame = {
    import spark.implicits._
    // per-doc feature-bucket array, computed entirely map-side (unigrams ++
    // bigrams, md5-bucketed) — shared by both passes
    val bs = expr(
      "transform(concat(ws, CASE WHEN size(ws) >= 2 THEN " +
      "transform(sequence(0, size(ws) - 2), " +
      "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2))) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END), " +
      s"f -> pmod(CAST(conv(substring(md5(f), 1, 8), 16, 10) AS BIGINT), " +
      s"${buckets}L))").as("bs")
    // pass 1 explodes the RAW feature strings and hashes after the Generate
    // (exploding the hashed array would re-evaluate the md5 transform lambda
    // once per OUTPUT row — the Generate pitfall, O(features²) per doc)
    val bucketCounts = docs(spark, dir).select(col("source"),
        split(col("text"), " ").as("ws"))
      .select(col("source"), explode(concat(col("ws"), expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
        "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2))) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END"))).as("f"))
      .select(col("source"),
        pmod(conv(substring(md5(col("f")), 1, 8), 16, 10).cast(LongType),
          lit(buckets.toLong)).as("b"))
      .groupBy("b").agg(
        count(lit(1)).as("cr"),
        count(when(col("source") === targetSource, lit(1))).as("ct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nr = bucketCounts.map(_._2).sum
    val nt = bucketCounts.map(_._3).sum
    // λ values from the SAME Spark round/log expression as the join shape —
    // bit-identical doubles — materialized into a bucket-indexed array
    val lamRows = bucketCounts.toSeq.toDF("b", "cr", "ct").select(col("b"),
      round((log((col("ct") + 1) / lit((nt + buckets).toDouble)) -
        log((col("cr") + 1) / lit((nr + buckets).toDouble))) * 1e6)
        .cast(LongType).as("lam"))
      .collect()
    val lamArr = new Array[Long](buckets)
    lamRows.foreach(r => lamArr(r.getLong(0).toInt) = r.getLong(1))
    val lamLit = array(lamArr.toSeq.map(lit(_)): _*)
    val withBs = docs(spark, dir).select(col("doc_id"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), bs)
    withBs.select(col("doc_id"),
      size(col("bs")).cast(LongType).as("n_feats"),
      aggregate(transform(col("bs"),
          b => element_at(lamLit, (b + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x).as("dsir_micro"))
  }

  /** Domain-mixture reweighting: per-source token mass and the sampling
    * weight that reshapes the corpus to a TARGET mixture (uniform across
    * sources by default — the weight is target_share / natural_share, the
    * multiplier a sampler applies to each domain's documents). The static-
    * weights half of DoReMi-style mixture tuning, and the bookkeeping every
    * multi-source pretraining corpus needs.
    *
    * Scale shape: one map-side token count + one groupBy(source) — the
    * result is |domains| rows. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("source"),
      size(split(col("text"), " ")).cast(LongType).as("nt"))
    // totals via an unpartitioned window over the |domains|-row aggregate —
    // one job, no driver round-trip (the frame is domain-count sized)
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("__tot", sum(col("n_tokens")).over(w))
      .withColumn("__nsrc", count(lit(1)).over(w))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("__tot"), 6).as("natural_share"),
        round((lit(1.0) / col("__nsrc")) / (col("n_tokens") / col("__tot")), 4)
          .as("weight"))
  }

  /** Quality-ranked duplicate-cluster representative selection: close the
    * SimHash near-dup graph into clusters ([[Dedup.simhashClusters]]), then
    * keep the HIGHEST-QUALITY member of each cluster (longest text, ties to
    * the smallest doc_id) instead of the arbitrary min-id member. Docs
    * outside any cluster represent themselves.
    *
    * Output: (doc_id, rep, is_rep) for every document — `rep` is the doc to
    * keep, `is_rep` marks the kept ones; filtering `is_rep` yields the
    * deduplicated corpus.
    *
    * Scale shape: the cluster frame is output-sized (near-dup graphs are
    * ≪ corpus); the rep choice is one window over the cluster key; the final
    * join brings cluster labels back to the full corpus on doc_id. */
  def clusterRep(spark: SparkSession, dir: String, maxHam: Int = 10): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("n_chars"))
    val clustered = Dedup.simhashClusters(spark, dir, maxHam)
      .withColumnRenamed("keep", "cluster")
    val labeled = d.join(clustered, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled
      .withColumn("rep", first(col("doc_id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("doc_id"), col("rep"), (col("doc_id") === col("rep")).as("is_rep"))
  }

  /** Fasttext-style linear quality classifier TRAINED IN-ENGINE: a batch
    * perceptron over integer token-count features (bias, token count,
    * marker-word counts), 3 epochs. Every quantity is an integer — features
    * are counts, the misclassification margin test is an integer dot, and
    * the epoch update w += SUM(y*x over misclassified docs) is an order-free
    * integer sum — so training is exactly replicable by an unrolled-epoch
    * DuckDB oracle (same device as the integer Lloyd/PageRank operators).
    * The demo target is the doc's length class (n_chars >= 300), learnable
    * from the token-count feature on this corpus; the MECHANISM — broadcast
    * weights, map-side margin test, one aggregation per epoch — is the
    * linear-classifier quality-filter shape (fastText-style) production
    * pipelines run at 100 TB, where each epoch is one scan + one 4-long
    * reduce, nothing driver-side but the 4 weights.
    *
    * Output: (doc_id, y, pred, correct) under the final weights. */
  def perceptronLengthClassifier(spark: SparkSession, dir: String,
      epochs: Int = 3): DataFrame = {
    val raw = ScratchCache.persist(docs(spark, dir).select(
      col("doc_id"),
      when(col("n_chars") >= 300, 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      size(split(col("text"), " ")).cast("long").as("x1"),
      size(filter(split(col("text"), " "), t => t === "the")).cast("long").as("x2"),
      size(filter(split(col("text"), " "), t => t === "stream")).cast("long").as("x3")))
    // center the dominant feature at its INTEGER corpus mean (sum DIV count —
    // label-blind standardization, computed in-engine): without it the batch
    // update oscillates because the bias term cannot outgrow the raw token
    // scale; with it the separator sits near the origin and one epoch lands
    val m = raw.agg(sum("x1").as("s"), count(lit(1)).as("n")).first()
    val meanX1 = m.getLong(0) / m.getLong(1)
    val feats = ScratchCache.persist(
      raw.withColumn("x1", col("x1") - lit(meanX1)))
    var w = Array(0L, 0L, 0L, 0L)
    for (_ <- 0 until epochs) {
      val (w0, w1, w2, w3) = (w(0), w(1), w(2), w(3))
      val margin = col("y") * (lit(w0) * col("x0") + lit(w1) * col("x1") +
        lit(w2) * col("x2") + lit(w3) * col("x3"))
      val upd = feats.filter(margin <= 0)
        .agg(sum(col("y") * col("x0")), sum(col("y") * col("x1")),
          sum(col("y") * col("x2")), sum(col("y") * col("x3")))
        .first()
      def g(i: Int) = if (upd.isNullAt(i)) 0L else upd.getLong(i)
      w = Array(w(0) + g(0), w(1) + g(1), w(2) + g(2), w(3) + g(3))
    }
    val score = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    feats.select(col("doc_id"), col("y"),
        when(score > 0, 1L).otherwise(-1L).as("pred"))
      .withColumn("correct", col("pred") === col("y"))
  }

  /** Token-budget mixture sampling: fill a GLOBAL token budget with an
    * equal per-source quota (the flattening mix [[domainMixture]] computes
    * weights for), taking each source's docs in the deterministic
    * (md5(text), doc_id) hash order until the raw cumulative token count
    * crosses the quota — prefix rule: a doc is taken iff its cumulative END
    * stays within quota. No RNG; the kept set is stable under re-sharding.
    *
    * Scale shape: the cumulative token count is [[shardedCum]]'s
    * shard-parallel exact prefix sum over the (md5, doc_id) hash order — no
    * single-task-per-source window; the quota divisor is ONE tiny
    * distinct-count aggregate broadcast back. */
  def tokenBudgetSample(spark: SparkSession, dir: String,
      budget: Long = 8000): DataFrame = {
    val t = docs(spark, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
      md5(col("text")).as("__h"))
    val k = t.agg(count_distinct(col("source")).as("k"))
    shardedCum(t, "n_tokens", Seq("__h", "doc_id"))
      .join(broadcast(k))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        ((col("cum") + col("n_tokens")) <= expr(s"${budget}L div k")).as("taken"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359
    * §4.3): rank every document by its corpus-LM surprisal and label the
    * head / middle / tail thirds — downstream mixes sample predominantly
    * from the head (well-modeled text) and discard or down-weight the tail.
    * Surprisal is [[TextStats.surprisal]]'s order-free integer micro-nat
    * mean; thresholds are the exact 1/3 and 2/3 quantiles of the per-doc
    * surprisal distribution (rounded to 6dp on both engines so the bucket
    * comparison is boundary-stable).
    *
    * Scale shape: surprisal's three bounded exchanges, then ONE tiny
    * two-value aggregate for the thresholds, broadcast back over the frame
    * as a map-side comparison. At 100 TB swap the exact `percentile` for
    * `percentile_approx` (CCNet itself computes thresholds on a sample);
    * nothing else changes — bucketing stays scan-shaped. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val s = TextStats.surprisal(spark, dir)
    val q = s.agg(
      round(expr("percentile(surprisal, 1.0D/3.0D)"), 6).as("q1"),
      round(expr("percentile(surprisal, 2.0D/3.0D)"), 6).as("q2"))
    s.join(broadcast(q))
      .select(col("doc_id"), col("surprisal"),
        when(col("surprisal") <= col("q1"), "head")
          .when(col("surprisal") <= col("q2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Apply the [[domainMixture]] weights as a DETERMINISTIC weighted
    * sample — the mixture-execution step: doc kept iff its content hash
    * (uniform on [0, 2⁴⁰)) falls below `acceptance · 2⁴⁰`, where acceptance
    * = min(1, weight · baseRate) integer-scaled to millionths. Hash-based
    * thresholding makes the sample reproducible (re-runs keep the SAME
    * docs — rand() would not), map-side per doc, and weight-proportional in
    * expectation. The 40-bit domain keeps `h·10⁶ < accept·2⁴⁰` inside exact
    * long arithmetic (both sides ≤ ~1.2e18). Output: every doc with its
    * acceptance (ppm) and the keep flag.
    *
    * Scale shape: the weight table is a |sources|-row broadcast; everything
    * else is one scan-shaped projection. */
  def weightedSample(spark: SparkSession, dir: String,
      baseRate: Double = 0.5): DataFrame = {
    val w = domainMixture(spark, dir)
      .select(col("source"), col("weight"))
    val accept = least(round(col("weight") * baseRate * 1e6).cast("long"),
      lit(1000000L))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(col("text")), 1, 10), 16, 10).cast("long").as("h"))
      .join(broadcast(w), "source")
      .select(col("doc_id"), col("source"),
        accept.as("accept_ppm"),
        (col("h") * lit(1000000L) < accept * lit(1L << 40)).as("keep"))
  }

  /** Data-constrained epoch planning (the repeat-count side of mixture
    * construction, à la "Scaling Data-Constrained Language Models",
    * arXiv:2305.16264: when a domain is smaller than its budget share, repeat
    * it — up to the point repeats stop helping, capped here at `maxRepeats`).
    * Per source: its token mass, the per-source budget share
    * (`budget div |sources|`), the integer repeat count
    * `min(ceil(share / tokens), maxRepeats)`, and the planned token total.
    * All integer arithmetic (ceil as `(share + tokens − 1) div tokens`).
    *
    * Scale shape: one (source)-keyed token-count aggregate (|sources| rows),
    * one unpartitioned window over that tiny frame for the source count —
    * map-side everything else. */
  def repeatPlan(spark: SparkSession, dir: String, budget: Long = 100000L,
      maxRepeats: Long = 4L): DataFrame = {
    val d = docs(spark, dir).select(col("source"),
      size(split(col("text"), " ")).cast(LongType).as("nt"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d.groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("__nsrc", count(lit(1)).over(w))
      .withColumn("share", expr(s"${budget}L DIV __nsrc"))
      .withColumn("repeats",
        least(expr("(share + n_tokens - 1) DIV n_tokens"), lit(maxRepeats)))
      .select(col("source"), col("n_tokens"), col("share"), col("repeats"),
        (col("repeats") * col("n_tokens")).as("planned_tokens"))
  }
}
