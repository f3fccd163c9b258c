package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators: token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All are single-pass columnar transforms (no shuffle
  * except where grouped) — at 100 TB these run map-side over the document scan.
  */
object TextStats {

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"$dir/documents.parquet")

  /** Whitespace tokenization + a BPE-ish subword proxy (4-char pieces). */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      // BPE-ish proxy: ceil(word-length / 4) pieces per word
      expr("aggregate(transform(split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS LONG))," +
        " 0L, (acc, x) -> acc + x)").as("n_subwords"),
      round(expr("aggregate(transform(split(text, ' '), w -> length(w)), 0L, " +
        "(acc, x) -> acc + x)") / size(split(col("text"), " ")), 4).as("avg_tok_len"))

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is")

  /** Quality heuristics: stopword ratio, type/token ratio, digit & punct density. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityOf(docs(spark, dir))

  /** [[quality]] over an explicit (doc_id, text, …) frame. Pure map-side
    * projections — the SAME plan works unmodified on a streaming frame
    * (StreamOps.qualityStream): scoring needs no state, no watermark. */
  def qualityOf(d: DataFrame): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    d.select(
      col("doc_id"),
      round(expr(s"size(filter(split(text, ' '), w -> w IN ($stopList)))") /
        size(split(col("text"), " ")), 4).as("stop_ratio"),
      round(size(array_distinct(split(col("text"), " "))) /
        size(split(col("text"), " ")), 4).as("type_token"),
      round((length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))) / length(col("text")), 4)
        .as("digit_ratio"),
      round((length(col("text")) -
        length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))) / length(col("text")), 4)
        .as("punct_ratio"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1), adapted to the
    * corpus's single-line texts at word granularity:
    *  - dup_word_frac: fraction of word occurrences that repeat an earlier word
    *    ((n_words − n_distinct_words) / n_words; line-dedup analogue);
    *  - top2_frac / top3_frac: the largest character coverage any single
    *    word 2-gram / 3-gram achieves (count × gram length / total chars —
    *    max over grams is deterministic where "the most frequent gram" can tie).
    * Shape at 100 TB: the gram counts are one explode + hash-groupBy per n-gram
    * size keyed by (doc_id, gram) — fully distributed, no per-doc collect.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("nc"),
      split(col("text"), " ").as("ws"))
    val s = base.select(col("doc_id"), col("nc"),
      size(col("ws")).cast("long").as("nw"),
      size(array_distinct(col("ws"))).cast("long").as("ndw"))
    def topGram(n: Int): DataFrame = {
      val gram = (0 until n).map(j => s"element_at(ws, i+${j + 1})").mkString(", ' ', ")
      base.select(col("doc_id"), explode(expr(
          s"CASE WHEN size(ws) >= $n THEN transform(sequence(0, size(ws) - $n), " +
          s"i -> concat($gram)) ELSE array() END")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max(col("cnt") * length(col("g"))).as(s"c$n"))
    }
    s.join(topGram(2), "doc_id").join(topGram(3), "doc_id")
      .select(col("doc_id"),
        round((col("nw") - col("ndw")) / col("nw"), 4).as("dup_word_frac"),
        round(col("c2") / col("nc"), 4).as("top2_frac"),
        round(col("c3") / col("nc"), 4).as("top3_frac"))
  }

  /** Composite quality filter: C4/Gopher-style keep/drop decision per document,
    * composed from the already-oracle-checked stats (token counts, stopword
    * ratio, type/token diversity, top-2-gram repetition). `reason` is the FIRST
    * failing rule in a fixed order, so the decision is deterministic and
    * auditable. Thresholds are corpus-calibrated defaults a production pipeline
    * would tune.
    */
  def qualityFilter(spark: SparkSession, dir: String,
      minTokens: Long = 20, maxTokens: Long = 100000,
      minStopRatio: Double = 0.01, minTypeToken: Double = 0.45,
      maxTop2Frac: Double = 0.15): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    // top-2-gram character coverage WITHOUT the explode + per-doc groupBy +
    // join-back of [[repetition]]: the grams of ONE document fit in the row,
    // so sort them and fold a run-length max in a single `aggregate` — the
    // per-gram count × gram length max is identical, but the whole operator
    // stays a map-side projection over one scan (at 100 TB the old shape's
    // ~5 corpus scans + 3 doc_id shuffles were the dominant cost).
    val run = "CASE WHEN g <=> a.prev THEN a.run + 1 ELSE CAST(1 AS BIGINT) END"
    val c2 = expr(
      "aggregate(array_sort(transform(sequence(0, size(ws) - 2), " +
      "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2)))), " +
      "named_struct('prev', CAST(NULL AS STRING), " +
      "'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), " +
      s"(a, g) -> named_struct('prev', g, 'run', $run, " +
      s"'best', greatest(a.best, ($run) * length(g))), a -> a.best)")
    docs(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nc"),
        split(col("text"), " ").as("ws"))
      // docs with <2 words have no 2-gram — excluded, as in the join shape
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        round(expr(s"size(filter(ws, w -> w IN ($stopList)))") /
          size(col("ws")), 4).as("stop_ratio"),
        round(size(array_distinct(col("ws"))) / size(col("ws")), 4).as("type_token"),
        round(c2 / col("nc"), 4).as("top2_frac"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("stop_ratio") < minStopRatio, "low_stopword")
          .when(col("type_token") < minTypeToken, "low_diversity")
          .when(col("top2_frac") > maxTop2Frac, "repetitive")
          .otherwise("ok").as("reason"))
      .withColumn("keep", col("reason") === "ok")
  }

  /** Token-count histogram over the corpus (bucket width 10): the corpus-level
    * length distribution a pipeline inspects before choosing filter
    * thresholds. One map-side bucket computation + one hash-groupBy.
    */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir)
      .select((floor(col("n_tokens") / 10) * 10).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))

  /** Character-trigram language profiles: the most frequent trigrams of each
    * language's function words — the classic n-gram-profile language-ID
    * signal (Cavnar & Trenkle 1994 style, profile fixed in code so the
    * operator is deterministic and oracle-replicable). */
  private val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " th", "and", "nd ", " an", "ing", "ng ", " of",
      "of ", " to", "to ", "ion", " in", "ed ", "is ", " is", "at ", "es ", "er "),
    "de" -> Seq("der", "er ", " de", "ie ", "die", "und", "nd ", " un", "ein",
      "ich", "ch ", " ei", "sch", "en ", "das", " da", "ung", "ist", " is", "cht"),
    "fr" -> Seq("es ", " de", "de ", "le ", " le", "ent", "nt ", "la ", " la",
      "et ", " et", "les", "que", " qu", "ue ", "des", "ion", "eur", " pa", "re "))

  /** N-gram language-ID: score = fraction of the document's character
    * trigrams (occurrence-weighted) that hit each language's profile;
    * winner by (score, fixed language priority). Entirely map-side — the
    * trigram transform, the per-profile membership counts, and the argmax
    * are projections over the scan (no shuffle at any scale). */
  def langidNgram(spark: SparkSession, dir: String): DataFrame = {
    val grams = expr(
      "CASE WHEN length(text) >= 3 THEN transform(sequence(0, length(text) - 3), " +
      "i -> substring(lower(text), i + 1, 3)) ELSE CAST(array() AS ARRAY<STRING>) END")
    val scored = docs(spark, dir).select(col("doc_id"), grams.as("gs"))
    val scoreCols = trigramProfiles.map { case (lang, prof) =>
      val set = prof.map(g => s"'${g.replace("'", "''")}'").mkString(", ")
      (lang, expr(s"size(filter(gs, g -> g IN ($set)))") / size(col("gs")))
    }
    val withScores = scored.select(col("doc_id") +:
      scoreCols.map { case (l, c) => round(c, 4).as(s"s_$l") }: _*)
    // argmax with fixed priority on ties (en, then de, then fr)
    val best =
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") > 0, "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
      .when(col("s_fr") > 0, "fr")
      .otherwise("unknown")
    withScores.select(col("doc_id"), col("s_en"), col("s_de"), col("s_fr"),
      best.as("pred_lang"))
  }

  /** Corpus-wide vocabulary induction: the top-k tokens by occurrence count
    * (ties broken lexicographically), ranked — the frequency table a
    * tokenizer-training step starts from.
    *
    * Scale shape: the token count is the canonical map-side-combine groupBy
    * (partial counts per partition, one shuffle keyed by token); the top-k
    * cut is a TakeOrderedAndProject (per-partition heaps, no global sort);
    * the rank window runs over k rows only. */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val counts = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Per-document top-k terms by TF-IDF (keyword extraction — the relevance
    * signal quality-classifier features and dedup-by-topic both start from).
    * score = tf · ln(N/df), rounded to 4 decimals BEFORE the rank cut so the
    * top-k boundary is deterministic across engines (ln's last ulp is not
    * contractually identical between JVM and the oracle engine — same
    * rounded-rank device as the cosine in [[Similarity]]); ties break on the
    * token.
    *
    * Scale shape: tf is the canonical map-side-combine groupBy on
    * (doc, token); df aggregates the tf frame again on token (|vocab| rows,
    * far smaller than the exploded stream); the scoring join is tok-keyed —
    * vocabulary-sized, NOT corpus-sized — and the per-doc rank window
    * re-shuffles on doc_id only the |docs|·|distinct terms per doc| tf rows.
    * No step touches |docs|² or collects to the driver; N is one count()
    * aggregate. */
  def tfidfTop(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val d = docs(spark, dir)
    val n = d.count()
    // persisted: both the df aggregate and the scoring join read this frame —
    // without the persist each branch re-explodes the whole corpus
    val tf = ScratchCache.persist(
      d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .withColumn("score", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"), col("rk"))
  }

  /** CCNet-style unigram surprisal (the perplexity-filter primitive of
    * LLM-corpus curation: docs whose tokens are improbable under the corpus
    * LM are flagged for the quality tails). Per-token surprisal
    * ln(N/count(tok)) is computed ONCE per token occurrence and immediately
    * fixed-pointed to integer micro-nats — so the per-doc accumulation is an
    * order-free INTEGER sum, immune to float summation order across
    * partitions (`ln`'s own rounding is one IEEE op per distinct count value,
    * shared by both engines). Output: (doc_id, n_toks, surprisal) with
    * surprisal = mean micro-nats / 1e6 rounded to 4 decimals.
    *
    * Scale shape: one token-keyed count (map-side combine), one vocab-sized
    * join back to the token stream, one doc-keyed sum — the same three
    * exchanges at any corpus size; N is a single count() aggregate. */
  def surprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .transform(ScratchCache.persist)
    val n = toks.count()
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    toks.join(cnt, "tok")
      .select(col("doc_id"),
        round(log(lit(n.toDouble) / col("c")) * 1e6).cast("long").as("micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("micro").as("m"))
      .select(col("doc_id"), col("n_toks"),
        round(col("m") / (col("n_toks") * 1e6), 4).as("surprisal"))
  }

  /** Bigram LM surprisal with unigram interpolation — one model order up
    * from [[surprisal]] (CCNet proper scores with a 5-gram KenLM; the bigram
    * shows the n-gram-LM shape at scale). Per bigram position i≥2:
    * −ln(0.9·c(w₁w₂)/c(w₁) + 0.1·c(w₂)/N), fixed-pointed to integer
    * micro-nats BEFORE the per-doc sum (order-free accumulation; the inner
    * float expression is a single IEEE evaluation both engines share —
    * identical operand order, identical doubles). Docs with <2 tokens have
    * no bigram positions and drop out.
    *
    * Scale shape: bigrams are built MAP-SIDE from the token array (no
    * self-join on position); then one bigram-keyed count (map-side combine),
    * one vocab-sized count, and ONE join back to the bigram stream: the two
    * unigram joins run on the VOCAB-sized bigram-count table first (the
    * model table), so the corpus-sized stream is exchanged once on (w1, w2)
    * instead of three times — the r15 shape joined the stream on (w1,w2),
    * then w1, then w2. Values per row are identical (same c12/cw1/cw2
    * attached either way). */
  def surprisalBigram(spark: SparkSession, dir: String): DataFrame = {
    val base = ScratchCache.persist(
      docs(spark, dir).select(col("doc_id"), split(col("text"), " ").as("ws")))
    base.count()
    val toks = base.select(col("doc_id"), explode(col("ws")).as("tok"))
    val n = toks.count()
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = base.select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
        "i -> struct(element_at(ws, i+1) AS w1, element_at(ws, i+2) AS w2)) " +
        "ELSE array() END")).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .join(uni.withColumnsRenamed(Map("tok" -> "w1", "c1" -> "cw1")), Seq("w1"))
      .join(uni.withColumnsRenamed(Map("tok" -> "w2", "c1" -> "cw2")), Seq("w2"))
    bi.join(bc, Seq("w1", "w2"))
      .select(col("doc_id"),
        round(-log(lit(0.9) * col("c12") / col("cw1") +
          lit(0.1) * col("cw2") / lit(n.toDouble)) * 1e6).cast("long").as("micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("micro").as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("m") / (col("n_bigrams") * 1e6), 4).as("surprisal2"))
  }

  /** Per-document token entropy (lexical-diversity signal — the
    * Gopher/C4-style repetition complement: low entropy ⇒ few distinct
    * tokens dominate the doc): H = Σ_type (c/n)·ln(n/c) in nats over the
    * doc's own token frequency table. The per-TYPE term is fixed-pointed to
    * integer micro-nats (c · round(ln(n/c)·1e6)) BEFORE the per-doc sum, so
    * accumulation is an order-free INTEGER sum — same determinism device as
    * [[surprisal]], with a per-doc (not corpus-wide) model.
    *
    * Scale shape: n is the map-side token-array size (no corpus aggregate,
    * no second pass), so the whole operator is one (doc, token)-keyed count
    * with map-side combine and one doc-keyed sum — two narrow exchanges at
    * any corpus size. */
  def entropy(spark: SparkSession, dir: String): DataFrame = entropyOf(docs(spark, dir))

  def entropyOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n"),
        explode(col("ws")).as("tok"))
      .groupBy("doc_id", "n", "tok").agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("n"),
        (col("c") * round(log(col("n") / col("c")) * 1e6).cast("long")).as("micro"))
      .groupBy("doc_id", "n").agg(sum("micro").as("m"))
      .select(col("doc_id"), col("n").as("n_toks"),
        round(col("m") / (col("n") * 1e6), 4).as("entropy"))

  /** Language-ID heuristic: score languages by marker-word hits, deterministic
    * priority on ties. (The synthetic corpus is English-vocabulary; the *mechanism*
    * — per-language marker scoring — is what matters.)
    */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: Seq[String]) =
      expr(s"size(filter(split(text, ' '), w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))")
    val en = hits(Seq("the", "a", "of", "and", "is"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    docs(spark, dir).select(
      col("doc_id"),
      when(en >= de && en >= fr && en > 0, "en")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("unknown").as("pred_lang"))
  }

  private val FP_BASE = 1000003L
  private val FP_MOD = 2305843009213693951L // 2^61 - 1

  /** (a*b) mod 2^61-1 without 128-bit types: Mersenne folding of the full
    * 128-bit product — x = hi·2^64 + lo, and 2^64 ≡ 8, 2^61 ≡ 1 (mod 2^61-1),
    * so x ≡ (hi<<3) + (lo>>>61) + (lo & MOD). The earlier split-multiply here
    * overflowed Long (the post-mod partial × 2^31 can reach 2^92), which made
    * the "mod 2^61-1" claim false — caught by the DuckDB oracle. */
  private def mulmodM61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & FP_MOD)
    while (r >= FP_MOD) r -= FP_MOD
    r
  }

  /** Rolling polynomial fingerprint of the lowercased text (deterministic):
    * h_i = h_{i-1}·FP_BASE + char_i (mod 2^61-1). Map-side only; the battery
    * oracle folds the identical recurrence in DuckDB HUGEINT. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = udf { (s: String) =>
      var h = 0L
      var i = 0
      val t = s.toLowerCase
      while (i < t.length) {
        h = mulmodM61(h, FP_BASE) + t.charAt(i).toLong
        if (h >= FP_MOD) h -= FP_MOD
        i += 1
      }
      h
    }
    docs(spark, dir).select(col("doc_id"), fp(col("text")).as("fingerprint"))
  }

  /** PII regexes shared with the DuckDB oracle — RE2∩Java-regex-safe subset
    * only (character classes, bounded quantifiers, \b): no lookaround, no
    * backreferences, so both engines match identically. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone = "\\+\\d{7,12}"

  /** PII detection + redaction — the training-data scrubbing pass every
    * corpus pipeline runs before release (emails / IPv4s / international
    * phone numbers → typed placeholders), as a single map-side projection:
    * per-document match counts plus the redacted text. Entirely
    * codegen-friendly (`regexp_count`/`regexp_replace` built-ins — no UDF),
    * shuffles nothing, and scales embarrassingly: at 100 TB this is one scan.
    *
    * The synthetic corpus carries no PII, so the battery derives a
    * deterministic PII-bearing string from (doc_id, text) IDENTICALLY on
    * both engines and scrubs that — the operator under test is the
    * redaction, not the corpus. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val s = concat(
      lit("contact u"), col("doc_id"), lit("@ex"), pmod(col("doc_id"), lit(7)),
      lit(".com or +1415"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" at 192.168."), pmod(col("doc_id"), lit(256)), lit("."),
      pmod(col("doc_id") * 7, lit(256)), lit(" "),
      substring(col("text"), 1, 40))
    redactOf(docs(spark, dir).select(col("doc_id"), s.as("s")))
  }

  /** The scrub core over an explicit (doc_id, s) frame — shared VERBATIM by
    * the batch operator above and the ingest-time streaming twin
    * (`StreamOps.redactStream`): stateless map-side projection, so the same
    * plan runs unmodified per micro-batch (no watermark, no state). */
  def redactOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_count(col("s"), lit(PiiEmail)).as("n_email"),
      regexp_count(col("s"), lit(PiiIp)).as("n_ip"),
      regexp_count(col("s"), lit(PiiPhone)).as("n_phone"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("s"), PiiEmail, "<EMAIL>"),
          PiiIp, "<IP>"),
        PiiPhone, "<PHONE>").as("redacted"))

  /** Per-source distinct-token cardinality by KMV sketch
    * ([[graft.functions.KMVAgg]]) next to the exact count — the mergeable
    * distinct-count estimator a 1000-executor pipeline uses where exact
    * countDistinct's full shuffle is too expensive (vocabulary tracking,
    * per-domain cardinality monitors). The sketch state is k·8 bytes per
    * group with map-side combine; the hash is the md5-prefix integer BOTH
    * engines share, so the estimate itself is value-oracle-checked, not
    * just bounded. k=16 keeps the test corpus in the true estimation
    * regime (sources here have ≥16 distinct tokens). */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val t = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"), col("tok"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    t.groupBy("source").agg(
      graft.functions.KMVAgg(col("h"), k).as("est_distinct"),
      countDistinct("tok").as("n_exact"))
  }

  /** Cross-source vocabulary OVERLAP estimated from KMV sketch sets alone
    * (theta-style intersection): for every source pair, count the shared
    * hashes below θ = min of the two sketches' thresholds (a side with
    * fewer than k distinct values is exact — its θ is the full 2⁶⁰ domain)
    * and rescale by 2⁶⁰/θ. The pairwise-overlap matrix of a 1000-domain
    * corpus from |domains| k-hash sketches — no token-level pair join
    * anywhere; the exact count rides along here for comparison (at scale
    * it is exactly the join you're avoiding). All arithmetic exact BigInt,
    * estimate oracle-checked bit-for-bit. */
  def kmvOverlap(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val full = 1L << 60
    val t = ScratchCache.persist(docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok")).distinct())
    val sets = t
      .select(col("source"), col("tok"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("source")
      .agg(graft.functions.KMVSetAgg(col("h"), k).as("ks"))
      .withColumn("theta",
        when(size(col("ks")) < k, lit(full)).otherwise(element_at(col("ks"), -1)))
      .transform(ScratchCache.persist)
    val est = udf { (c: Long, theta: Long) =>
      ((BigInt(c) << 60) / BigInt(theta)).toLong } // |pairs|-sized frame only
    val pairs = sets.select(col("source").as("a"), col("ks").as("ka"),
        col("theta").as("ta"))
      .join(sets.select(col("source").as("b"), col("ks").as("kb"),
        col("theta").as("tb")), col("a") < col("b"))
      .withColumn("theta", least(col("ta"), col("tb")))
      .withColumn("c", size(filter(array_intersect(col("ka"), col("kb")),
        x => x < col("theta"))).cast("long"))
      .select(col("a"), col("b"), est(col("c"), col("theta")).as("est_overlap"))
    val exact = t.select(col("source").as("a"), col("tok"))
      .join(t.select(col("source").as("b"), col("tok")), "tok")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_exact"))
    pairs.join(exact, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("est_overlap"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** Zipf rank-frequency slope of the corpus vocabulary — the corpus-health
    * diagnostic (natural language sits near slope −1; a corpus of boilerplate
    * or template spam flattens or steepens it). Least-squares slope of
    * ln(count) on ln(rank) over the top-`k` tokens of [[vocabTopK]].
    *
    * Determinism device: each ln() is fixed-pointed to integer micro-units
    * per term, the regression sums (Σx, Σy, Σxy, Σx²) are exact integer
    * sums of those (order-free — bounded: k·(ln k·1e6)² ≪ 2⁶³), and the
    * slope is one integer→double division chain, micro-rounded. The raw
    * integer sums ride along in the output so the oracle comparison pins
    * them exactly. Scale: everything after vocabTopK's groupBy is a k-row
    * frame. */
  def zipfSlope(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val v = vocabTopK(spark, dir, k)
      .select(round(log(col("rk").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 1e6).cast("long").as("y"))
    val s = v.agg(count(lit(1)).as("n_terms"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    s.select(col("n_terms"), col("sx"), col("sy"), col("sxy"), col("sxx"),
      round((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double") * 1e6)
        .cast("long").as("slope_micro"))
  }
}
