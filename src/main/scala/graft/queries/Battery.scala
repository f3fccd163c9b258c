package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algebra._
import graft.model._
import graft.store.{RdfStore, RelToRdf}
import graft.engine._

/** The driver-facing query battery: one entry per operator of SURVEY.md §2, each
  * expressed as SPARQL algebra over the RDF-mapped testdata (FIXTURES.md §6) with an
  * ANSI-SQL oracle over the same parquet tables.
  *
  * Output columns are cast to the native relational types the oracle produces, and
  * double aggregates are rounded to 4 decimals on BOTH sides to make the comparison
  * robust to floating-point summation order.
  */
object Battery {
  import java.util.concurrent.ConcurrentHashMap
  private val comps = new ConcurrentHashMap[String, Compiler]()

  /** The battery's DEFAULT store is the persisted subject-bucketed layout —
    * the configuration a 100 TB deployment runs (predicate-partitioned
    * parquet, subject-bucketed, statistics manifest): star/fk subject joins
    * are bucket-aligned and run with NO exchange. The in-memory
    * dictionary-encoded store remains available via [[memCompiler]] and is
    * exercised by q_bgp_star_mem. Both stores hold identical quads; every
    * oracle is layout-independent. */
  def compiler(spark: SparkSession, dir: String): Compiler =
    bucketedCompiler(spark, dir)

  /** Compiler over the in-memory cached store (no persisted layout). */
  def memCompiler(spark: SparkSession, dir: String): Compiler =
    comps.computeIfAbsent(dir, d =>
      new Compiler(RelToRdf.cached(spark, d), ExprEval.Ctx(nowEpochUs = 1766188800000000L)))

  /** Compiler over the PERSISTED (subject-bucketed) layout of the same data:
    * saved once per data dir via StorePersist, reopened from disk. BGP joins
    * on a shared subject plan shuffle-free against this store. */
  private val bucketComps = new ConcurrentHashMap[String, Compiler]()
  def bucketedCompiler(spark: SparkSession, dir: String): Compiler =
    bucketComps.computeIfAbsent(dir, d => {
      // layout-versioned cache dir, keyed by a digest of the full data path
      // (two data dirs must never share a store): a layout change must not
      // reuse a stale on-disk store written by an earlier build. The prefix
      // names the layout: bump it when the layout changes under an
      // unchanged codec version (v3: bucket count derived from the quad count)
      val out = "/tmp/graft_store_v3_" +
        graft.store.StorePersist.pathDigest(new java.io.File(d).getAbsolutePath)
      // rebuild if absent OR written by a different term-codec/mapping build
      // (a stale cached store would silently decode wrong ids)
      if (graft.store.StorePersist.savedCodecVersion(out) !=
          graft.store.StorePersist.CodecVersion) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        graft.store.StorePersist.save(RelToRdf.cached(spark, d), out)
      }
      new Compiler(graft.store.StorePersist.open(spark, out),
        ExprEval.Ctx(nowEpochUs = 1766188800000000L))
    })

  def p(table: String, c: String): T = N.iri(s"urn:p:$table:$c")
  def fk(t: String): T = N.iri(s"urn:fk:$t")
  def qp(s: Node, pr: Node, o: Node): QuadPattern = QuadPattern(s, pr, o)

  /** Compile + cast to native output in one call. */
  def run(spark: SparkSession, dir: String, a: Algebra, casts: (String, String)*): DataFrame = {
    val c = compiler(spark, dir)
    Results.native(c, c.compile(Rewriter.rewrite(a)), casts)
  }

  private def round4(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 4)))

  // ---------------------------------------------------------------------------
  // each entry: name -> ((spark, sfDir) => DataFrame, oracleSql option)
  // ---------------------------------------------------------------------------

  /** Shared oracle-CTE prefix replicating [[graft.pipeline.Similarity]]'s
    * deterministic coarse k-means (quantize → 2 unrolled Lloyd iterations →
    * final assignment): ends with `corpus(vec_id, cl)`, plus `comp`/`d2` in
    * scope. Used by sim_ivf_topk and dd_semantic. */
  private val ivfCorpusCte: String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
    "FROM embeddings), comp AS (SELECT vec_id, u.s.j AS j, u.s.v AS v FROM e, " +
    "unnest(list_transform(range(1, len(emb)+1), i -> {'j': i-1, 'v': emb[i]})) u(s)), mx " +
    "AS (SELECT vec_id, max(abs(v)) AS m FROM comp GROUP BY 1), q AS (SELECT c.vec_id, " +
    "c.j, CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v / m * 127.0 + 0.5) AS BIGINT) END AS q " +
    "FROM comp c JOIN mx USING(vec_id)), cent0 AS (SELECT vec_id AS c, j, q AS s, CAST(1 " +
    "AS BIGINT) AS n FROM q WHERE vec_id < 8), d0 AS (SELECT q.vec_id, c0.c, sum(q.q * " +
    "c0.s) AS d, any_value(c0.n) AS n FROM q JOIN cent0 c0 USING(j) GROUP BY 1, 2), a0 AS " +
    "(SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id " +
    "ORDER BY CAST(d AS DOUBLE) / CAST(n AS DOUBLE) DESC, c) AS rk FROM d0) WHERE rk = 1), " +
    "s1 AS (SELECT a0.c, q.j, sum(q.q) AS s, count(DISTINCT q.vec_id) AS n FROM q JOIN a0 " +
    "USING(vec_id) GROUP BY 1, 2), cent1 AS (SELECT c0.c, c0.j, COALESCE(s1.s, c0.s) AS s, " +
    "COALESCE(s1.n, c0.n) AS n FROM cent0 c0 LEFT JOIN s1 ON s1.c = c0.c AND s1.j = c0.j), " +
    "d1 AS (SELECT q.vec_id, c1.c, sum(q.q * c1.s) AS d, any_value(c1.n) AS n FROM q JOIN " +
    "cent1 c1 USING(j) GROUP BY 1, 2), a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, " +
    "row_number() OVER (PARTITION BY vec_id ORDER BY CAST(d AS DOUBLE) / CAST(n AS DOUBLE) " +
    "DESC, c) AS rk FROM d1) WHERE rk = 1), s2 AS (SELECT a1.c, q.j, sum(q.q) AS s, " +
    "count(DISTINCT q.vec_id) AS n FROM q JOIN a1 USING(vec_id) GROUP BY 1, 2), cent2 AS " +
    "(SELECT c1.c, c1.j, COALESCE(s2.s, c1.s) AS s, COALESCE(s2.n, c1.n) AS n FROM (SELECT " +
    "DISTINCT c, j, s, n FROM cent1) c1 LEFT JOIN s2 ON s2.c = c1.c AND s2.j = c1.j), d2 " +
    "AS (SELECT q.vec_id, c2.c, sum(q.q * c2.s) AS d, any_value(c2.n) AS n FROM q JOIN " +
    "cent2 c2 USING(j) GROUP BY 1, 2), corpus AS (SELECT vec_id, c AS cl FROM (SELECT " +
    "vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY CAST(d AS DOUBLE) / CAST(n " +
    "AS DOUBLE) DESC, c) AS rk FROM d2) WHERE rk = 1), "

  /** BPE merge-learning oracle: n chained MATERIALIZED CTE rounds, each
    * computing the (count DESC, lhs, rhs) argmax pair over the symbolized
    * word-frequency table and applying it greedily left-to-right. A plain
    * single-space `replace(' l r ', ' lr ')` UNDER-merges runs (adjacent
    * matches share a boundary space: ' a a a a ' → ' aa a a '), so each
    * round doubles the boundary spaces first, replaces ' l  r ' → ' lr ',
    * and collapses — giving every match its own boundary, i.e. standard
    * (Sennrich) non-overlapping greedy semantics, identical to
    * [[graft.pipeline.Tokenizer]]'s mergeLayer. MATERIALIZED matters:
    * without it each round inlines its predecessor several times and the
    * plan grows 4^n. */
  private def bpeMergesOracle(nMerges: Int,
      learnFrom: String = "documents"): String = {
    val cte = new StringBuilder(
      "base AS MATERIALIZED (SELECT w, count(*) AS freq FROM " +
      s"(SELECT unnest(string_split(text, ' ')) AS w FROM $learnFrom) GROUP BY 1), " +
      "w0 AS MATERIALIZED (SELECT ' ' || array_to_string(" +
      "list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)), " +
      "' ') || ' ' AS sym, freq FROM base)")
    for (i <- 1 to nMerges) {
      cte ++= s", p$i AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r, sum(freq) AS f FROM (" +
        "SELECT freq, unnest(list_transform(range(1, len(ss)), " +
        "j -> struct_pack(l := ss[CAST(j AS INT)], r := ss[CAST(j+1 AS INT)]))) AS pr " +
        s"FROM (SELECT string_split(trim(sym), ' ') AS ss, freq FROM w${i - 1}) q) s " +
        "GROUP BY 1, 2)"
      cte ++= s", m$i AS MATERIALIZED (SELECT l, r, f FROM p$i ORDER BY f DESC, l, r LIMIT 1)"
      cte ++= s", w$i AS MATERIALIZED (SELECT replace(replace(replace(sym, ' ', '  '), " +
        s"' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), '  ', ' ') " +
        s"AS sym, freq FROM w${i - 1}, m$i m)"
    }
    val sel = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, " +
      s"CAST(f AS BIGINT) AS freq FROM m$i").mkString(" UNION ALL ")
    s"WITH ${cte.result()} $sel"
  }

  /** The BPE APPLY oracle: learn the same n merges as [[bpeMergesOracle]],
    * then segment every document — per-word char symbols joined with a '|'
    * sentinel (blocks cross-word merges), the n replace layers applied in
    * merge order, subwords = symbols minus sentinels. */
  private def bpeSegmentOracle(nMerges: Int): String = {
    val learn = bpeMergesOracle(nMerges)
    val ctes = learn.substring("WITH ".length, learn.indexOf(" SELECT CAST(1"))
    val apply = new StringBuilder(
      ", d0 AS MATERIALIZED (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
      "' ' || array_to_string(flatten(list_transform(string_split(text, ' '), " +
      "w -> list_append(list_transform(range(1, length(w) + 1), " +
      "i -> substr(w, CAST(i AS INT), 1)), '|'))), ' ') || ' ' AS sym FROM documents)")
    for (i <- 1 to nMerges)
      apply ++= s", d$i AS MATERIALIZED (SELECT doc_id, n_chars, " +
        s"replace(replace(replace(sym, ' ', '  '), " +
        s"' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), '  ', ' ') " +
        s"AS sym FROM d${i - 1}, m$i m)"
    s"WITH $ctes${apply.result()} " +
      s"SELECT doc_id, n_chars, CAST(len(string_split(trim(sym), ' ')) - " +
      s"len(list_filter(string_split(trim(sym), ' '), s -> s = '|')) AS BIGINT) " +
      s"AS n_subwords FROM d$nMerges"
  }

  /** The chained tokenizer-training oracle a pretraining pipeline runs:
    * learn the merges on the TRAIN split ONLY (the md5-bucket rule of
    * curate_split — leakage-proof), then segment EVERY document with them,
    * labeling each doc's split. Same CTE layers as [[bpeMergesOracle]] /
    * [[bpeSegmentOracle]], with the learn base filtered to train docs. */
  private def bpeTrainApplyOracle(nMerges: Int): String = {
    val bucket = "CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 100"
    val learn = bpeMergesOracle(nMerges,
      learnFrom = s"(SELECT * FROM documents WHERE $bucket < 90)")
    val ctes = learn.substring("WITH ".length, learn.indexOf(" SELECT CAST(1"))
    val apply = new StringBuilder(
      ", d0 AS MATERIALIZED (SELECT doc_id, " +
      s"CASE WHEN $bucket < 90 THEN 'train' WHEN $bucket < 95 THEN 'valid' " +
      "ELSE 'test' END AS split, CAST(length(text) AS BIGINT) AS n_chars, " +
      "' ' || array_to_string(flatten(list_transform(string_split(text, ' '), " +
      "w -> list_append(list_transform(range(1, length(w) + 1), " +
      "i -> substr(w, CAST(i AS INT), 1)), '|'))), ' ') || ' ' AS sym FROM documents)")
    for (i <- 1 to nMerges)
      apply ++= s", d$i AS MATERIALIZED (SELECT doc_id, split, n_chars, " +
        s"replace(replace(replace(sym, ' ', '  '), " +
        s"' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), '  ', ' ') " +
        s"AS sym FROM d${i - 1}, m$i m)"
    s"WITH $ctes${apply.result()} " +
      s"SELECT doc_id, split, n_chars, CAST(len(string_split(trim(sym), ' ')) - " +
      s"len(list_filter(string_split(trim(sym), ' '), s -> s = '|')) AS BIGINT) " +
      s"AS n_subwords FROM d$nMerges"
  }

  /** BM25 oracle CTE chain replicating [[graft.pipeline.Retrieval.bm25TopK]]
    * (identical IEEE op order; per-term scores micro-rounded before the
    * order-free integer sum). Ends with `s(qid, nid, score_micro)`. */
  private def bm25Cte(nQueries: Int): String =
    "lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len " +
    "FROM documents), " +
    "ag AS (SELECT sum(len) AS tot, count(*) AS n FROM lens), " +
    "t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
    "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2), " +
    "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1), " +
    s"q AS (SELECT doc_id AS qid, tok FROM tf WHERE doc_id < $nQueries), " +
    "sc AS (SELECT q.qid, f.doc_id AS nid, CAST(round(" +
    "ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / " +
    "(tf + 1.2 * (0.25 + 0.75 * (len * CAST(n AS DOUBLE)) / CAST(tot AS DOUBLE))) " +
    "* 1000000) AS BIGINT) AS micro " +
    "FROM q JOIN tf f USING(tok) JOIN df USING(tok) " +
    "JOIN lens ON lens.doc_id = f.doc_id CROSS JOIN ag WHERE f.doc_id <> q.qid), " +
    "s AS (SELECT qid, nid, CAST(sum(micro) AS BIGINT) AS score_micro FROM sc GROUP BY 1, 2)"

  /** Shared oracle-CTE prefix of the blocked n-gram family (Jaccard +
    * containment): candidate pairs within staggered (source, length-band)
    * blocks capped at 4096 docs, ending with `i(a, b, inter)` and `sizes`
    * in scope. */
  private val ngramPairCte: String =
    "WITH g AS (SELECT DISTINCT doc_id, source, n_chars, gr FROM " +
    "(SELECT doc_id, source, n_chars, " +
    "unnest(list_transform(range(0, greatest(length(text) - 3, 0) + 1), " +
    "i -> substring(text, CAST(i + 1 AS INT), 3))) AS gr FROM documents)), " +
    "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1), " +
    "bk AS (SELECT doc_id, CAST(floor(n_chars / 64.0) AS INT) AS lenb, true AS prim " +
    "FROM documents UNION ALL SELECT doc_id, CAST(floor((n_chars + 32) / 64.0) AS INT), " +
    "false FROM documents), " +
    "memb AS (SELECT DISTINCT doc_id, source, lenb, prim FROM documents JOIN bk USING (doc_id)), " +
    "over AS (SELECT source, lenb, prim FROM memb GROUP BY 1, 2, 3 HAVING count(*) > 4096), " +
    "blocked AS (SELECT g.doc_id, g.source, gr, bk.lenb, bk.prim FROM g JOIN bk USING (doc_id) " +
    "LEFT JOIN over o ON o.source = g.source AND o.lenb = bk.lenb AND o.prim = bk.prim " +
    "WHERE o.source IS NULL), " +
    "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.gr " +
    "FROM blocked x JOIN blocked y ON x.source = y.source AND x.lenb = y.lenb " +
    "AND x.prim = y.prim AND x.gr = y.gr AND x.doc_id < y.doc_id), " +
    "i AS (SELECT a, b, count(*) AS inter FROM pairs GROUP BY 1, 2) "

  /** The customer star of q_bgp_star, q_bgp_star_bucketed and q_bgp_star_mem. */
  private val star = BGP(Seq(
    qp(V("c"), p("customer", "c_name"), V("c_name")),
    qp(V("c"), p("customer", "c_acctbal"), V("c_acctbal")),
    qp(V("c"), p("customer", "c_mktsegment"), V("c_mktsegment"))))
  private val starCasts =
    Seq("c_name" -> "string", "c_acctbal" -> "double", "c_mktsegment" -> "string")
  private val starSql = Some("SELECT c_name, c_acctbal, c_mktsegment FROM customer")

  /** The lineitem → orders join of q_fk_join and q_fk_join_persisted. */
  private val fkJoin = BGP(Seq(
    qp(V("l"), fk("orders"), V("o")),
    qp(V("l"), p("lineitem", "l_quantity"), V("qty")),
    qp(V("o"), p("orders", "o_orderstatus"), V("status"))))
  private val fkCasts = Seq("status" -> "string", "qty" -> "double")
  private val fkSql = Some("SELECT o.o_orderstatus AS status, l.l_quantity AS qty " +
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- scans / BGP / joins ----
    ("q_scan",
      (s: SparkSession, d: String) => run(s, d,
        BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name")))),
        "c_name" -> "string"),
      Some("SELECT c_name FROM customer")),

    ("q_bgp_star", (s: SparkSession, d: String) => run(s, d, star, starCasts: _*), starSql),

    ("q_bgp_star_mem", // same star, over the IN-MEMORY dictionary-encoded
      // store (the non-persisted path: ad-hoc loads, tests, REPL sessions)
      (s: SparkSession, d: String) => {
        val c = memCompiler(s, d)
        Results.native(c, c.compile(Rewriter.rewrite(star)), starCasts)
      }, starSql),

    // the persisted subject-bucketed layout: the three same-subject scans
    // are co-partitioned and co-sorted, so the star joins plan with no
    // shuffle exchange (the same query as q_bgp_star: [[run]] is bucketed)
    ("q_bgp_star_bucketed", (s: SparkSession, d: String) => run(s, d, star, starCasts: _*),
      starSql),

    ("q_fk_join", (s: SparkSession, d: String) => run(s, d, fkJoin, fkCasts: _*), fkSql),

    // the PERSISTED store layout: scans hit the predicate-partitioned parquet
    // (each pattern reads only its predicate's partition — the on-disk
    // analogue of a (p,…) index), star-side scans stay co-bucketed on s
    // (the same query as q_fk_join: [[run]] is bucketed)
    ("q_fk_join_persisted", (s: SparkSession, d: String) => run(s, d, fkJoin, fkCasts: _*),
      fkSql),

    ("q_cross_join", // join with no shared vars = cartesian (NestedLoopJoinPlan)
      (s: SparkSession, d: String) => run(s, d,
        AJoin(
          BGP(Seq(qp(V("n"), p("nation", "n_name"), V("n_name")))),
          BGP(Seq(qp(V("r"), p("region", "r_name"), V("r_name"))))),
        "n_name" -> "string", "r_name" -> "string"),
      Some("SELECT n_name, r_name FROM nation CROSS JOIN region")),

    // ---- filter / extend ----
    ("q_filter_num",
      (s: SparkSession, d: String) => run(s, d,
        AFilter(ECall("&&", Seq(
          ECall("<", Seq(EVar("qty"), EConst(Term.int(25)))),
          ECall(">", Seq(EVar("disc"), EConst(Term.dbl(0.05)))))),
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_quantity"), V("qty")),
            qp(V("l"), p("lineitem", "l_discount"), V("disc")),
            qp(V("l"), p("lineitem", "l_extendedprice"), V("price"))))),
        "qty" -> "double", "disc" -> "double", "price" -> "double"),
      Some("SELECT l_quantity AS qty, l_discount AS disc, l_extendedprice AS price " +
        "FROM lineitem WHERE l_quantity < 25 AND l_discount > 0.05")),

    ("q_filter_str",
      (s: SparkSession, d: String) => run(s, d,
        AFilter(ECall("regex", Seq(EVar("nm"), EConst(Term.str("[13579]2$")))),
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("nm"))))),
        "nm" -> "string"),
      Some("SELECT c_name AS nm FROM customer WHERE regexp_matches(c_name, '[13579]2$')")),

    ("q_extend",
      (s: SparkSession, d: String) => round4(run(s, d,
        AExtend(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_extendedprice"), V("price")),
            qp(V("l"), p("lineitem", "l_discount"), V("disc")))),
          "rev", ECall("*", Seq(EVar("price"),
            ECall("-", Seq(EConst(Term.int(1)), EVar("disc")))))),
        "price" -> "double", "rev" -> "double"), "rev"),
      Some("SELECT l_extendedprice AS price, " +
        "round(l_extendedprice * (1 - l_discount), 4) AS rev FROM lineitem")),

    // ---- optional / minus / exists ----
    ("q_optional",
      (s: SparkSession, d: String) => run(s, d,
        ALeftJoin(
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name")))),
          BGP(Seq(
            qp(V("o"), fk("customer"), V("c")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))), None),
        "c_name" -> "string", "tp" -> "double"),
      Some("SELECT c_name, o_totalprice AS tp FROM customer " +
        "LEFT JOIN orders ON o_custkey = c_custkey")),

    ("q_optional_filter",
      (s: SparkSession, d: String) => run(s, d,
        ALeftJoin(
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name")))),
          BGP(Seq(
            qp(V("o"), fk("customer"), V("c")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Some(ECall(">", Seq(EVar("tp"), EConst(Term.dbl(200000.0)))))),
        "c_name" -> "string", "tp" -> "double"),
      Some("SELECT c_name, o_totalprice AS tp FROM customer " +
        "LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > 200000")),

    ("q_minus", // customers with no order above 250k
      (s: SparkSession, d: String) => run(s, d,
        AMinus(
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name")))),
          AFilter(ECall(">", Seq(EVar("tp"), EConst(Term.dbl(250000.0)))),
            BGP(Seq(
              qp(V("o"), fk("customer"), V("c")),
              qp(V("o"), p("orders", "o_totalprice"), V("tp")))))),
        "c_name" -> "string"),
      Some("SELECT c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)")),

    ("q_exists",
      (s: SparkSession, d: String) => run(s, d,
        AFilter(EExists(BGP(Seq(
          qp(V("o"), fk("customer"), V("c")),
          qp(V("o"), p("orders", "o_totalprice"), V("tp")),
          qp(V("o"), p("orders", "o_orderstatus"), V("st")))), negated = false),
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name"))))),
        "c_name" -> "string"),
      Some("SELECT c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)")),

    ("q_bind_exists",
      (s: SparkSession, d: String) => run(s, d,
        AExtend(
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("c_name")))),
          "has_orders",
          EExists(BGP(Seq(qp(V("o"), fk("customer"), V("c")))), negated = false)),
        "c_name" -> "string", "has_orders" -> "boolean"),
      Some("SELECT c_name, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "AS has_orders FROM customer")),

    // ---- union / distinct / reduced ----
    ("q_union",
      (s: SparkSession, d: String) => run(s, d,
        AUnion(
          BGP(Seq(qp(V("n"), p("nation", "n_name"), V("name")))),
          BGP(Seq(qp(V("r"), p("region", "r_name"), V("name"))))),
        "name" -> "string"),
      Some("SELECT n_name AS name FROM nation UNION ALL SELECT r_name FROM region")),

    ("q_distinct",
      (s: SparkSession, d: String) => run(s, d,
        ADistinct(AProject(
          BGP(Seq(qp(V("c"), p("customer", "c_mktsegment"), V("seg")))), Seq("seg"))),
        "seg" -> "string"),
      Some("SELECT DISTINCT c_mktsegment AS seg FROM customer")),

    ("q_reduced", // REDUCED permits any dedup degree; we dedup fully = DISTINCT
      (s: SparkSession, d: String) => run(s, d,
        AReduced(AProject(
          BGP(Seq(qp(V("o"), p("orders", "o_orderpriority"), V("pri")))), Seq("pri"))),
        "pri" -> "string"),
      Some("SELECT DISTINCT o_orderpriority AS pri FROM orders")),

    // ---- sort / slice ----
    ("q_order_limit",
      (s: SparkSession, d: String) => run(s, d,
        ASlice(AOrderBy(
          BGP(Seq(
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq(SortKey(EVar("tp"), asc = false), SortKey(EVar("okey")))), 0, 10),
        "okey" -> "long", "tp" -> "double"),
      Some("SELECT o_orderkey AS okey, o_totalprice AS tp FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    ("q_offset",
      (s: SparkSession, d: String) => run(s, d,
        ASlice(AOrderBy(
          BGP(Seq(qp(V("o"), p("orders", "o_orderkey"), V("okey")))),
          Seq(SortKey(EVar("okey")))), 5, 7),
        "okey" -> "long"),
      Some("SELECT o_orderkey AS okey FROM orders ORDER BY o_orderkey LIMIT 7 OFFSET 5")),

    // ---- aggregation ----
    ("q_agg_q1", // TPC-H Q1 shape through the SPARQL engine
      (s: SparkSession, d: String) => round4(run(s, d,
        AOrderBy(AGroup(
          AExtend(
            BGP(Seq(
              qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
              qp(V("l"), p("lineitem", "l_linestatus"), V("ls")),
              qp(V("l"), p("lineitem", "l_quantity"), V("qty")),
              qp(V("l"), p("lineitem", "l_extendedprice"), V("price")),
              qp(V("l"), p("lineitem", "l_discount"), V("disc")))),
            "rev", ECall("*", Seq(EVar("price"),
              ECall("-", Seq(EConst(Term.int(1)), EVar("disc")))))),
          Seq("rf", "ls"),
          Seq(AggSpec("sum_qty", "sum", Some(EVar("qty"))),
            AggSpec("sum_rev", "sum", Some(EVar("rev"))),
            AggSpec("avg_disc", "avg", Some(EVar("disc"))),
            AggSpec("n", "count", None))),
          Seq(SortKey(EVar("rf")), SortKey(EVar("ls")))),
        "rf" -> "string", "ls" -> "string", "sum_qty" -> "double",
        "sum_rev" -> "double", "avg_disc" -> "double", "n" -> "long"),
        "sum_qty", "sum_rev", "avg_disc"),
      // money columns are xsd:decimal in the RDF mapping (exact aggregation);
      // the oracle casts to DECIMAL too so both sides are exact before round4
      Some("SELECT l_returnflag AS rf, l_linestatus AS ls, " +
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_qty, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE) AS sum_rev, " +
        "CAST(round(avg(CAST(l_discount AS DECIMAL(18,2))), 4) AS DOUBLE) AS avg_disc, " +
        "count(*) AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2")),

    ("q_agg_rev_typed", // computed-decimal SUM, exact engine path:
      // fastDec compiles ?price*(1-?disc) to decimal column arithmetic and the
      // SUM to one sum(DECIMAL) over the companion (no term structs, no
      // dictionary join); DuckDB aggregates the same values as DECIMAL
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          AExtend(
            BGP(Seq(
              qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
              qp(V("l"), p("lineitem", "l_extendedprice"), V("price")),
              qp(V("l"), p("lineitem", "l_discount"), V("disc")))),
            "rev", ECall("*", Seq(EVar("price"),
              ECall("-", Seq(EConst(Term.int(1)), EVar("disc")))))),
          Seq("rf"),
          Seq(AggSpec("sum_rev", "sum", Some(EVar("rev"))))),
        "rf" -> "string", "sum_rev" -> "decr4"),
      // both sides aggregate exactly in DECIMAL, then compare as round(,4)
      // DOUBLE — representation-robust against decimal-scale hash drift
      // (same class of fix as q_agg_sum_typed's HUGEINT→BIGINT cast in r2).
      // DuckDB (C++) and Spark (BigDecimal.doubleValue) both round the
      // DECIMAL→DOUBLE conversion correctly while the scale-4 integer fits
      // in 2^53; at far larger SFs compare a canonical string instead.
      Some("SELECT l_returnflag AS rf, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE) AS sum_rev " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_rev_decstr", // same exact-decimal SUM, compared as the CANONICAL
      // LEXICAL STRING (trailing fraction zeros stripped on both sides): keeps
      // the exact-DECIMAL output path oracle-covered end-to-end with no
      // double conversion anywhere (ADVICE r5: dec6's removal left exact
      // decimal comparison unexercised)
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          AExtend(
            BGP(Seq(
              qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
              qp(V("l"), p("lineitem", "l_extendedprice"), V("price")),
              qp(V("l"), p("lineitem", "l_discount"), V("disc")))),
            "rev", ECall("*", Seq(EVar("price"),
              ECall("-", Seq(EConst(Term.int(1)), EVar("disc")))))),
          Seq("rf"),
          Seq(AggSpec("sum_rev", "sum", Some(EVar("rev"))))),
        "rf" -> "string", "sum_rev" -> "decstr"),
      Some("SELECT l_returnflag AS rf, " +
        "regexp_replace(regexp_replace(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR), " +
        "'(\\.\\d*?)0+$', '\\1'), '\\.$', '') AS sum_rev " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_countd",
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), fk("part"), V("pk")))),
          Seq("rf"),
          Seq(AggSpec("nparts", "count", Some(EVar("pk")), distinct = true))),
        "rf" -> "string", "nparts" -> "long"),
      Some("SELECT l_returnflag AS rf, count(DISTINCT l_partkey) AS nparts " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_sum_typed", // exact integer-typed SUM — oracle CASTs DuckDB HUGEINT to BIGINT to match Spark
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), p("lineitem", "l_linenumber"), V("ln")))),
          Seq("rf"),
          Seq(AggSpec("s_ln", "sum", Some(EVar("ln"))))),
        "rf" -> "string", "s_ln" -> "long"),
      Some("SELECT l_returnflag AS rf, CAST(sum(l_linenumber) AS BIGINT) AS s_ln " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_sumd_typed", // SUM(DISTINCT) over integers, exact compare
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), p("lineitem", "l_linenumber"), V("ln")))),
          Seq("rf"),
          Seq(AggSpec("s_ln", "sum", Some(EVar("ln")), distinct = true))),
        "rf" -> "string", "s_ln" -> "long"),
      Some("SELECT l_returnflag AS rf, CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS s_ln " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_concat_distinct", // GROUP_CONCAT(DISTINCT; SEPARATOR) sorted output
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("o"), p("orders", "o_orderstatus"), V("st")),
            qp(V("o"), p("orders", "o_orderpriority"), V("pri")))),
          Seq("st"),
          Seq(AggSpec("pris", "group_concat", Some(EVar("pri")),
            distinct = true, sep = "|"))),
        "st" -> "string", "pris" -> "string"),
      Some("SELECT o_orderstatus AS st, string_agg(DISTINCT o_orderpriority, '|' " +
        "ORDER BY o_orderpriority) AS pris FROM orders GROUP BY 1")),

    ("q_agg_avg_typed", // integer AVG → exact decimal (op:numeric-divide)
      (s: SparkSession, d: String) => round4(run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), p("lineitem", "l_linenumber"), V("ln")))),
          Seq("rf"),
          Seq(AggSpec("a_ln", "avg", Some(EVar("ln"))))),
        "rf" -> "string", "a_ln" -> "double"), "a_ln"),
      Some("SELECT l_returnflag AS rf, round(avg(l_linenumber), 4) AS a_ln " +
        "FROM lineitem GROUP BY 1")),

    ("q_agg_minmax",
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), p("lineitem", "l_shipdate"), V("sd")))),
          Seq("rf"),
          Seq(AggSpec("first_ship", "min", Some(EVar("sd"))),
            AggSpec("last_ship", "max", Some(EVar("sd"))))),
        "rf" -> "string", "first_ship" -> "timestamp", "last_ship" -> "timestamp"),
      Some("SELECT l_returnflag AS rf, min(l_shipdate) AS first_ship, " +
        "max(l_shipdate) AS last_ship FROM lineitem GROUP BY 1")),

    ("q_agg_concat",
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("n"), fk("region"), V("r")),
            qp(V("n"), p("nation", "n_name"), V("nm")),
            qp(V("r"), p("region", "r_name"), V("rn")))),
          Seq("rn"),
          Seq(AggSpec("nations", "group_concat", Some(EVar("nm")), sep = "|"))),
        "rn" -> "string", "nations" -> "string"),
      Some("SELECT r_name AS rn, string_agg(n_name, '|' ORDER BY n_name) AS nations " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1")),

    ("q_agg_sample", // SAMPLE implemented deterministically (term-order min)
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(
            qp(V("c"), fk("nation"), V("n")),
            qp(V("c"), p("customer", "c_name"), V("nm")))),
          Seq("n"),
          Seq(AggSpec("pick", "sample", Some(EVar("nm"))),
            AggSpec("n_cust", "count", None))),
        "pick" -> "string", "n_cust" -> "long"),
      Some("SELECT min(c_name) AS pick, count(*) AS n_cust " +
        "FROM customer GROUP BY c_nationkey")),

    ("q_agg_empty", // empty input × no groups → one row (count = 0)
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          AFilter(ECall("<", Seq(EVar("bal"), EConst(Term.int(-99999)))),
            BGP(Seq(qp(V("c"), p("customer", "c_acctbal"), V("bal"))))),
          Seq.empty,
          Seq(AggSpec("n", "count", None), AggSpec("total", "sum", Some(EVar("bal"))))),
        "n" -> "long", "total" -> "double"),
      Some("SELECT count(*) AS n, coalesce(sum(c_acctbal), 0) AS total " +
        "FROM customer WHERE c_acctbal < -99999")),

    ("q_having",
      (s: SparkSession, d: String) => run(s, d,
        AFilter(ECall(">", Seq(EVar("n"), EConst(Term.int(40)))),
          AGroup(
            BGP(Seq(qp(V("o"), p("orders", "o_orderpriority"), V("pri")))),
            Seq("pri"), Seq(AggSpec("n", "count", None)))),
        "pri" -> "string", "n" -> "long"),
      Some("SELECT o_orderpriority AS pri, count(*) AS n FROM orders " +
        "GROUP BY 1 HAVING count(*) > 40")),

    ("q_subquery", // customers above their nation's average balance
      (s: SparkSession, d: String) => round4(run(s, d,
        AProject(
          AFilter(ECall(">", Seq(EVar("bal"), EVar("avgbal"))),
            AJoin(
              AGroup(
                BGP(Seq(
                  qp(V("c2"), fk("nation"), V("n")),
                  qp(V("c2"), p("customer", "c_acctbal"), V("bal2")))),
                Seq("n"), Seq(AggSpec("avgbal", "avg", Some(EVar("bal2"))))),
              BGP(Seq(
                qp(V("c"), fk("nation"), V("n")),
                qp(V("c"), p("customer", "c_name"), V("c_name")),
                qp(V("c"), p("customer", "c_acctbal"), V("bal")))))),
          Seq("c_name", "bal", "avgbal")),
        "c_name" -> "string", "bal" -> "double", "avgbal" -> "double"), "avgbal"),
      Some("SELECT c_name, c_acctbal AS bal, round(a.avgbal, 4) AS avgbal " +
        "FROM customer, (SELECT c_nationkey AS nk, avg(c_acctbal) AS avgbal " +
        "FROM customer GROUP BY 1) a WHERE c_nationkey = a.nk AND c_acctbal > a.avgbal")),

    // ---- VALUES ----
    ("q_values",
      (s: SparkSession, d: String) => run(s, d,
        AJoin(
          ATable(Seq("rf"), Seq(Seq(Some(Term.str("A"))), Seq(Some(Term.str("R"))))),
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_returnflag"), V("rf")),
            qp(V("l"), p("lineitem", "l_quantity"), V("qty"))))),
        "rf" -> "string", "qty" -> "double"),
      Some("SELECT l_returnflag AS rf, l_quantity AS qty FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'R')")),

    // ---- GRAPH ----
    ("q_graph_count",
      (s: SparkSession, d: String) => run(s, d,
        AGroup(
          BGP(Seq(QuadPattern(V("s"), V("p"), V("o"), V("g")))),
          Seq("g"), Seq(AggSpec("n", "count", None))),
        "g" -> "string", "n" -> "long"),
      Some(Seq(
        "SELECT 'urn:g:region' AS g, count(r_regionkey)+count(r_name) AS n FROM region",
        "SELECT 'urn:g:nation', count(n_nationkey)+count(n_name)+count(n_regionkey)*2 FROM nation",
        "SELECT 'urn:g:customer', count(c_custkey)+count(c_name)+count(c_nationkey)*2+count(c_acctbal)+count(c_mktsegment) FROM customer",
        "SELECT 'urn:g:supplier', count(s_suppkey)+count(s_name)+count(s_nationkey)*2+count(s_acctbal) FROM supplier",
        "SELECT 'urn:g:part', count(p_partkey)+count(p_name)+count(p_brand)+count(p_type)+count(p_size)+count(p_retailprice) FROM part",
        "SELECT 'urn:g:orders', count(o_orderkey)+count(o_custkey)*2+count(o_orderstatus)+count(o_totalprice)+count(o_orderdate)+count(o_orderpriority) FROM orders",
        "SELECT 'urn:g:lineitem', count(l_orderkey)*2+count(l_partkey)*2+count(l_suppkey)*2+count(l_linenumber)+count(l_quantity)+count(l_extendedprice)+count(l_discount)+count(l_tax)+count(l_returnflag)+count(l_linestatus)+count(l_shipdate) FROM lineitem",
        "SELECT 'urn:g:events', count(event_id)+count(ts)+count(user_id)+count(event_type)+count(value)+count(props) FROM events",
        "SELECT 'urn:g:documents', count(doc_id)+count(text)+count(lang)+count(source)+count(n_chars) FROM documents",
        "SELECT 'urn:g:embeddings', count(vec_id)+count(label) FROM embeddings")
        .mkString(" UNION ALL "))),

    // ---- property paths ----
    ("q_path_seq", // lineitem (fk:orders/fk:customer/c_name)
      (s: SparkSession, d: String) => run(s, d,
        AProject(APath(V("l"), PSeq(PSeq(PLink("urn:fk:orders"), PLink("urn:fk:customer")),
          PLink("urn:p:customer:c_name")), V("c_name")), Seq("c_name")),
        "c_name" -> "string"),
      Some("SELECT c.c_name FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey")),

    ("q_path_alt",
      (s: SparkSession, d: String) => run(s, d,
        AProject(APath(V("c"), PAlt(PLink("urn:p:customer:c_name"),
          PLink("urn:p:customer:c_mktsegment")), V("v")), Seq("v")),
        "v" -> "string"),
      Some("SELECT c_name AS v FROM customer UNION ALL SELECT c_mktsegment FROM customer")),

    ("q_path_inv", // orders of customer 42 via ^fk:customer
      (s: SparkSession, d: String) => run(s, d,
        APath(N.iri("urn:t:customer:42"), PInv(PLink("urn:fk:customer")), V("o")),
        "o" -> "string"),
      Some("SELECT 'urn:t:orders:' || o_orderkey AS o FROM orders WHERE o_custkey = 42")),

    ("q_path_nps", // !(c_name|c_acctbal) within the customer graph
      (s: SparkSession, d: String) => run(s, d,
        AProject(APath(V("c"), PNeg(Seq("urn:p:customer:c_name", "urn:p:customer:c_acctbal")),
          V("v"), T(Iri("urn:g:customer"))), Seq("v")),
        "v" -> "string"),
      Some("SELECT CAST(c_custkey AS VARCHAR) AS v FROM customer " +
        "UNION ALL SELECT CAST(c_nationkey AS VARCHAR) FROM customer " +
        "UNION ALL SELECT c_mktsegment FROM customer " +
        "UNION ALL SELECT 'urn:t:nation:' || c_nationkey FROM customer")),

    ("q_path_plus", // transitive fk closure from one order
      (s: SparkSession, d: String) => run(s, d,
        APath(N.iri("urn:t:orders:1"),
          PPlus(PAlt(PAlt(PLink("urn:fk:customer"), PLink("urn:fk:nation")),
            PLink("urn:fk:region"))), V("node")),
        "node" -> "string"),
      Some("WITH c AS (SELECT o_custkey AS ck FROM orders WHERE o_orderkey = 1), " +
        "n AS (SELECT c_nationkey AS nk FROM customer, c WHERE c_custkey = ck) " +
        "SELECT 'urn:t:customer:' || ck AS node FROM c " +
        "UNION SELECT 'urn:t:nation:' || nk FROM n " +
        "UNION SELECT 'urn:t:region:' || n_regionkey FROM nation, n WHERE n_nationkey = nk")),

    ("q_path_plus_rev", // transitive fk closure BACKWARDS from one region:
      // bound-object closure walks reversed steps (regression: forward-edge
      // extension walked the wrong direction and returned the object itself)
      (s: SparkSession, d: String) => run(s, d,
        APath(V("node"),
          PPlus(PAlt(PAlt(PLink("urn:fk:customer"), PLink("urn:fk:nation")),
            PLink("urn:fk:region"))), N.iri("urn:t:region:1")),
        "node" -> "string"),
      // suppliers also carry fk:nation edges, so they reach the region too
      Some("WITH n AS (SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 1), " +
        "c AS (SELECT c_custkey AS ck FROM customer WHERE c_nationkey IN (SELECT nk FROM n)) " +
        "SELECT 'urn:t:nation:' || nk AS node FROM n " +
        "UNION SELECT 'urn:t:customer:' || ck FROM c " +
        "UNION SELECT 'urn:t:supplier:' || s_suppkey FROM supplier " +
        "WHERE s_nationkey IN (SELECT nk FROM n) " +
        "UNION SELECT 'urn:t:orders:' || o_orderkey FROM orders " +
        "WHERE o_custkey IN (SELECT ck FROM c)")),

    ("q_path_star", // zero-or-more includes the subject itself
      (s: SparkSession, d: String) => run(s, d,
        APath(N.iri("urn:t:customer:1"), PStar(PLink("urn:fk:nation")), V("node")),
        "node" -> "string"),
      Some("SELECT 'urn:t:customer:1' AS node " +
        "UNION SELECT 'urn:t:nation:' || c_nationkey FROM customer WHERE c_custkey = 1")),

    ("q_path_zero_one",
      (s: SparkSession, d: String) => run(s, d,
        APath(N.iri("urn:t:customer:1"), PZeroOne(PLink("urn:fk:nation")), V("node")),
        "node" -> "string"),
      Some("SELECT 'urn:t:customer:1' AS node " +
        "UNION SELECT 'urn:t:nation:' || c_nationkey FROM customer WHERE c_custkey = 1")),

    // ---- window functions ----
    ("q_win_rank",
      (s: SparkSession, d: String) => run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("c"), p("customer", "c_mktsegment"), V("seg")),
            qp(V("c"), p("customer", "c_acctbal"), V("bal")),
            qp(V("c"), p("customer", "c_custkey"), V("ck")))),
          Seq(WinSpec("rk", "rank", None, Seq("seg"), Seq(SortKey(EVar("bal"), asc = false))),
            WinSpec("drk", "dense_rank", None, Seq("seg"), Seq(SortKey(EVar("bal"), asc = false))))),
        "seg" -> "string", "bal" -> "double", "ck" -> "long", "rk" -> "long", "drk" -> "long"),
      Some("SELECT c_mktsegment AS seg, c_acctbal AS bal, c_custkey AS ck, " +
        "CAST(rank() OVER w AS BIGINT) AS rk, CAST(dense_rank() OVER w AS BIGINT) AS drk " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)")),

    ("q_win_rownum",
      (s: SparkSession, d: String) => run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("c"), p("customer", "c_mktsegment"), V("seg")),
            qp(V("c"), p("customer", "c_acctbal"), V("bal")),
            qp(V("c"), p("customer", "c_custkey"), V("ck")))),
          Seq(WinSpec("rn", "row_number", None, Seq("seg"),
            Seq(SortKey(EVar("bal"), asc = false), SortKey(EVar("ck")))))),
        "seg" -> "string", "ck" -> "long", "rn" -> "long"),
      Some("SELECT c_mktsegment AS seg, c_custkey AS ck, CAST(row_number() OVER " +
        "(PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn " +
        "FROM customer")),

    ("q_win_sum_frame", // running total per customer (ROWS UNBOUNDED PRECEDING)
      (s: SparkSession, d: String) => round4(run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("o"), p("orders", "o_custkey"), V("ck")),
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_orderdate"), V("od")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq(WinSpec("running", "sum", Some(EVar("tp")), Seq("ck"),
            Seq(SortKey(EVar("od")), SortKey(EVar("okey"))),
            frame = Some((Long.MinValue, 0L))))),
        "ck" -> "long", "okey" -> "long", "running" -> "double"), "running"),
      Some("SELECT o_custkey AS ck, o_orderkey AS okey, round(sum(o_totalprice) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running FROM orders")),

    ("q_win_avg_frame", // sliding window (1 preceding .. 1 following)
      (s: SparkSession, d: String) => round4(run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("o"), p("orders", "o_custkey"), V("ck")),
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq(WinSpec("sliding_avg", "avg", Some(EVar("tp")), Seq("ck"),
            Seq(SortKey(EVar("okey"))), frame = Some((-1L, 1L))),
            WinSpec("wn", "count", None, Seq("ck"),
              Seq(SortKey(EVar("okey"))), frame = Some((-1L, 1L))))),
        "ck" -> "long", "okey" -> "long", "sliding_avg" -> "double", "wn" -> "long"),
        "sliding_avg"),
      Some("SELECT o_custkey AS ck, o_orderkey AS okey, round(avg(o_totalprice) OVER w, 4) " +
        "AS sliding_avg, CAST(count(*) OVER w AS BIGINT) AS wn FROM orders WINDOW w AS " +
        "(PARTITION BY o_custkey ORDER BY o_orderkey ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)")),

    ("q_win_range", // RANGE frame (value-based bounds) — Spark-native extension;
      // the reference engine throws on RANGE frames (MaterializedQueryPlan
      // .swift:849-852), Spark's rangeBetween supports them directly
      (s: SparkSession, d: String) => round4(run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("o"), p("orders", "o_custkey"), V("ck")),
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq(WinSpec("near_sum", "sum", Some(EVar("tp")), Seq("ck"),
            Seq(SortKey(EVar("okey"))), frame = Some((-100L, 100L)), range = true),
            WinSpec("near_n", "count", None, Seq("ck"),
              Seq(SortKey(EVar("okey"))), frame = Some((-100L, 100L)), range = true))),
        "ck" -> "long", "okey" -> "long", "near_sum" -> "double", "near_n" -> "long"),
        "near_sum"),
      Some("SELECT o_custkey AS ck, o_orderkey AS okey, round(sum(o_totalprice) OVER w, 4) " +
        "AS near_sum, CAST(count(*) OVER w AS BIGINT) AS near_n FROM orders WINDOW w AS " +
        "(PARTITION BY o_custkey ORDER BY o_orderkey " +
        "RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)")),

    ("q_win_ntile", // peer-group NTILE (NOT SQL row-ntile; reference semantics)
      (s: SparkSession, d: String) => run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq(WinSpec("tile", "ntile", None, Seq.empty,
            Seq(SortKey(EVar("tp"), asc = false)), arg = 4))),
        "okey" -> "long", "tile" -> "long"),
      Some("WITH t AS (SELECT o_orderkey AS okey, dense_rank() OVER " +
        "(ORDER BY o_totalprice DESC) AS d FROM orders) " +
        "SELECT okey, CAST(floor((d - 1) * 4.0 / (SELECT max(d) FROM t)) + 1 AS BIGINT) " +
        "AS tile FROM t")),

    ("q_win_concat", // GROUP_CONCAT over a running frame
      (s: SparkSession, d: String) => run(s, d,
        AWindow(
          BGP(Seq(
            qp(V("n"), fk("region"), V("r")),
            qp(V("n"), p("nation", "n_name"), V("nm")),
            qp(V("r"), p("region", "r_name"), V("rn")))),
          Seq(WinSpec("acc", "group_concat", Some(EVar("nm")), Seq("rn"),
            Seq(SortKey(EVar("nm"))), frame = Some((Long.MinValue, 0L)), sep = ","))),
        "rn" -> "string", "nm" -> "string", "acc" -> "string"),
      Some("SELECT r_name AS rn, n_name AS nm, string_agg(n_name, ',') OVER " +
        "(PARTITION BY r_name ORDER BY n_name ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS acc FROM nation JOIN region ON n_regionkey = r_regionkey")),

    // ---- query forms ----
    ("q_ask",
      (s: SparkSession, d: String) => {
        val c = compiler(s, d)
        Results.ask(c.compile(AFilter(
          ECall(">", Seq(EVar("qty"), EConst(Term.int(49)))),
          BGP(Seq(qp(V("l"), p("lineitem", "l_quantity"), V("qty")))))))
      },
      Some("SELECT EXISTS(SELECT 1 FROM lineitem WHERE l_quantity > 49) AS ask")),

    ("q_construct",
      (s: SparkSession, d: String) => {
        val c = compiler(s, d)
        Results.construct(c,
          c.compile(BGP(Seq(qp(V("r"), p("region", "r_name"), V("nm"))))),
          Seq(
            (V("r"), p("region", "r_name"), V("nm")),
            (V("r"), N.iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
              N.iri("urn:class:region"))))
      },
      Some("SELECT 'urn:t:region:' || r_regionkey AS subject, 'urn:p:region:r_name' " +
        "AS predicate, r_name AS object FROM region UNION " +
        "SELECT 'urn:t:region:' || r_regionkey, " +
        "'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:class:region' FROM region")),

    ("q_describe",
      (s: SparkSession, d: String) => {
        val c = compiler(s, d)
        val sol = c.compile(BGP(Seq(QuadPattern(V("x"),
          p("customer", "c_custkey"), T(Term.int(7))))))
        Results.describe(c, sol, Seq("x"))
      },
      Some("SELECT 'urn:t:customer:7' AS subject, p AS predicate, o AS object FROM (" +
        "SELECT 'urn:p:customer:c_custkey' AS p, CAST(c_custkey AS VARCHAR) AS o " +
        "FROM customer WHERE c_custkey = 7 " +
        "UNION ALL SELECT 'urn:p:customer:c_name', c_name FROM customer WHERE c_custkey = 7 " +
        "UNION ALL SELECT 'urn:p:customer:c_nationkey', CAST(c_nationkey AS VARCHAR) " +
        "FROM customer WHERE c_custkey = 7 " +
        "UNION ALL SELECT 'urn:p:customer:c_acctbal', CAST(c_acctbal AS VARCHAR) " +
        "FROM customer WHERE c_custkey = 7 " +
        "UNION ALL SELECT 'urn:p:customer:c_mktsegment', c_mktsegment " +
        "FROM customer WHERE c_custkey = 7 " +
        "UNION ALL SELECT 'urn:fk:nation', 'urn:t:nation:' || c_nationkey " +
        "FROM customer WHERE c_custkey = 7)")),

    ("q_describe_multi", // DESCRIBE ?x ?n — a var list, one unioned semi-join
      (s: SparkSession, d: String) => {
        val c = compiler(s, d)
        val sol = c.compile(BGP(Seq(
          QuadPattern(V("x"), p("customer", "c_custkey"), T(Term.int(7))),
          QuadPattern(V("x"), fk("nation"), V("n")))))
        Results.describe(c, sol, Seq("x", "n"))
      },
      Some("WITH c AS (SELECT * FROM customer WHERE c_custkey = 7), " +
        "n AS (SELECT nation.* FROM nation, c WHERE n_nationkey = c.c_nationkey) " +
        "SELECT 'urn:t:customer:7' AS subject, 'urn:p:customer:c_custkey' AS predicate, " +
        "CAST(c_custkey AS VARCHAR) AS object FROM c " +
        "UNION ALL SELECT 'urn:t:customer:7', 'urn:p:customer:c_name', c_name FROM c " +
        "UNION ALL SELECT 'urn:t:customer:7', 'urn:p:customer:c_nationkey', " +
        "CAST(c_nationkey AS VARCHAR) FROM c " +
        "UNION ALL SELECT 'urn:t:customer:7', 'urn:p:customer:c_acctbal', " +
        "CAST(c_acctbal AS VARCHAR) FROM c " +
        "UNION ALL SELECT 'urn:t:customer:7', 'urn:p:customer:c_mktsegment', " +
        "c_mktsegment FROM c " +
        "UNION ALL SELECT 'urn:t:customer:7', 'urn:fk:nation', " +
        "'urn:t:nation:' || c_nationkey FROM c " +
        "UNION ALL SELECT 'urn:t:nation:' || n_nationkey, 'urn:p:nation:n_nationkey', " +
        "CAST(n_nationkey AS VARCHAR) FROM n " +
        "UNION ALL SELECT 'urn:t:nation:' || n_nationkey, 'urn:p:nation:n_name', " +
        "n_name FROM n " +
        "UNION ALL SELECT 'urn:t:nation:' || n_nationkey, 'urn:p:nation:n_regionkey', " +
        "CAST(n_regionkey AS VARCHAR) FROM n " +
        "UNION ALL SELECT 'urn:t:nation:' || n_nationkey, 'urn:fk:region', " +
        "'urn:t:region:' || n_regionkey FROM n")),

    // ---- expression batteries ----
    ("q_expr_strings",
      (s: SparkSession, d: String) => run(s, d,
        AExtend(AExtend(AExtend(AExtend(
          BGP(Seq(
            qp(V("c"), p("customer", "c_name"), V("nm")),
            qp(V("c"), p("customer", "c_mktsegment"), V("seg")))),
          "len", ECall("strlen", Seq(EVar("nm")))),
          "upper4", ECall("ucase", Seq(ECall("substr",
            Seq(EVar("nm"), EConst(Term.int(10)), EConst(Term.int(4))))))),
          "joined", ECall("concat", Seq(EVar("nm"), EConst(Term.str("-")), EVar("seg")))),
          "numpart", ECall("strafter", Seq(EVar("nm"), EConst(Term.str("#"))))),
        "nm" -> "string", "len" -> "long", "upper4" -> "string",
        "joined" -> "string", "numpart" -> "string"),
      Some("SELECT c_name AS nm, CAST(length(c_name) AS BIGINT) AS len, " +
        "upper(substr(c_name, 10, 4)) AS upper4, " +
        "c_name || '-' || c_mktsegment AS joined, " +
        "split_part(c_name, '#', 2) AS numpart FROM customer")),

    ("q_expr_numeric",
      (s: SparkSession, d: String) => round4(run(s, d,
        AExtend(AExtend(AExtend(AExtend(
          BGP(Seq(
            qp(V("o"), p("orders", "o_orderkey"), V("okey")),
            qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          "dist", ECall("abs", Seq(ECall("-", Seq(EVar("tp"), EConst(Term.dbl(200000.0))))))),
          "up", ECall("ceil", Seq(EVar("tp")))),
          "down", ECall("floor", Seq(EVar("tp")))),
          "seventh", ECall("/", Seq(EVar("tp"), EConst(Term.int(7))))),
        "okey" -> "long", "dist" -> "double", "up" -> "double",
        "down" -> "double", "seventh" -> "double"), "dist", "seventh"),
      Some("SELECT o_orderkey AS okey, round(abs(o_totalprice - 200000), 4) AS dist, " +
        "ceiling(o_totalprice) AS up, floor(o_totalprice) AS down, " +
        "round(o_totalprice / 7, 4) AS seventh FROM orders")),

    ("q_expr_datetime",
      (s: SparkSession, d: String) => run(s, d,
        AExtend(AExtend(AExtend(
          BGP(Seq(
            qp(V("l"), p("lineitem", "l_orderkey"), V("okey")),
            qp(V("l"), p("lineitem", "l_shipdate"), V("sd")))),
          "y", ECall("year", Seq(EVar("sd")))),
          "m", ECall("month", Seq(EVar("sd")))),
          "dd", ECall("day", Seq(EVar("sd")))),
        "okey" -> "long", "sd" -> "timestamp", "y" -> "long", "m" -> "long", "dd" -> "long"),
      Some("SELECT l_orderkey AS okey, l_shipdate AS sd, year(l_shipdate) AS y, " +
        "month(l_shipdate) AS m, day(l_shipdate) AS dd FROM lineitem")),

    ("q_expr_hash",
      (s: SparkSession, d: String) => run(s, d,
        AExtend(AExtend(
          BGP(Seq(qp(V("c"), p("customer", "c_name"), V("nm")))),
          "h_md5", ECall("md5", Seq(EVar("nm")))),
          "h_sha256", ECall("sha256", Seq(EVar("nm")))),
        "nm" -> "string", "h_md5" -> "string", "h_sha256" -> "string"),
      Some("SELECT c_name AS nm, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256 " +
        "FROM customer")),

    ("q_expr_cond",
      (s: SparkSession, d: String) => run(s, d,
        AFilter(ECall("in", Seq(EVar("seg"), EConst(Term.str("BUILDING")),
          EConst(Term.str("AUTOMOBILE")), EConst(Term.str("MACHINERY")))),
          AExtend(
            BGP(Seq(
              qp(V("c"), p("customer", "c_name"), V("nm")),
              qp(V("c"), p("customer", "c_mktsegment"), V("seg")),
              qp(V("c"), p("customer", "c_acctbal"), V("bal")))),
            "sign", ECall("if", Seq(
              ECall("<", Seq(EVar("bal"), EConst(Term.int(0)))),
              EConst(Term.str("neg")), EConst(Term.str("pos")))))),
        "nm" -> "string", "seg" -> "string", "sign" -> "string"),
      Some("SELECT c_name AS nm, c_mktsegment AS seg, " +
        "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign FROM customer " +
        "WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')")),

    ("q_expr_cast",
      (s: SparkSession, d: String) => run(s, d,
        AExtend(AExtend(
          BGP(Seq(
            qp(V("c"), p("customer", "c_name"), V("nm")),
            qp(V("c"), p("customer", "c_acctbal"), V("bal")))),
          "keynum", ECall("*", Seq(
            ECall("xsd:integer", Seq(ECall("strafter", Seq(EVar("nm"), EConst(Term.str("#")))))),
            EConst(Term.int(2))))),
          "balstr", ECall("str", Seq(EVar("bal")))),
        "nm" -> "string", "keynum" -> "long", "balstr" -> "string"),
      // STR(?bal) returns the xsd:decimal canonical lexical (trailing fraction
      // zeros stripped); the oracle reproduces it from the DECIMAL(18,2) value
      Some("SELECT c_name AS nm, CAST(split_part(c_name, '#', 2) AS BIGINT) * 2 AS keynum, " +
        "regexp_replace(regexp_replace(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR), " +
        "'(\\.\\d*?)0+$', '\\1'), '\\.$', '') AS balstr FROM customer")),

    ("q_count_stat", // COUNT(*) answered from per-predicate statistics (no scan)
      (s: SparkSession, d: String) => run(s, d,
        AGroup(BGP(Seq(qp(V("l"), p("lineitem", "l_quantity"), V("q0")))),
          Seq.empty, Seq(AggSpec("n", "count", None))),
        "n" -> "long"),
      Some("SELECT count(*) AS n FROM lineitem")),

    ("q_count_star_stat", // star-shape COUNT(*) answered statically from
      // characteristic sets (Diomede parity, DiomedeQuadStore.swift:15-97):
      // every queried predicate is single-valued within every matching set,
      // so the count is Σ subjects over covering sets — LocalRelation plan,
      // zero scans (plan asserted in EngineSpec)
      (s: SparkSession, d: String) => run(s, d,
        AGroup(BGP(Seq(
          qp(V("c"), p("customer", "c_name"), V("nm")),
          qp(V("c"), p("customer", "c_acctbal"), V("bal")),
          qp(V("c"), p("customer", "c_mktsegment"), V("seg")))),
          Seq.empty, Seq(AggSpec("n", "count", None))),
        "n" -> "long"),
      Some("SELECT count(*) AS n FROM customer")),

    ("q_count_distinct_subj_stat", // star-shape COUNT(DISTINCT ?s) from the
      // same characteristic sets — a subject matches iff its predicate set
      // covers the star, so the distinct-subject count is the same
      // Σ subjects; exact with NO single-valuedness requirement
      (s: SparkSession, d: String) => run(s, d,
        AGroup(BGP(Seq(
          qp(V("o"), p("orders", "o_orderstatus"), V("st")),
          qp(V("o"), p("orders", "o_totalprice"), V("tp")))),
          Seq.empty,
          Seq(AggSpec("n", "count", Some(EVar("o")), distinct = true))),
        "n" -> "long"),
      Some("SELECT count(DISTINCT o_orderkey) AS n FROM orders")),

    ("q_sparql_text", // end-to-end through the SPARQL *text* parser
      (s: SparkSession, d: String) => {
        val eng = new graft.GraftEngine(RelToRdf.cached(s, d))
        val df = eng.query(
          """PREFIX l: <urn:p:lineitem:>
            |SELECT ?rf (COUNT(*) AS ?n) (SUM(?qty) AS ?sumqty) WHERE {
            |  ?li l:l_returnflag ?rf ; l:l_quantity ?qty .
            |} GROUP BY ?rf""".stripMargin)
        df.select(col("rf.lex").as("rf"), col("n.lex").cast("long").as("n"),
          round(col("sumqty.num"), 4).as("sumqty"))
      },
      Some("SELECT l_returnflag AS rf, count(*) AS n, round(sum(l_quantity), 4) " +
        "AS sumqty FROM lineitem GROUP BY 1")),

    ("q_sparql_window", // window functions through the SPARQL *text* parser
      // (the reference's window extension syntax, QueryPlanner.swift:699-720;
      // r13 closes the last text-reachability gap: q_win_* shapes previously
      // needed the Algebra API): per-customer price rank (ties broken by
      // order key — total order, so RANK is deterministic) plus a 2-row
      // moving sum over the exact-decimal path. Runs over the PERSISTED
      // bucketed store (unlike q_sparql_text's in-memory-store leg): text →
      // parse → compile → production layout, the deployment shape
      (s: SparkSession, d: String) => {
        val eng = new graft.GraftEngine(compiler(s, d).store)
        val df = eng.query(
          """PREFIX o: <urn:p:orders:>
            |SELECT ?ck ?okey
            |  (RANK() OVER (PARTITION BY ?ck ORDER BY DESC(?tp) ?okey) AS ?rk)
            |  (SUM(?tp) OVER (PARTITION BY ?ck ORDER BY ?okey
            |     ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS ?mv)
            |WHERE { ?o o:o_custkey ?ck ; o:o_orderkey ?okey ; o:o_totalprice ?tp }""".stripMargin)
        df.select(col("ck.lex").cast("long").as("ck"),
          col("okey.lex").cast("long").as("okey"),
          col("rk.lex").cast("long").as("rk"),
          round(col("mv.num"), 4).as("mv"))
      },
      Some("SELECT o_custkey AS ck, o_orderkey AS okey, " +
        "CAST(rank() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 4) AS mv FROM orders")),

    // ---- dedup pipeline ----
    ("dd_exact",
      (s: SparkSession, d: String) => graft.pipeline.Dedup.exact(s, d),
      Some("SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep " +
        "FROM documents GROUP BY 1")),

    ("dd_minhash_lsh", // MinHash+LSH near-dup pairs — FULL value oracle: the
      // shingle hash is the md5-prefix integer (same construction as SimHash),
      // and each splitmix64 lane is replicated in DuckDB with wrapping 64-bit
      // arithmetic (unsigned mod-2^64; the 64×64 multiply is split into 32-bit
      // halves so every HUGEINT intermediate stays under 2^97). Lane minima
      // compare as SIGNED longs (Spark Long min), hence the 2^63 re-centering
      // before min(). Banding joins on the raw 4-long signature slice, which
      // both engines compare identically (array/list equality).
      (s: SparkSession, d: String) => graft.pipeline.Dedup.minhashLsh(s, d, threshold = 0.2),
      Some("WITH w AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents), " +
        "sh0 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(parts) - 3, 0)), " +
        "i -> array_to_string(list_slice(parts, i + 1, i + 3), ' '))) AS sh FROM w), " +
        "sh AS (SELECT DISTINCT doc_id, " +
        "CAST(concat('0x', substring(md5(sh),1,15)) AS BIGINT) AS h FROM sh0), " +
        "lanes AS (SELECT doc_id, CAST(h AS HUGEINT) AS hh, i FROM sh, range(0, 64) u(i)), " +
        "m0 AS (SELECT doc_id, i, (hh + (CAST(42 + i AS HUGEINT) * " +
        "CAST(11400714819323198485 AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT)) " +
        "% CAST(18446744073709551616 AS HUGEINT) AS z FROM lanes), " +
        "m1a AS (SELECT doc_id, i, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) " +
        "AS HUGEINT) AS t FROM m0), " +
        "m1 AS (SELECT doc_id, i, (((t // 4294967296) * CAST(13787848793156543929 AS HUGEINT) " +
        "% 4294967296) * 4294967296 + (t % 4294967296) * CAST(13787848793156543929 AS HUGEINT)) " +
        "% CAST(18446744073709551616 AS HUGEINT) AS z FROM m1a), " +
        "m2a AS (SELECT doc_id, i, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 27) " +
        "AS HUGEINT) AS t FROM m1), " +
        "m2 AS (SELECT doc_id, i, (((t // 4294967296) * CAST(10723151780598845931 AS HUGEINT) " +
        "% 4294967296) * 4294967296 + (t % 4294967296) * CAST(10723151780598845931 AS HUGEINT)) " +
        "% CAST(18446744073709551616 AS HUGEINT) AS z FROM m2a), " +
        "m3 AS (SELECT doc_id, i, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 31) AS z FROM m2), " +
        "mins AS (SELECT doc_id, i, min(CASE WHEN z >= CAST(9223372036854775808 AS UBIGINT) " +
        "THEN CAST(CAST(z AS HUGEINT) - CAST(18446744073709551616 AS HUGEINT) AS BIGINT) " +
        "ELSE CAST(z AS BIGINT) END) AS m FROM m3 GROUP BY 1, 2), " +
        "sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY 1), " +
        "bd AS (SELECT doc_id, b, sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)] AS bs " +
        "FROM sig, range(0, 16) u(b)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2 FROM bd x JOIN bd y " +
        "ON x.b = y.b AND x.bs = y.bs AND x.doc_id < y.doc_id), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "i2 AS (SELECT c.a, c.b2, count(*) AS inter FROM cand c " +
        "JOIN sh sx ON sx.doc_id = c.a JOIN sh sy ON sy.doc_id = c.b2 AND sy.h = sx.h " +
        "GROUP BY 1, 2) " +
        "SELECT a, b2 AS b, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard " +
        "FROM i2 JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b2 " +
        "WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.2")),

    ("dd_simhash",
      // oracle-checkable since the token hash is the md5-prefix integer both
      // engines compute identically (Dedup.SimHashBits scaladoc)
      (s: SparkSession, d: String) => graft.pipeline.Dedup.simhash(s, d),
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(tok),1,15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "b AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM t, range(0,60) u(i) GROUP BY 1,2) " +
        "SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS simhash FROM b GROUP BY 1")),

    ("dd_simhash_pairs",
      (s: SparkSession, d: String) => graft.pipeline.Dedup.simhashPairs(s, d, maxHam = 10),
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(tok),1,15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "bb AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM t, range(0,60) u(i) GROUP BY 1,2), " +
        "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS simhash FROM bb GROUP BY 1), " +
        "bd AS (SELECT doc_id, simhash, b, (simhash >> CAST(b*15 AS INT)) & 32767 AS bh " +
        "FROM sig, range(0,4) u(b)), " +
        "p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2, " +
        "CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming " +
        "FROM bd x JOIN bd y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id) " +
        "SELECT a, b2 AS b, hamming FROM p WHERE hamming <= 10")),

    ("dd_exact_clusters", // full doc→representative map via Dedup.clustersOf
      // components over star edges (linear in group size); window-min oracle. The corpus
      // has no exact duplicates, so this also pins the singleton/empty-graph
      // edge of the clustering path.
      (s: SparkSession, d: String) => graft.pipeline.Dedup.exactClusters(s, d),
      Some("SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep " +
        "FROM documents")),

    ("dd_simhash_clusters", // transitive near-dup clusters: Dedup.clustersOf
      // connected components over the simhash pair graph, value-checked against a
      // recursive-CTE closure of the same graph in DuckDB
      (s: SparkSession, d: String) => graft.pipeline.Dedup.simhashClusters(s, d),
      Some("WITH RECURSIVE t AS (SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(tok),1,15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "bb AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM t, range(0,60) u(i) GROUP BY 1,2), " +
        "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS simhash FROM bb GROUP BY 1), " +
        "bd AS (SELECT doc_id, simhash, b, (simhash >> CAST(b*15 AS INT)) & 32767 AS bh " +
        "FROM sig, range(0,4) u(b)), " +
        "p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2 FROM bd x JOIN bd y " +
        "ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 10), " +
        "e AS (SELECT a AS x, b2 AS y FROM p UNION SELECT b2, a FROM p), " +
        "r(n, m) AS (SELECT x AS n, x AS m FROM (SELECT x FROM e UNION SELECT y FROM e) " +
        "UNION SELECT r.n, e.y FROM r JOIN e ON r.m = e.x) " +
        "SELECT n AS doc_id, min(m) AS keep FROM r GROUP BY 1")),

    ("dd_ngram_jaccard",
      (s: SparkSession, d: String) => graft.pipeline.Dedup.ngramJaccard(s, d, threshold = 0.3),
      // full DuckDB replica of the blocked n-gram Jaccard, INCLUDING the
      // maxBlockDocs=4096 hot-block cap (blocks over the membership cap are
      // excluded from the pairwise join on both sides — `over`/anti-join here
      // mirrors Dedup.ngramOversizedBlocks). The Spark side dedups
      // xxhash64(gram) while the oracle dedups the grams themselves —
      // identical sets absent a 64-bit collision inside one document
      Some(ngramPairCte +
        "SELECT a, b, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard " +
        "FROM i JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.3")),

    ("dd_ngram_containment", // asymmetric near-dup (quote/subset detection):
      // max-containment inter/min(|A|,|B|) over the SAME blocked candidate
      // pairs — a short doc quoted inside a long one scores 1.0 while its
      // Jaccard stays low; shares the pair-stats CTE with dd_ngram_jaccard
      (s: SparkSession, d: String) => graft.pipeline.Dedup.ngramContainment(s, d),
      Some(ngramPairCte +
        "SELECT a, b, round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 4) AS containment " +
        "FROM i JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "WHERE round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 4) >= 0.5")),

    ("dd_decontaminate", // benchmark decontamination: corpus docs sharing
      // token-8-grams with the held-out doc_id%20==0 slice above threshold.
      // Oracle-exact: the output is hash-free (counts/ratios), so the oracle
      // joins on the raw grams while Spark joins on xxhash64(gram) — identical
      // sets absent a 64-bit collision (same convention as dd_ngram_jaccard);
      // same size-w shingle-count rule on both sides (starts 1..len-8)
      (s: SparkSession, d: String) => graft.pipeline.Dedup.decontaminateDir(s, d),
      Some("WITH g AS (SELECT DISTINCT doc_id, " +
        "array_to_string(ws[i:i+7], ' ') AS h " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t, " +
        "LATERAL (SELECT unnest(range(1, greatest(len(ws) - 7, 1))) AS i) u), " +
        "ev AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0), " +
        "cg AS (SELECT * FROM g WHERE doc_id % 20 <> 0), " +
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1), " +
        "hit AS (SELECT doc_id, count(*) AS hits FROM cg " +
        "WHERE h IN (SELECT h FROM ev) GROUP BY 1) " +
        "SELECT t.doc_id, n_grams, coalesce(hits, 0) AS hits, " +
        "round(CAST(coalesce(hits, 0) AS DOUBLE) / n_grams, 4) AS overlap " +
        "FROM tot t LEFT JOIN hit USING(doc_id) " +
        "WHERE round(CAST(coalesce(hits, 0) AS DOUBLE) / n_grams, 4) >= 0.05")),

    ("dd_dup_spans", // exact-substring-dedup signal (Lee et al. 2107.06499):
      // token-8-grams in >=2 distinct docs mark positions; per doc the
      // longest consecutive duplicated run (gaps-and-islands over positions).
      // Raw-gram oracle convention as dd_decontaminate (xxhash64 vs raw
      // string grams, same 1..len-8 starts)
      (s: SparkSession, d: String) => graft.pipeline.Dedup.dupSpans(s, d),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "g AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS h FROM t, " +
        "LATERAL (SELECT unnest(range(1, greatest(len(ws) - 7, 1))) AS i) u), " +
        "dg AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g) " +
        "GROUP BY h HAVING count(*) >= 2), " +
        "f AS (SELECT doc_id, i FROM g WHERE h IN (SELECT h FROM dg)), " +
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1), " +
        "runs AS (SELECT doc_id, count(*) AS run FROM (SELECT doc_id, " +
        "i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM f) " +
        "GROUP BY doc_id, grp), " +
        "a AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS dup_grams, " +
        "max(run) AS max_run FROM runs GROUP BY 1) " +
        "SELECT tot.doc_id, n_grams, dup_grams, max_run FROM tot JOIN a USING(doc_id)")),

    // ---- similarity search ----
    ("graph_pagerank", // link-graph centrality for source-quality weighting
      // (Common Crawl publishes link ranks for exactly this curation use):
      // PageRank in fixed-point integer micro-units — contributions are
      // truncating integer divisions, so 5 unrolled iterations are exact and
      // the oracle computes bit-identical ranks (no float summation order)
      (s: SparkSession, d: String) => graft.pipeline.GraphRank.pagerank(s, d),
      Some {
        val it = (n: Int, p: Int) =>
          s"r$n AS (SELECT n.node, CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r " +
          "FROM nodes n LEFT JOIN (SELECT e.dst, sum(r.r // d.d) AS c FROM edges e " +
          s"JOIN r$p r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1) s " +
          "ON s.dst = n.node), "
        "WITH edges AS (SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src, " +
        "'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders " +
        "UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR), " +
        "'n' || CAST(c_nationkey AS VARCHAR) FROM customer " +
        "UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), " +
        "'n' || CAST(s_nationkey AS VARCHAR) FROM supplier " +
        "UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), " +
        "'r' || CAST(n_regionkey AS VARCHAR) FROM nation), " +
        "nodes AS (SELECT DISTINCT src AS node FROM edges " +
        "UNION SELECT DISTINCT dst FROM edges), " +
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes), " +
        (1 to 5).map(i => it(i, i - 1)).mkString.stripSuffix(", ") +
        " SELECT node, r AS pr FROM r5"
      }),

    ("graph_lpa", // deterministic synchronous label propagation (community
      // detection over the entity graph): most-frequent neighbor label, ties
      // to the smallest label — a total argmax, so 3 unrolled rounds are
      // exact strings and the oracle reproduces them bit-identically
      (s: SparkSession, d: String) => graft.pipeline.GraphRank.labelProp(s, d),
      Some {
        val it = (n: Int, p: Int) =>
          s"l$n AS (SELECT node, lab FROM (SELECT node, lab, " +
          "row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rk " +
          "FROM (SELECT e.src AS node, l.lab, count(*) AS cnt FROM ed e " +
          s"JOIN l$p l ON l.node = e.dst GROUP BY 1, 2)) WHERE rk = 1), "
        "WITH edges0 AS (SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src, " +
        "'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders " +
        "UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR), " +
        "'n' || CAST(c_nationkey AS VARCHAR) FROM customer " +
        "UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), " +
        "'n' || CAST(s_nationkey AS VARCHAR) FROM supplier " +
        "UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), " +
        "'r' || CAST(n_regionkey AS VARCHAR) FROM nation), " +
        "ed AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM edges0 " +
        "UNION ALL SELECT dst, src FROM edges0)), " +
        "l0 AS (SELECT DISTINCT src AS node, src AS lab FROM ed), " +
        (1 to 3).map(i => it(i, i - 1)).mkString.stripSuffix(", ") +
        " SELECT node, lab AS community FROM l3"
      }),

    ("graph_triangles", // per-node triangle count + clustering coefficient
      // over the part co-purchase graph. Spark runs the degree-ordered
      // node-iterator (Suri/Vassilvitskii WWW'11 — wedges bounded by
      // sum out-deg^2, out-deg <= O(sqrt m)); the oracle counts the same
      // triangles with the naive a<b<c triple join (identical sets — the
      // orientation only changes WHERE each triangle is enumerated)
      (s: SparkSession, d: String) => graft.pipeline.GraphRank.triangles(s, d),
      Some("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p " +
        "FROM lineitem WHERE l_orderkey % 10 = 0), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x " +
        "JOIN li y ON x.ok = y.ok AND x.p < y.p), " +
        "tr AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 " +
        "JOIN e e2 ON e2.a = e1.b " +
        "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "nt AS (SELECT node, count(*) AS tri FROM (SELECT a AS node FROM tr " +
        "UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr) GROUP BY 1), " +
        "deg AS (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM e " +
        "UNION ALL SELECT b FROM e) GROUP BY 1) " +
        "SELECT d.node AS part, d.deg, CAST(coalesce(nt.tri, 0) AS BIGINT) AS tri, " +
        "round(CASE WHEN d.deg >= 2 THEN 2.0 * coalesce(nt.tri, 0) / " +
        "(d.deg * (d.deg - 1)) ELSE 0.0 END, 4) AS coeff " +
        "FROM deg d LEFT JOIN nt USING(node)")),

    ("dd_semantic", // SemDeDup (arXiv:2303.09540): coarse k-means clusters,
      // then within-cluster-only pairwise cosine; prune any vector with a
      // lower-id semantic twin (cos >= tau) in its cluster. Oracle reuses
      // the unrolled-Lloyd corpus CTE; tau=0.4 because the synthetic
      // corpus's cosine ceiling is ~0.55 (production: ~0.95)
      (s: SparkSession, d: String) => graft.pipeline.Similarity.semDedup(s, d),
      Some(ivfCorpusCte +
        "nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS nr FROM comp GROUP BY 1), " +
        "pr AS (SELECT x.vec_id AS a, y.vec_id AS b FROM corpus x JOIN corpus y " +
        "ON x.cl = y.cl AND x.vec_id > y.vec_id), " +
        "dp AS (SELECT pr.a, pr.b, sum(ca.v * cb.v) AS dp FROM pr " +
        "JOIN comp ca ON ca.vec_id = pr.a " +
        "JOIN comp cb ON cb.vec_id = pr.b AND cb.j = ca.j GROUP BY 1, 2), " +
        "dups AS (SELECT DISTINCT a AS vec_id FROM dp " +
        "JOIN nrm na ON na.vec_id = dp.a JOIN nrm nb ON nb.vec_id = dp.b " +
        "WHERE round(dp.dp / (na.nr * nb.nr), 4) >= 0.4) " +
        "SELECT c.vec_id, CAST(c.cl AS INT) AS cl, d.vec_id IS NULL AS keep " +
        "FROM corpus c LEFT JOIN dups d USING(vec_id)")),

    ("ret_bm25_topk", // BM25 query-by-example over the inverted tf index:
      // posting-list join on the term key (cost follows list occupancy, not
      // |q|x|corpus|); per-term scores micro-rounded before the integer sum
      (s: SparkSession, d: String) => graft.pipeline.Retrieval.bm25TopK(s, d),
      Some("WITH " + bm25Cte(5) +
        " SELECT qid, nid, score_micro, rk FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, nid) " +
        "AS BIGINT) AS rk FROM s) WHERE rk <= 5")),

    ("ret_bm25_prf", // pseudo-relevance-feedback query expansion
      // (RM3/Rocchio-lite): BM25 top-3 feedback docs per query, expansion
      // terms ranked by exact integer summed-tf (ties on token, originals
      // excluded via anti-join), top-5 added, re-scored. The oracle extends
      // the shared BM25 CTE with the same three stages
      (s: SparkSession, d: String) => graft.pipeline.Retrieval.bm25Prf(s, d),
      Some("WITH " + bm25Cte(5) + ", " +
        "fb AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER " +
        "(PARTITION BY qid ORDER BY score_micro DESC, nid) AS rk FROM s) " +
        "WHERE rk <= 3), " +
        "exw AS (SELECT fb.qid, f.tok, CAST(sum(f.tf) AS BIGINT) AS wt " +
        "FROM fb JOIN tf f ON f.doc_id = fb.nid " +
        "WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.qid = fb.qid AND q.tok = f.tok) " +
        "GROUP BY 1, 2), " +
        "ex AS (SELECT qid, tok FROM (SELECT qid, tok, row_number() OVER " +
        "(PARTITION BY qid ORDER BY wt DESC, tok) AS rk FROM exw) WHERE rk <= 5), " +
        "q2 AS (SELECT qid, tok FROM q UNION SELECT qid, tok FROM ex), " +
        "sc2 AS (SELECT q2.qid, f.doc_id AS nid, CAST(round(" +
        "ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / " +
        "(tf + 1.2 * (0.25 + 0.75 * (len * CAST(n AS DOUBLE)) / CAST(tot AS DOUBLE))) " +
        "* 1000000) AS BIGINT) AS micro " +
        "FROM q2 JOIN tf f USING(tok) JOIN df USING(tok) " +
        "JOIN lens ON lens.doc_id = f.doc_id CROSS JOIN ag WHERE f.doc_id <> q2.qid), " +
        "s2 AS (SELECT qid, nid, CAST(sum(micro) AS BIGINT) AS score_micro " +
        "FROM sc2 GROUP BY 1, 2) " +
        "SELECT qid, nid, score_micro, rk FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, nid) " +
        "AS BIGINT) AS rk FROM s2) WHERE rk <= 5")),

    ("ret_hybrid_rrf", // hybrid retrieval: reciprocal-rank fusion of the
      // BM25 lexical top-20 and the dense cosine top-20 (doc i <-> vec i);
      // rrf contributions are functions of integer ranks, micro-rounded
      (s: SparkSession, d: String) => graft.pipeline.Retrieval.hybridRrf(s, d),
      Some("WITH " + bm25Cte(5) + ", " +
        "lex AS (SELECT qid, nid, rk AS lex_rk FROM (SELECT qid, nid, score_micro, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, nid) " +
        "AS BIGINT) AS rk FROM s) WHERE rk <= 20), " +
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "den AS (SELECT qid, nid, rk AS den_rk FROM (SELECT q.vec_id AS qid, " +
        "e.vec_id AS nid, CAST(row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY round(list_cosine_similarity(q.emb, e.emb), 4) DESC, e.vec_id) " +
        "AS BIGINT) AS rk " +
        "FROM (SELECT * FROM e WHERE vec_id < 5) q, e WHERE e.vec_id != q.vec_id) " +
        "WHERE rk <= 20), " +
        "f AS (SELECT COALESCE(lex.qid, den.qid) AS qid, COALESCE(lex.nid, den.nid) AS nid, " +
        "CAST(round(CASE WHEN lex.nid IS NOT NULL THEN 1000000.0 / (60.0 + lex.lex_rk) " +
        "ELSE 0.0 END) + round(CASE WHEN den.nid IS NOT NULL THEN " +
        "1000000.0 / (60.0 + den.den_rk) ELSE 0.0 END) AS BIGINT) AS rrf_micro " +
        "FROM lex FULL JOIN den ON lex.qid = den.qid AND lex.nid = den.nid) " +
        "SELECT qid, nid, rrf_micro, rk FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) " +
        "AS BIGINT) AS rk FROM f) WHERE rk <= 5")),

    ("sim_topk_brute",
      (s: SparkSession, d: String) => graft.pipeline.Similarity.bruteTopK(s, d),
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT * FROM e WHERE vec_id < 10) " +
        "SELECT q.vec_id AS qid, e.vec_id AS nid, " +
        "round(list_cosine_similarity(q.emb, e.emb), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY round(list_cosine_similarity(q.emb, e.emb), 4) DESC, e.vec_id) " +
        "AS BIGINT) AS rk " +
        "FROM q, e WHERE e.vec_id != q.vec_id QUALIFY rk <= 5")),

    ("sim_quantize", // per-vector int8 scalar quantization + reconstruction MAE
      (s: SparkSession, d: String) => graft.pipeline.Similarity.quantize(s, d),
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "s AS (SELECT vec_id, emb, list_min(emb) AS lo, list_max(emb) AS hi, " +
        "(list_max(emb) - list_min(emb)) / 255.0 AS sc FROM e) " +
        "SELECT vec_id, round(lo, 4) AS lo, round(hi, 4) AS hi, " +
        "round(list_sum(list_transform(emb, x -> " +
        "abs(x - (lo + (least(floor((x - lo) / sc), 255.0) + 0.5) * sc)))) / len(emb), 4) " +
        "AS mae FROM s")),

    ("sim_lsh_topk", // FULL value oracle: Rademacher planes from splitmix64
      // (HUGEINT mod-2^64 replica, same template as dd_minhash_lsh), integer
      // dot signs over exactly-quantized components (floor(v/max*127+0.5) —
      // every step an IEEE double op both engines share), rounded-cosine rank
      (s: SparkSession, d: String) => graft.pipeline.Similarity.lshTopK(s, d),
      Some(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings), comp AS (SELECT vec_id, u.s.j AS j, u.s.v AS v FROM e, " +
        "unnest(list_transform(range(1, len(emb)+1), i -> {'j': i-1, 'v': emb[i]})) u(s)), mx " +
        "AS (SELECT vec_id, max(abs(v)) AS m FROM comp GROUP BY 1), q AS (SELECT c.vec_id, " +
        "c.j, CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v / m * 127.0 + 0.5) AS BIGINT) END AS q " +
        "FROM comp c JOIN mx USING(vec_id)), idx AS (SELECT t.range AS t, b.range AS b, " +
        "j.range AS j FROM range(0,16) t, range(0,6) b, range(0,64) j), p0 AS (SELECT t, b, j, " +
        "(CAST(42 + 1 + ((t*6 + b)*64 + j) AS HUGEINT) * CAST(11400714819323198485 AS " +
        "HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z FROM idx), p1a AS (SELECT t, " +
        "b, j, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS HUGEINT) AS w FROM " +
        "p0), p1 AS (SELECT t, b, j, (((w // 4294967296) * CAST(13787848793156543929 AS " +
        "HUGEINT) % 4294967296) * 4294967296 + (w % 4294967296) * CAST(13787848793156543929 AS " +
        "HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z FROM p1a), p2a AS (SELECT t, " +
        "b, j, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 27) AS HUGEINT) AS w FROM " +
        "p1), p2 AS (SELECT t, b, j, (((w // 4294967296) * CAST(10723151780598845931 AS " +
        "HUGEINT) % 4294967296) * 4294967296 + (w % 4294967296) * CAST(10723151780598845931 AS " +
        "HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z FROM p2a), p3 AS (SELECT t, b, " +
        "j, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 31) AS z FROM p2), planes AS (SELECT " +
        "t, b, j, CASE WHEN z >= CAST(9223372036854775808 AS UBIGINT) THEN -1 ELSE 1 END AS s " +
        "FROM p3), dots AS (SELECT q.vec_id, p.t, p.b, sum(q.q * p.s) AS d FROM q JOIN planes " +
        "p USING(j) GROUP BY 1, 2, 3), sigs AS (SELECT vec_id, t, CAST(sum(CASE WHEN d > 0 " +
        "THEN 1 << b ELSE 0 END) AS BIGINT) AS sig FROM dots GROUP BY 1, 2), qs AS (SELECT " +
        "vec_id AS qid, t, sig FROM sigs WHERE vec_id < 10), cand AS (SELECT DISTINCT qs.qid, " +
        "s2.vec_id AS nid FROM qs JOIN sigs s2 ON s2.t = qs.t AND s2.sig = qs.sig AND " +
        "s2.vec_id <> qs.qid), dp AS (SELECT c.qid, c.nid, sum(a.v * b.v) AS dp FROM cand c " +
        "JOIN comp a ON a.vec_id = c.qid JOIN comp b ON b.vec_id = c.nid AND b.j = a.j GROUP " +
        "BY 1, 2), nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS nr FROM comp GROUP BY 1), scored " +
        "AS (SELECT qid, nid, round(dp.dp / (nq.nr * nn.nr), 4) AS cos FROM dp JOIN nrm nq ON " +
        "nq.vec_id = qid JOIN nrm nn ON nn.vec_id = nid) SELECT qid, nid, cos FROM (SELECT " +
        "qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM " +
        "scored) WHERE rk <= 5")),

    ("sim_ivf_topk", // IVF inverted-list ANN — FULL value oracle: centroids
      // are exact integer (sum, count) pairs over quantized vectors, the two
      // Lloyd iterations unroll into CTE stages computing the identical
      // integers, and assignment/probing order by dot/n (one double division
      // of exact integers — same IEEE result in both engines)
      (s: SparkSession, d: String) => graft.pipeline.Similarity.ivfTopK(s, d),
      Some(
        ivfCorpusCte + "probes AS (SELECT vec_id AS qid, c " +
        "AS cl FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY CAST(d " +
        "AS DOUBLE) / CAST(n AS DOUBLE) DESC, c) AS rk FROM d2 WHERE vec_id < 10) WHERE rk <= " +
        "4), cand AS (SELECT DISTINCT p.qid, co.vec_id AS nid FROM probes p JOIN corpus co ON " +
        "co.cl = p.cl AND co.vec_id <> p.qid), dp AS (SELECT c.qid, c.nid, sum(a.v * b.v) AS " +
        "dp FROM cand c JOIN comp a ON a.vec_id = c.qid JOIN comp b ON b.vec_id = c.nid AND " +
        "b.j = a.j GROUP BY 1, 2), nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS nr FROM comp GROUP " +
        "BY 1), scored AS (SELECT qid, nid, round(dp.dp / (nq.nr * nn.nr), 4) AS cos FROM dp " +
        "JOIN nrm nq ON nq.vec_id = qid JOIN nrm nn ON nn.vec_id = nid) SELECT qid, nid, cos, " +
        "rk FROM (SELECT qid, nid, cos, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos " +
        "DESC, nid) AS BIGINT) AS rk FROM scored) WHERE rk <= 5")),

    ("sim_range", // range similarity: all neighbors with cosine >= 0.3 of
      // each query — unknown-count retrieval primitive (rounded-cosine cut,
      // same cross-engine convention as the top-k entries)
      (s: SparkSession, d: String) => graft.pipeline.Similarity.rangeSearch(s, d),
      Some("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) " +
        "AS emb FROM embeddings), comp AS (SELECT vec_id, u.s.j AS j, u.s.v AS v FROM e, " +
        "unnest(list_transform(range(1, len(emb)+1), i -> {'j': i-1, 'v': emb[i]})) u(s)), " +
        "nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS nr FROM comp GROUP BY 1), " +
        "dp AS (SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v * b.v) AS dp FROM comp a " +
        "JOIN comp b ON b.j = a.j AND a.vec_id < 10 AND b.vec_id <> a.vec_id GROUP BY 1, 2) " +
        "SELECT qid, nid, round(dp.dp / (nq.nr * nn.nr), 4) AS cos FROM dp " +
        "JOIN nrm nq ON nq.vec_id = qid JOIN nrm nn ON nn.vec_id = nid " +
        "WHERE round(dp.dp / (nq.nr * nn.nr), 4) >= 0.3")),

    ("sim_pq_topk", // product-quantization ANN — FULL value oracle: per-
      // subspace codebooks are exact integer (sum, count) pairs (same
      // unrolled-Lloyd scheme as sim_ivf_topk), assignment compares the IEEE
      // double sum((n*x-S)^2)/n^2 both engines build from identical
      // integers, and the ADC distance left-folds the 8 subspace terms in
      // fixed order so the float sum is cross-engine deterministic
      (s: SparkSession, d: String) => graft.pipeline.Similarity.pqTopK(s, d),
      Some(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings), comp AS (SELECT vec_id, u.s.j AS j, u.s.v AS v FROM e, " +
        "unnest(list_transform(range(1, len(emb)+1), i -> {'j': i-1, 'v': emb[i]})) u(s)), " +
        "mx AS (SELECT vec_id, max(abs(v)) AS m FROM comp GROUP BY 1), " +
        "q AS (SELECT c.vec_id, CAST(c.j // 8 AS INT) AS s, CAST(c.j % 8 AS INT) AS jj, " +
        "CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v / m * 127.0 + 0.5) AS BIGINT) END AS x " +
        "FROM comp c JOIN mx USING(vec_id)), " +
        "cent0 AS (SELECT CAST(vec_id AS INT) AS c, s, jj, x AS sv, CAST(1 AS BIGINT) AS n " +
        "FROM q WHERE vec_id < 16), " +
        "d0 AS (SELECT q.vec_id, q.s, c0.c, sum((c0.n * q.x - c0.sv) * (c0.n * q.x - c0.sv)) " +
        "AS d2, any_value(c0.n) AS n FROM q JOIN cent0 c0 ON c0.s = q.s AND c0.jj = q.jj " +
        "GROUP BY 1, 2, 3), " +
        "a0 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION " +
        "BY vec_id, s ORDER BY CAST(d2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), " +
        "c) AS rk FROM d0) WHERE rk = 1), " +
        "s1 AS (SELECT a0.s, a0.c, q.jj, sum(q.x) AS sv, count(*) AS n FROM q JOIN a0 ON " +
        "a0.vec_id = q.vec_id AND a0.s = q.s GROUP BY 1, 2, 3), " +
        "cent1 AS (SELECT c0.s, c0.c, c0.jj, COALESCE(s1.sv, c0.sv) AS sv, " +
        "COALESCE(s1.n, c0.n) AS n FROM cent0 c0 LEFT JOIN s1 ON s1.s = c0.s AND " +
        "s1.c = c0.c AND s1.jj = c0.jj), " +
        "d1 AS (SELECT q.vec_id, q.s, c1.c, sum((c1.n * q.x - c1.sv) * (c1.n * q.x - c1.sv)) " +
        "AS d2, any_value(c1.n) AS n FROM q JOIN cent1 c1 ON c1.s = q.s AND c1.jj = q.jj " +
        "GROUP BY 1, 2, 3), " +
        "a1 AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION " +
        "BY vec_id, s ORDER BY CAST(d2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), " +
        "c) AS rk FROM d1) WHERE rk = 1), " +
        "s2 AS (SELECT a1.s, a1.c, q.jj, sum(q.x) AS sv, count(*) AS n FROM q JOIN a1 ON " +
        "a1.vec_id = q.vec_id AND a1.s = q.s GROUP BY 1, 2, 3), " +
        "cent2 AS (SELECT c1.s, c1.c, c1.jj, COALESCE(s2.sv, c1.sv) AS sv, " +
        "COALESCE(s2.n, c1.n) AS n FROM cent1 c1 LEFT JOIN s2 ON s2.s = c1.s AND " +
        "s2.c = c1.c AND s2.jj = c1.jj), " +
        "d2f AS (SELECT q.vec_id, q.s, c2.c, sum((c2.n * q.x - c2.sv) * (c2.n * q.x - c2.sv)) " +
        "AS d2, any_value(c2.n) AS n FROM q JOIN cent2 c2 ON c2.s = q.s AND c2.jj = q.jj " +
        "GROUP BY 1, 2, 3), " +
        "dist AS (SELECT vec_id, s, c, CAST(d2 AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE)) AS dd FROM d2f), " +
        "af AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION " +
        "BY vec_id, s ORDER BY dd, c) AS rk FROM dist) WHERE rk = 1), " +
        "pairs AS (SELECT dq.vec_id AS qid, af.vec_id AS nid, dq.s, dq.dd FROM af JOIN dist " +
        "dq ON dq.s = af.s AND dq.c = af.c AND dq.vec_id < 10 AND af.vec_id <> dq.vec_id), " +
        "piv AS (SELECT qid, nid, max(CASE WHEN s = 0 THEN dd END) AS x0, " +
        "max(CASE WHEN s = 1 THEN dd END) AS x1, max(CASE WHEN s = 2 THEN dd END) AS x2, " +
        "max(CASE WHEN s = 3 THEN dd END) AS x3, max(CASE WHEN s = 4 THEN dd END) AS x4, " +
        "max(CASE WHEN s = 5 THEN dd END) AS x5, max(CASE WHEN s = 6 THEN dd END) AS x6, " +
        "max(CASE WHEN s = 7 THEN dd END) AS x7 FROM pairs GROUP BY 1, 2), " +
        "adf AS (SELECT qid, nid, round(((((((x0 + x1) + x2) + x3) + x4) + x5) + x6) + x7, 4) " +
        "AS adist FROM piv) " +
        "SELECT qid, nid, adist, rk FROM (SELECT qid, nid, adist, CAST(row_number() OVER " +
        "(PARTITION BY qid ORDER BY adist, nid) AS BIGINT) AS rk FROM adf) WHERE rk <= 5")),

    ("sim_neardup", // planted near-dup positives; FULL value oracle — the
      // planted vectors, quantized signatures, bucket pairs, and rounded
      // cosine verification all replicate in DuckDB (splitmix64 planes via
      // the same HUGEINT template)
      (s: SparkSession, d: String) => graft.pipeline.Similarity.nearDupPairs(s, d,
        threshold = 0.9, plant = true),
      Some(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings UNION ALL SELECT vec_id + 1000000 AS vec_id, list_transform(range(1, " +
        "len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * (1.0 + 0.03 * (((i-1) % 3) - " +
        "1))) AS emb FROM embeddings WHERE vec_id < 20), comp AS (SELECT vec_id, u.s.j AS j, " +
        "u.s.v AS v FROM e, unnest(list_transform(range(1, len(emb)+1), i -> {'j': i-1, 'v': " +
        "emb[i]})) u(s)), mx AS (SELECT vec_id, max(abs(v)) AS m FROM comp GROUP BY 1), q AS " +
        "(SELECT c.vec_id, c.j, CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v / m * 127.0 + 0.5) AS " +
        "BIGINT) END AS q FROM comp c JOIN mx USING(vec_id)), idx AS (SELECT t.range AS t, " +
        "b.range AS b, j.range AS j FROM range(0,8) t, range(0,12) b, range(0,64) j), p0 AS " +
        "(SELECT t, b, j, (CAST(42 + 1 + ((t*12 + b)*64 + j) AS HUGEINT) * " +
        "CAST(11400714819323198485 AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z " +
        "FROM idx), p1a AS (SELECT t, b, j, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> " +
        "30) AS HUGEINT) AS w FROM p0), p1 AS (SELECT t, b, j, (((w // 4294967296) * " +
        "CAST(13787848793156543929 AS HUGEINT) % 4294967296) * 4294967296 + (w % 4294967296) * " +
        "CAST(13787848793156543929 AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z " +
        "FROM p1a), p2a AS (SELECT t, b, j, CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> " +
        "27) AS HUGEINT) AS w FROM p1), p2 AS (SELECT t, b, j, (((w // 4294967296) * " +
        "CAST(10723151780598845931 AS HUGEINT) % 4294967296) * 4294967296 + (w % 4294967296) * " +
        "CAST(10723151780598845931 AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT) AS z " +
        "FROM p2a), p3 AS (SELECT t, b, j, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 31) " +
        "AS z FROM p2), planes AS (SELECT t, b, j, CASE WHEN z >= CAST(9223372036854775808 AS " +
        "UBIGINT) THEN -1 ELSE 1 END AS s FROM p3), dots AS (SELECT q.vec_id, p.t, p.b, " +
        "sum(q.q * p.s) AS d FROM q JOIN planes p USING(j) GROUP BY 1, 2, 3), sigs AS (SELECT " +
        "vec_id, t, CAST(sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig FROM " +
        "dots GROUP BY 1, 2), pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b FROM sigs " +
        "x JOIN sigs y ON x.t = y.t AND x.sig = y.sig AND x.vec_id < y.vec_id), dp AS (SELECT " +
        "p.a, p.b, sum(ca.v * cb.v) AS dp FROM pairs p JOIN comp ca ON ca.vec_id = p.a JOIN " +
        "comp cb ON cb.vec_id = p.b AND cb.j = ca.j GROUP BY 1, 2), nrm AS (SELECT vec_id, " +
        "sqrt(sum(v*v)) AS nr FROM comp GROUP BY 1) SELECT a, b, round(dp.dp / (na.nr * " +
        "nb.nr), 4) AS cos FROM dp JOIN nrm na ON na.vec_id = a JOIN nrm nb ON nb.vec_id = b " +
        "WHERE round(dp.dp / (na.nr * nb.nr), 4) >= 0.9")),

    // ---- text analysis ----
    ("text_tokens",
      (s: SparkSession, d: String) => graft.pipeline.TextStats.tokens(s, d),
      Some("SELECT doc_id, CAST(length(text) AS BIGINT) AS len, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(list_sum(list_transform(string_split(text, ' '), " +
        "w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords, " +
        "round(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) " +
        "AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len FROM documents")),

    ("text_quality",
      (s: SparkSession, d: String) => graft.pipeline.TextStats.quality(s, d),
      Some("SELECT doc_id, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN " +
        "('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE) / " +
        "len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / " +
        "len(string_split(text, ' ')), 4) AS type_token, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) " +
        "AS DOUBLE) / length(text), 4) AS digit_ratio, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) " +
        "AS DOUBLE) / length(text), 4) AS punct_ratio FROM documents")),

    ("text_langid",
      (s: SparkSession, d: String) => graft.pipeline.TextStats.langid(s, d),
      Some("WITH t AS (SELECT doc_id, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('le','la','les','et','est'))) AS fr " +
        "FROM documents) SELECT doc_id, CASE " +
        "WHEN en >= de AND en >= fr AND en > 0 THEN 'en' " +
        "WHEN de >= fr AND de > 0 THEN 'de' " +
        "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS pred_lang FROM t")),

    ("text_repetition", // Gopher-style repetition filters at word granularity
      (s: SparkSession, d: String) => graft.pipeline.TextStats.repetition(s, d),
      Some("WITH w AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "s AS (SELECT doc_id, nc, len(ws) AS nw, len(list_distinct(ws)) AS ndw FROM w), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 1, 0)), " +
        "i -> ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)])) AS g FROM w), " +
        "t2 AS (SELECT doc_id AS d2, max(n * length(g)) AS c2 FROM " +
        "(SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2) GROUP BY 1), " +
        "g3 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 2, 0)), " +
        "i -> ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)] || ' ' || " +
        "ws[CAST(i + 3 AS INT)])) AS g FROM w), " +
        "t3 AS (SELECT doc_id AS d3, max(n * length(g)) AS c3 FROM " +
        "(SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2) GROUP BY 1) " +
        "SELECT s.doc_id, round((nw - ndw) / CAST(nw AS DOUBLE), 4) AS dup_word_frac, " +
        "round(c2 / CAST(nc AS DOUBLE), 4) AS top2_frac, " +
        "round(c3 / CAST(nc AS DOUBLE), 4) AS top3_frac " +
        "FROM s JOIN t2 ON s.doc_id = d2 JOIN t3 ON s.doc_id = d3")),

    ("text_quality_filter", // composite C4/Gopher-style keep/drop decision
      (s: SparkSession, d: String) => graft.pipeline.TextStats.qualityFilter(s, d),
      Some("WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
        "AS n_tokens FROM documents), " +
        "q AS (SELECT doc_id AS qd, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN " +
        "('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE) / " +
        "len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / " +
        "len(string_split(text, ' ')), 4) AS type_token FROM documents), " +
        "w AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 1, 0)), " +
        "i -> ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)])) AS g FROM w), " +
        "t2 AS (SELECT doc_id AS d2, max(n * length(g)) AS c2 FROM " +
        "(SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2) GROUP BY 1), " +
        "r AS (SELECT d2 AS rd, round(c2 / CAST(nc AS DOUBLE), 4) AS top2_frac " +
        "FROM t2 JOIN w ON w.doc_id = d2), " +
        "j AS (SELECT tk.doc_id, n_tokens, CASE " +
        "WHEN n_tokens < 20 THEN 'too_short' " +
        "WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN stop_ratio < 0.01 THEN 'low_stopword' " +
        "WHEN type_token < 0.45 THEN 'low_diversity' " +
        "WHEN top2_frac > 0.15 THEN 'repetitive' " +
        "ELSE 'ok' END AS reason " +
        "FROM tk JOIN q ON tk.doc_id = qd JOIN r ON tk.doc_id = rd) " +
        "SELECT doc_id, n_tokens, reason, (reason = 'ok') AS keep FROM j")),

    ("text_bpe_merges", // BPE merge learning (tokenizer training): 8 rounds of
      // most-frequent-adjacent-pair over the word-frequency table, ties by
      // (lhs, rhs), greedy (Sennrich) merge application. Corpus touched ONCE
      // (word counts); the |vocab| table is collected once and the merge
      // loop runs locally — 32k merges cost zero further Spark jobs. Oracle
      // rebuilds the identical 8 rounds as materialized CTE layers
      (s: SparkSession, d: String) => graft.pipeline.Tokenizer.bpeMerges(s, d),
      Some(bpeMergesOracle(8))),

    ("text_bpe_segment", // the APPLY side of BPE: learn 8 merges, then
      // segment every document with them (word-sentinel blocks cross-word
      // merges) and report the per-doc subword count — the tokens-per-doc
      // compression diagnostic. The merge table is driver-collected (8 rows,
      // centroid-shaped); segmentation itself is one map-side projection
      (s: SparkSession, d: String) => {
        val merges = graft.pipeline.Tokenizer.bpeMerges(s, d, 8).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.pipeline.Tokenizer.bpeSegmentCounts(s, d, merges)
      },
      Some(bpeSegmentOracle(8))),

    ("text_bpe_train_apply", // the chained tokenizer-curation shape a real
      // pretraining run needs: learn the merge table on the TRAIN split ONLY
      // (curate_split's md5-bucket rule — the tokenizer never sees held-out
      // text) and segment the WHOLE corpus with it, labeling each doc's
      // split. Learn = one filtered word-count job + local merge loop; apply
      // = ONE map-side scan with the merges and split rule as literals
      (s: SparkSession, d: String) => {
        val docs = graft.pipeline.TextStats.docs(s, d)
        val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long") % 100
        val merges = graft.pipeline.Tokenizer
          .bpeMergesOf(docs.filter(bucket < 90), 8)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        graft.pipeline.Tokenizer.bpeSegmentCountsOf(docs, merges,
          carry = Seq("split" -> when(bucket < 90, "train")
            .when(bucket < 95, "valid").otherwise("test")))
      },
      Some(bpeTrainApplyOracle(8))),

    ("text_token_hist", // corpus token-length histogram (bucket width 10)
      (s: SparkSession, d: String) => graft.pipeline.TextStats.tokenHistogram(s, d),
      Some("SELECT CAST(floor(len(string_split(text, ' ')) / 10) * 10 AS BIGINT) " +
        "AS bucket, count(*) AS n_docs FROM documents GROUP BY 1")),

    ("text_fingerprint",
      (s: SparkSession, d: String) => graft.pipeline.TextStats.fingerprint(s, d),
      // the rolling hash is pure modular arithmetic (base 1000003 mod 2^61-1,
      // TextStats.FP_BASE/FP_MOD), so DuckDB can fold it exactly in HUGEINT;
      // corpus is ASCII, so charAt (UTF-16) == ord (codepoint)
      Some("SELECT doc_id, CAST(list_reduce(" +
        "list_prepend(CAST(0 AS HUGEINT), " +
        "list_transform(string_split_regex(lower(text), ''), " +
        "c -> CAST(ord(c) AS HUGEINT))), " +
        "(h, c) -> (h * 1000003 + c) % 2305843009213693951) AS BIGINT) " +
        "AS fingerprint FROM documents")),

    ("text_pii_redact", // PII scrub (emails/IPv4/phones → placeholders):
      // the synthetic corpus carries no PII, so both engines derive the
      // same deterministic PII-bearing string from (doc_id, text) and the
      // operator under test is the regex detection + redaction itself
      (s: SparkSession, d: String) => graft.pipeline.TextStats.piiRedact(s, d),
      Some("WITH t AS (SELECT doc_id, " +
        "'contact u' || doc_id || '@ex' || (doc_id % 7) || '.com or +1415' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' at 192.168.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || ' ' || " +
        "substr(text, 1, 40) AS s FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email, " +
        "CAST(len(regexp_extract_all(s, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ip, " +
        "CAST(len(regexp_extract_all(s, '\\+\\d{7,12}')) AS INT) AS n_phone, " +
        "regexp_replace(regexp_replace(regexp_replace(s, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\+\\d{7,12}', '<PHONE>', 'g') AS redacted FROM t")),

    // ---- event-stream analytics (batch shapes; streaming in graft.streaming) ----
    ("ev_funnel", // ordered view→click→purchase funnel per user: staged mins
      // (first view, first click after it, first purchase after that)
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.funnel(s, d),
      Some("WITH v AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING(user_id) " +
        "WHERE event_type = 'click' AND ts > t1 GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING(user_id) " +
        "WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1) " +
        "SELECT v.user_id, c.user_id IS NOT NULL AS clicked, " +
        "p.user_id IS NOT NULL AS purchased " +
        "FROM v LEFT JOIN c ON v.user_id = c.user_id " +
        "LEFT JOIN p ON v.user_id = p.user_id")),

    ("ev_asof", // point-in-time (as-of) join: each purchase matched to the
      // most recent strictly-earlier view of the same user; Spark side is a
      // single window pass (one exchange), oracle is DuckDB's native ASOF JOIN
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.asofJoin(s, d),
      Some("WITH p AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase'), " +
        "v AS (SELECT user_id, ts FROM events WHERE event_type = 'view') " +
        "SELECT p.event_id, p.user_id, p.ts, v.ts AS view_ts, " +
        "epoch_us(p.ts) - epoch_us(v.ts) AS gap_us " +
        "FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts > v.ts")),

    ("ev_anomaly", // per-type z-score outliers: milli-fixed values make the
      // moment sums exact integers; z micro-rounded before the |z|>=3 cut
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.anomalies(s, d),
      Some("WITH e AS (SELECT event_id, event_type, value, " +
        "CAST(round(value * 1000) AS BIGINT) AS mv FROM events), " +
        "st AS (SELECT event_type, count(*) AS n, sum(mv) AS s1, " +
        "sum(mv * mv) AS s2 FROM e GROUP BY 1) " +
        "SELECT * FROM (SELECT event_id, e.event_type, value, " +
        "CAST(round((mv - CAST(s1 AS DOUBLE) / n) / " +
        "sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * " +
        "(CAST(s1 AS DOUBLE) / n)) * 1000000) AS BIGINT) AS z_micro " +
        "FROM e JOIN st USING(event_type) " +
        "WHERE (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * " +
        "(CAST(s1 AS DOUBLE) / n)) > 0) " +
        "WHERE abs(z_micro) >= 3000000")),

    ("ev_retention", // weekly cohort retention matrix: first-active-week
      // cohorts x week offset, distinct active users
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.retention(s, d),
      Some("WITH wk AS (SELECT DISTINCT user_id, " +
        "CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events), " +
        "f AS (SELECT user_id, min(w) AS w0 FROM wk GROUP BY 1) " +
        "SELECT w0 AS cohort, w - w0 AS off, count(DISTINCT wk.user_id) AS n_users " +
        "FROM wk JOIN f USING(user_id) GROUP BY 1, 2")),

    ("ev_window5m",
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.window5m(s, d),
      Some("SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS bucket, " +
        "event_type, count(*) AS n, round(sum(value), 4) AS total " +
        "FROM events GROUP BY 1, 2")),

    ("ev_sessionize",
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.sessionize(s, d),
      Some("WITH t AS (SELECT user_id, ts, lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) " +
        "SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, count(*) AS n_events " +
        "FROM t GROUP BY 1")),

    ("ev_json",
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.jsonExtract(s, d),
      Some("SELECT event_type, CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k, " +
        "count(props->>'$.missing') AS n_missing, count(*) AS n FROM events GROUP BY 1")),

    ("ev_transitions", // first-order event-type Markov transition matrix:
      // successor pairs from ONE lead() window over the user-keyed stream
      // ((ts, event_id) total order), then a |types|^2 count + row-normalized
      // probability over that tiny frame
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.transitions(s, d),
      Some("WITH p AS (SELECT event_type AS prev, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS next FROM events), " +
        "c AS (SELECT prev, next, count(*) AS cnt FROM p " +
        "WHERE next IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev, next, cnt, round(cnt / sum(cnt) OVER (PARTITION BY prev), 4) " +
        "AS prob FROM c")),

    // ---- multimodal plumbing (decode step stubbed; see Multimodal scaladoc) ----
    ("mm_ppm_decode", // REAL image decode (no codec library needed): valid
      // P6/PPM payloads generated per doc, decoded by parsing the binary
      // header + computing raster statistics — dimensions come from the
      // payload bytes, not metadata; oracle replays the cyclic pixel rule
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.ppmFeatures(s, d).toDF(),
      // byte-based oracle (UTF-8 bytes via hex(encode(text)), not chars) so
      // it stays correct on any non-ASCII corpus, matching the generator's
      // text.getBytes("UTF-8")
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents) " +
        "SELECT doc_id, CAST(4 + nb % 12 AS INT) AS width, " +
        "CAST(3 + doc_id % 5 AS INT) AS height, CAST(3 AS INT) AS channels, " +
        "round(CAST(list_aggregate(list_transform(" +
        "range((4 + nb % 12) * (3 + doc_id % 5) * 3), " +
        "i -> CAST(('0x' || substring(hx, CAST(i % nb AS INT) * 2 + 1, 2)) AS INT)" +
        "), 'sum') AS DOUBLE) " +
        "/ ((4 + nb % 12) * (3 + doc_id % 5) * 3), 4) AS mean_px " +
        "FROM b")),

    ("mm_wav_decode", // REAL audio decode: valid RIFF/WAVE mono 8-bit PCM
      // payloads generated per doc, decoded by parsing the chunk structure;
      // duration and amplitude stats come from the payload bytes
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.wavFeatures(s, d).toDF(),
      // byte-based oracle, same device as mm_ppm_decode
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents) " +
        "SELECT doc_id, CAST(8000 AS INT) AS sample_rate, " +
        "CAST(nb * 3 AS BIGINT) AS n_samples, " +
        "CAST(nb * 3 * 1000 // 8000 AS BIGINT) AS duration_ms, " +
        "round(CAST(list_aggregate(list_transform(range(nb * 3), " +
        "i -> CAST(('0x' || substring(hx, CAST(i % nb AS INT) * 2 + 1, 2)) AS INT)" +
        "), 'sum') AS DOUBLE) " +
        "/ (nb * 3), 4) AS mean_amp FROM b")),

    ("mm_png_decode", // REAL codec decode via the JDK's ImageIO: PNG is
      // lossless 8-bit truecolor, so the decoded sample multiset — hence the
      // order-invariant mean — equals the cyclic generator rule exactly and
      // the full pixel statistics stay value-oracle-checkable
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.pngFeatures(s, d).toDF(),
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents) " +
        "SELECT doc_id, CAST(4 + nb % 12 AS INT) AS width, " +
        "CAST(3 + doc_id % 5 AS INT) AS height, CAST(3 AS INT) AS channels, " +
        "round(CAST(list_aggregate(list_transform(" +
        "range((4 + nb % 12) * (3 + doc_id % 5) * 3), " +
        "i -> CAST(('0x' || substring(hx, CAST(i % nb AS INT) * 2 + 1, 2)) AS INT)" +
        "), 'sum') AS DOUBLE) " +
        "/ ((4 + nb % 12) * (3 + doc_id % 5) * 3), 4) AS mean_px " +
        "FROM b")),

    ("mm_bmp_decode", // second lossless ImageIO codec path (uncompressed
      // BMP): decoded dimensions, band count and full pixel statistics are
      // exact — same cyclic-rule oracle as PNG
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.bmpFeatures(s, d).toDF(),
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents) " +
        "SELECT doc_id, CAST(4 + nb % 12 AS INT) AS width, " +
        "CAST(3 + doc_id % 5 AS INT) AS height, CAST(3 AS INT) AS channels, " +
        "round(CAST(list_aggregate(list_transform(" +
        "range((4 + nb % 12) * (3 + doc_id % 5) * 3), " +
        "i -> CAST(('0x' || substring(hx, CAST(i % nb AS INT) * 2 + 1, 2)) AS INT)" +
        "), 'sum') AS DOUBLE) " +
        "/ ((4 + nb % 12) * (3 + doc_id % 5) * 3), 4) AS mean_px " +
        "FROM b")),

    ("mm_jpeg_decode", // REAL lossy-codec decode via ImageIO: JPEG pixel
      // values are decoder-implementation-dependent, so the oracle checks
      // the structural outputs (decoded dimensions, band count), which are
      // exact — the dimensions come from the decoded bitstream, not metadata
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.jpegFeatures(s, d).toDF(),
      Some("SELECT doc_id, " +
        "CAST(4 + octet_length(encode(text)) % 12 AS INT) AS width, " +
        "CAST(3 + doc_id % 5 AS INT) AS height, CAST(3 AS INT) AS channels " +
        "FROM documents")),

    ("mm_mp4_decode", // REAL ISO-BMFF (MP4) container decode: a recursive
      // box-tree walker extracts timescale/duration from mvhd, frame count +
      // sizes from stsz (moov→trak→mdia→stbl), and frame-byte stats from
      // mdat — the container/track/frame layer that IS pure byte parsing
      // (only the codec bitstream has no JVM decoder, and nothing here
      // depends on it). Oracle replays the generator's size + cyclic rules
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.mp4Features(s, d).toDF(),
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb, 1 + doc_id % 5 AS nf FROM documents), " +
        "sz AS (SELECT doc_id, CAST(sum(50 + (doc_id + u.i) % 20) AS BIGINT) " +
        "AS total FROM b, LATERAL (SELECT unnest(range(nf)) AS i) u GROUP BY 1), " +
        "m AS (SELECT b.doc_id, sz.total, " +
        "round(CAST(list_aggregate(list_transform(range(sz.total), " +
        "j -> CAST(('0x' || substring(hx, CAST(j % nb AS INT) * 2 + 1, 2)) AS INT)" +
        "), 'sum') AS DOUBLE) / sz.total, 4) AS mean_frame_byte " +
        "FROM b JOIN sz USING(doc_id)) " +
        "SELECT b.doc_id, CAST(600 AS INT) AS timescale, " +
        "CAST(nf * 20 AS BIGINT) AS duration_ticks, CAST(nf AS BIGINT) AS n_frames, " +
        "m.total AS total_frame_bytes, m.mean_frame_byte " +
        "FROM b JOIN m ON m.doc_id = b.doc_id")),

    ("mm_keyframes", // key-frame candidates from the container parse: one
      // row per frame with its stsz size + the I-frame heuristic
      // (size strictly above the clip mean, integer cross-multiplied) — no
      // bitstream decode needed to pick them. Oracle replays the size rule
      (s: SparkSession, d: String) =>
        graft.pipeline.Multimodal.mp4KeyFrames(s, d).toDF(),
      Some("WITH f AS (SELECT doc_id, 1 + doc_id % 5 AS nf FROM documents), " +
        "fr AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx, " +
        "CAST(50 + (doc_id + u.i) % 20 AS BIGINT) AS size, nf FROM f, " +
        "LATERAL (SELECT unnest(range(nf)) AS i) u), " +
        "tt AS (SELECT doc_id, sum(size) AS total FROM fr GROUP BY 1) " +
        "SELECT fr.doc_id, frame_idx, size, size * nf > total AS is_key " +
        "FROM fr JOIN tt USING(doc_id)")),

    ("mm_features",
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.features(s, d).toDF(),
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "CAST(64 + octet_length(encode(text)) % 576 AS INTEGER) AS width, " +
        "CAST(64 + (octet_length(encode(text)) * 7) % 576 AS INTEGER) AS height, " +
        "CAST(3 AS INTEGER) AS channels, " +
        "CAST(1 + doc_id % 5 AS INTEGER) AS n_frames FROM documents")),

    ("mm_frame_sample",
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.frameSample(s, d)
        .withColumn("frame_idx", col("frame_idx").cast("long")),
      Some("SELECT doc_id, unnest(range(0, 1 + doc_id % 5)) AS frame_idx FROM documents")),

    ("mm_resize_plan",
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.resizePlan(s, d),
      Some("WITH f AS (SELECT doc_id, " +
        "CAST(64 + octet_length(encode(text)) % 576 AS INTEGER) AS width, " +
        "CAST(64 + (octet_length(encode(text)) * 7) % 576 AS INTEGER) AS height " +
        "FROM documents) SELECT doc_id, width, height, " +
        "round(256.0 / greatest(width, height), 4) AS scale, " +
        "CAST(floor(width * round(256.0 / greatest(width, height), 4)) AS INTEGER) AS out_w, " +
        "CAST(floor(height * round(256.0 / greatest(width, height), 4)) AS INTEGER) AS out_h " +
        "FROM f")),

    ("mm_phash_pairs", // image near-dup detection: REAL P6/PPM decode, then
      // a 12-bit block-average perceptual hash (integer cross-multiplication
      // threshold — no float anywhere) and hamming<=2 pairs via a 3x4-bit
      // band join (pigeonhole-lossless for the <=2 cut). Oracle replays the
      // cyclic pixel rule byte-for-byte and brute-forces the pairs
      (s: SparkSession, d: String) => graft.pipeline.Multimodal.phashPairs(s, d),
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents), " +
        "d AS (SELECT doc_id, hx, nb, CAST(4 + nb % 12 AS BIGINT) AS w, " +
        "CAST(3 + doc_id % 5 AS BIGINT) AS h FROM b), " +
        "px AS (SELECT doc_id, (((i // w) * 3) // h) * 4 + (((i % w) * 4) // w) AS blk, " +
        "CAST(('0x' || substring(hx, CAST((3 * i) % nb AS INT) * 2 + 1, 2)) AS INT) + " +
        "CAST(('0x' || substring(hx, CAST((3 * i + 1) % nb AS INT) * 2 + 1, 2)) AS INT) + " +
        "CAST(('0x' || substring(hx, CAST((3 * i + 2) % nb AS INT) * 2 + 1, 2)) AS INT) AS g " +
        "FROM d, LATERAL (SELECT unnest(range(w * h)) AS i) u), " +
        "bl AS (SELECT doc_id, blk, sum(g) AS bs, count(*) AS bc FROM px GROUP BY 1, 2), " +
        "tot AS (SELECT doc_id, sum(bs) AS ts, sum(bc) AS tc FROM bl GROUP BY 1), " +
        "ph AS (SELECT bl.doc_id, CAST(sum(CASE WHEN bs * tc > ts * bc " +
        "THEN (CAST(1 AS BIGINT) << CAST(blk AS INT)) ELSE 0 END) AS BIGINT) AS phash " +
        "FROM bl JOIN tot USING(doc_id) GROUP BY 1) " +
        "SELECT x.doc_id AS a, y.doc_id AS b, " +
        "CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming " +
        "FROM ph x JOIN ph y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.phash, y.phash)) <= 2")),

    // ---- corpus curation (split / sample / pack / cluster-rep) ----

    ("curate_split", // deterministic content-hash train/valid/test split —
      // md5(text)-derived bucket, so exact duplicates can never straddle
      // train and test (leakage-proof by construction). Map-side only.
      (s: SparkSession, d: String) => graft.pipeline.Curation.hashSplit(s, d),
      Some("SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket, " +
        "CASE WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 100 < 90 " +
        "THEN 'train' WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 100 < 95 " +
        "THEN 'valid' ELSE 'test' END AS split FROM documents")),

    ("curate_sample", // exact-k uniform-without-replacement sample per source
      // stratum: rank by (md5(text), doc_id) — a deterministic permutation —
      // keep the first 8 of each stratum
      (s: SparkSession, d: String) => graft.pipeline.Curation.stratifiedSample(s, d),
      Some("SELECT doc_id, source, rk FROM (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk " +
        "FROM documents) WHERE rk <= 8")),

    ("curate_pack", // GPT-style concat-and-chunk sequence packing: per-source
      // token stream cut every 256 tokens; chunk/offset/boundary-span per doc
      // from ONE running-sum window (the window IS the packer — no driver pass)
      (s: SparkSession, d: String) => graft.pipeline.Curation.packChunks(s, d),
      Some("WITH t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source " +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS cum FROM t) SELECT doc_id, source, n_tokens, " +
        "CAST(floor(cum / 256.0) AS BIGINT) AS chunk_id, " +
        "CAST(cum % 256 AS BIGINT) AS chunk_off, " +
        "floor((cum + n_tokens - 1) / 256.0) > floor(cum / 256.0) AS spans FROM c")),

    ("curate_cluster_rep", // quality-ranked duplicate-cluster representative:
      // SimHash near-dup clusters (same recursive-CTE closure as
      // dd_simhash_clusters), rep = longest text (ties → smallest doc_id);
      // docs outside any cluster represent themselves
      (s: SparkSession, d: String) => graft.pipeline.Curation.clusterRep(s, d),
      Some("WITH RECURSIVE t AS (SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(tok),1,15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "bb AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM t, range(0,60) u(i) GROUP BY 1,2), " +
        "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) " +
        "ELSE 0 END) AS BIGINT) AS simhash FROM bb GROUP BY 1), " +
        "bd AS (SELECT doc_id, simhash, b, (simhash >> CAST(b*15 AS INT)) & 32767 AS bh " +
        "FROM sig, range(0,4) u(b)), " +
        "p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2 FROM bd x JOIN bd y " +
        "ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 10), " +
        "e AS (SELECT a AS x, b2 AS y FROM p UNION SELECT b2, a FROM p), " +
        "r(n, m) AS (SELECT x AS n, x AS m FROM (SELECT x FROM e UNION SELECT y FROM e) " +
        "UNION SELECT r.n, e.y FROM r JOIN e ON r.m = e.x), " +
        "cl AS (SELECT n AS doc_id, min(m) AS cluster FROM r GROUP BY 1), " +
        "lab AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster, d.n_chars " +
        "FROM documents d LEFT JOIN cl USING(doc_id)), " +
        "rep AS (SELECT cluster, doc_id AS rep FROM (SELECT cluster, doc_id, " +
        "row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC) AS rn " +
        "FROM lab) WHERE rn = 1) " +
        "SELECT l.doc_id, rp.rep, l.doc_id = rp.rep AS is_rep " +
        "FROM lab l JOIN rep rp USING(cluster)")),

    ("curate_domain_mix", // per-source token mass + uniform-target sampling
      // weight (target_share / natural_share) — static mixture reweighting
      (s: SparkSession, d: String) => graft.pipeline.Curation.domainMixture(s, d),
      Some("WITH a AS (SELECT source, count(*) AS n_docs, " +
        "sum(len(string_split(text, ' '))) AS n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT sum(n_tokens) AS tot, count(*) AS nsrc FROM a) " +
        "SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "round(n_tokens / CAST(tot AS DOUBLE), 6) AS natural_share, " +
        "round((1.0 / nsrc) / (n_tokens / CAST(tot AS DOUBLE)), 4) AS weight " +
        "FROM a, t")),

    ("dd_boilerplate", // C4-style repeated-content flagging: token-8-grams
      // in > 4 docs are boilerplate; per-doc boilerplate fraction. Same
      // raw-gram oracle convention as dd_decontaminate (xxhash64 vs raw
      // grams, identical sets absent a 64-bit collision)
      (s: SparkSession, d: String) => graft.pipeline.Dedup.boilerplateDir(s, d),
      Some("WITH g AS (SELECT DISTINCT doc_id, " +
        "array_to_string(ws[i:i+7], ' ') AS h " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t, " +
        "LATERAL (SELECT unnest(range(1, greatest(len(ws) - 7, 1))) AS i) u), " +
        "cm AS (SELECT h FROM g GROUP BY h HAVING count(*) > 4), " +
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1), " +
        "hit AS (SELECT doc_id, count(*) AS bp_grams FROM g " +
        "WHERE h IN (SELECT h FROM cm) GROUP BY 1) " +
        "SELECT t.doc_id, n_grams, bp_grams, " +
        "round(CAST(bp_grams AS DOUBLE) / n_grams, 4) AS bp_frac " +
        "FROM tot t JOIN hit USING(doc_id)")),

    ("text_langid_ngram", // Cavnar-Trenkle-style character-trigram profile
      // language-ID: occurrence-weighted profile-hit fractions per language,
      // argmax with fixed tie priority — fully map-side
      (s: SparkSession, d: String) => graft.pipeline.TextStats.langidNgram(s, d),
      Some {
        val profs = Seq(
          "en" -> Seq("the", "he ", " th", "and", "nd ", " an", "ing", "ng ", " of",
            "of ", " to", "to ", "ion", " in", "ed ", "is ", " is", "at ", "es ", "er "),
          "de" -> Seq("der", "er ", " de", "ie ", "die", "und", "nd ", " un", "ein",
            "ich", "ch ", " ei", "sch", "en ", "das", " da", "ung", "ist", " is", "cht"),
          "fr" -> Seq("es ", " de", "de ", "le ", " le", "ent", "nt ", "la ", " la",
            "et ", " et", "les", "que", " qu", "ue ", "des", "ion", "eur", " pa", "re "))
        val scores = profs.map { case (l, p) =>
          val set = p.map(g => s"'${g.replace("'", "''")}'").mkString(", ")
          s"round(CAST(len(list_filter(gs, g -> g IN ($set))) AS DOUBLE) / len(gs), 4) AS s_$l"
        }.mkString(", ")
        "WITH g AS (SELECT doc_id, CASE WHEN length(text) >= 3 THEN " +
        "list_transform(range(0, length(text) - 2), i -> substring(lower(text), " +
        "CAST(i + 1 AS INT), 3)) ELSE [] END AS gs FROM documents), " +
        s"sc AS (SELECT doc_id, $scores FROM g) " +
        "SELECT doc_id, s_en, s_de, s_fr, CASE " +
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en' " +
        "WHEN s_de >= s_fr AND s_de > 0 THEN 'de' " +
        "WHEN s_fr > 0 THEN 'fr' ELSE 'unknown' END AS pred_lang FROM sc"
      }),

    ("text_tfidf", // per-doc top-3 terms by tf·ln(N/df) (keyword extraction);
      // score rounded to 4dp before the rank cut so the boundary is
      // cross-engine deterministic (ln ulp), ties on token
      (s: SparkSession, d: String) => graft.pipeline.TextStats.tfidfTop(s, d),
      Some("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2), " +
        "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "sc AS (SELECT doc_id, tf.tok, tf, df, " +
        "round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS score " +
        "FROM tf JOIN df USING(tok) CROSS JOIN n) " +
        "SELECT doc_id, tok, tf, df, score, rk FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) " +
        "AS BIGINT) AS rk FROM sc) WHERE rk <= 3")),

    ("text_surprisal", // CCNet-style unigram perplexity filter: per-token
      // surprisal ln(N/cnt) fixed-pointed to integer micro-nats BEFORE the
      // per-doc sum, so accumulation is order-free across partitions
      (s: SparkSession, d: String) => graft.pipeline.TextStats.surprisal(s, d),
      Some("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM t), " +
        "m AS (SELECT doc_id, CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) " +
        "AS BIGINT) AS micro FROM t JOIN c USING(tok) CROSS JOIN n) " +
        "SELECT doc_id, count(*) AS n_toks, " +
        "round(sum(micro) / (count(*) * 1e6), 4) AS surprisal FROM m GROUP BY 1")),

    ("text_entropy", // per-doc token entropy (lexical diversity): per-TYPE
      // term fixed-pointed to integer micro-nats (c * round(ln(n/c)*1e6))
      // before the order-free per-doc integer sum — surprisal's device with
      // a per-doc model; n is the map-side token-array size (no corpus pass)
      (s: SparkSession, d: String) => graft.pipeline.TextStats.entropy(s, d),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, unnest(ws) AS tok FROM t), " +
        "tf AS (SELECT doc_id, n, tok, count(*) AS c FROM b GROUP BY 1, 2, 3), " +
        "m AS (SELECT doc_id, n, sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) " +
        "* 1000000) AS BIGINT)) AS m FROM tf GROUP BY 1, 2) " +
        "SELECT doc_id, n AS n_toks, round(m / (n * 1e6), 4) AS entropy FROM m")),

    ("text_surprisal_bigram", // bigram LM surprisal, unigram-interpolated
      // (one order up from text_surprisal; CCNet uses a 5-gram KenLM) —
      // per-position micro-nat fixed-point before the order-free doc sum;
      // the interpolation float expr has identical operand order both engines
      (s: SparkSession, d: String) => graft.pipeline.TextStats.surprisalBigram(s, d),
      Some("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "t AS (SELECT doc_id, unnest(ws) AS tok FROM d), " +
        "uni AS (SELECT tok, count(*) AS c1 FROM t GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM t), " +
        "b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM d, " +
        "LATERAL (SELECT unnest(range(1, len(ws))) AS i) u), " +
        "bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, CAST(round(-ln(0.9 * c12 / u1.c1 + 0.1 * u2.c1 / n.n) " +
        "* 1000000) AS BIGINT) AS micro FROM b JOIN bc USING (w1, w2) " +
        "JOIN uni u1 ON u1.tok = b.w1 JOIN uni u2 ON u2.tok = b.w2 CROSS JOIN n) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(sum(micro) / (count(*) * 1e6), 4) AS surprisal2 FROM m GROUP BY 1")),

    ("curate_classifier", // fastText-style linear quality classifier trained
      // IN-ENGINE: batch perceptron on integer count features (dominant
      // feature centered at its integer corpus mean), 3 unrolled epochs —
      // all-integer updates make training bit-identical to the oracle
      (s: SparkSession, d: String) =>
        graft.pipeline.Curation.perceptronLengthClassifier(s, d),
      Some {
        val epoch = (u: String, wIn: String, wOut: String) =>
          s"$u AS (SELECT COALESCE(sum(y*x0),0) AS s0, COALESCE(sum(y*x1),0) AS s1, " +
          "COALESCE(sum(y*x2),0) AS s2, COALESCE(sum(y*x3),0) AS s3 " +
          s"FROM f, $wIn WHERE y*($wIn.w0*x0 + $wIn.w1*x1 + $wIn.w2*x2 + $wIn.w3*x3) <= 0), " +
          s"$wOut AS (SELECT $wIn.w0+$u.s0 AS w0, $wIn.w1+$u.s1 AS w1, " +
          s"$wIn.w2+$u.s2 AS w2, $wIn.w3+$u.s3 AS w3 FROM $wIn, $u), "
        "WITH fr AS (SELECT doc_id, " +
        "CAST(CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS BIGINT) AS y, " +
        "CAST(1 AS BIGINT) AS x0, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS x1r, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t = 'the')) AS BIGINT) AS x2, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t = 'stream')) AS BIGINT) AS x3 " +
        "FROM documents), " +
        "mu AS (SELECT sum(x1r) // count(*) AS m FROM fr), " +
        "f AS (SELECT doc_id, y, x0, x1r - mu.m AS x1, x2, x3 FROM fr, mu), " +
        "wa AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, " +
        "CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3), " +
        (epoch("ua", "wa", "wb") + epoch("ub", "wb", "wc") +
          epoch("uc", "wc", "wd")).stripSuffix(", ") +
        " SELECT doc_id, y, CAST(CASE WHEN (wd.w0*x0 + wd.w1*x1 + wd.w2*x2 + wd.w3*x3) > 0 " +
        "THEN 1 ELSE -1 END AS BIGINT) AS pred, " +
        "(CASE WHEN (wd.w0*x0 + wd.w1*x1 + wd.w2*x2 + wd.w3*x3) > 0 THEN 1 ELSE -1 END) = y " +
        "AS correct FROM f, wd"
      }),

    ("text_vocab_topk", // corpus-wide top-100 tokens by count (ties lexical),
      // ranked — tokenizer-training frequency table
      (s: SparkSession, d: String) => graft.pipeline.TextStats.vocabTopK(s, d),
      Some("SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk " +
        "FROM (SELECT tok, count(*) AS cnt FROM (SELECT unnest(string_split(" +
        "text, ' ')) AS tok FROM documents) u GROUP BY tok) c " +
        "ORDER BY cnt DESC, tok LIMIT 100")),

    ("curate_ppl_buckets", // CCNet-style head/middle/tail perplexity
      // bucketing (arXiv:1911.00359 §4.3): exact 1/3 & 2/3 surprisal
      // quantiles (both engines interpolate at (n-1)·p; rounded to 6dp so
      // the <= bucket comparison is boundary-stable), then a map-side label
      (s: SparkSession, d: String) => graft.pipeline.Curation.pplBuckets(s, d),
      Some("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM t), " +
        "m AS (SELECT doc_id, CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) " +
        "AS BIGINT) AS micro FROM t JOIN c USING(tok) CROSS JOIN n), " +
        "s AS (SELECT doc_id, count(*) AS n_toks, " +
        "round(sum(micro) / (count(*) * 1e6), 4) AS surprisal FROM m GROUP BY 1), " +
        "q AS (SELECT round(quantile_cont(surprisal, 1.0/3.0), 6) AS q1, " +
        "round(quantile_cont(surprisal, 2.0/3.0), 6) AS q2 FROM s) " +
        "SELECT doc_id, surprisal, CASE WHEN surprisal <= q1 THEN 'head' " +
        "WHEN surprisal <= q2 THEN 'middle' ELSE 'tail' END AS bucket FROM s, q")),

    ("curate_token_budget", // token-budget mixture sampling: equal
      // per-source quota (budget div |sources|), docs taken in deterministic
      // (md5(text), doc_id) hash order while the raw cumulative token count
      // stays within quota — the mix-construction step after domainMixture
      (s: SparkSession, d: String) => graft.pipeline.Curation.tokenBudgetSample(s, d),
      Some("WITH t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "md5(text) AS h FROM documents), " +
        "ns AS (SELECT count(DISTINCT source) AS k FROM t), " +
        "c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source " +
        "ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, (cum + n_tokens) <= (8000 // k) AS taken " +
        "FROM c, ns")),

    ("dd_split_leak", // cross-split near-dup leakage audit: valid/test docs
      // sharing any token-8-gram with a train doc (the contamination the
      // content-hash split can't prevent). Raw-gram oracle convention as
      // dd_decontaminate (xxhash64 vs raw string grams, same 1..len-8 starts)
      (s: SparkSession, d: String) => graft.pipeline.Dedup.splitLeakageDir(s, d),
      Some("WITH sp AS (SELECT doc_id, CASE WHEN " +
        "CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 100 < 90 " +
        "THEN 'train' WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) " +
        "% 100 < 95 THEN 'valid' ELSE 'test' END AS split FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS h " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t, " +
        "LATERAL (SELECT unnest(range(1, greatest(len(ws) - 7, 1))) AS i) u), " +
        "tr AS (SELECT DISTINCT h FROM g JOIN sp USING(doc_id) WHERE split = 'train'), " +
        "ev AS (SELECT g.doc_id, split, h FROM g JOIN sp USING(doc_id) " +
        "WHERE split <> 'train'), " +
        "tot AS (SELECT doc_id, any_value(split) AS split, count(*) AS n_grams " +
        "FROM ev GROUP BY 1), " +
        "hit AS (SELECT doc_id, count(*) AS leaked_grams FROM ev " +
        "WHERE h IN (SELECT h FROM tr) GROUP BY 1) " +
        "SELECT t.doc_id, split, n_grams, leaked_grams, " +
        "round(CAST(leaked_grams AS DOUBLE) / n_grams, 4) AS leak_frac " +
        "FROM tot t JOIN hit USING(doc_id) WHERE leaked_grams > 0")),

    ("sim_kmeans", // k-means clustering as a first-class operator (vec_id →
      // cluster + cluster size): the deterministic integer Lloyd trainer of
      // the IVF/SemDeDup family exposed directly; oracle reuses the
      // unrolled-Lloyd corpus CTE verbatim
      (s: SparkSession, d: String) => graft.pipeline.Similarity.kmeansClusters(s, d),
      Some(ivfCorpusCte +
        "sz AS (SELECT cl, count(*) AS csize FROM corpus GROUP BY 1) " +
        "SELECT c.vec_id, CAST(c.cl AS INT) AS cl, sz.csize " +
        "FROM corpus c JOIN sz USING(cl)")),

    ("graph_jaccard", // neighbor-set Jaccard for co-neighbor pairs of the
      // part co-purchase graph (link-prediction / item-similarity feature):
      // one wedge self-join on the shared center (hub centers capped at
      // maxDeg=4096, mirrored in the oracle), then integer common/degree
      // counts and one IEEE division
      (s: SparkSession, d: String) => graft.pipeline.GraphRank.jaccardNeighbors(s, d),
      Some("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p " +
        "FROM lineitem WHERE l_orderkey % 10 = 0), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x " +
        "JOIN li y ON x.ok = y.ok AND x.p < y.p), " +
        "ed AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT node, count(*) AS deg FROM ed GROUP BY 1), " +
        "cen AS (SELECT ed.nbr AS w, ed.node FROM ed " +
        "JOIN deg dw ON dw.node = ed.nbr WHERE dw.deg <= 4096), " +
        "cm AS (SELECT x.node AS a, y.node AS b, count(*) AS common FROM cen x " +
        "JOIN cen y ON x.w = y.w AND x.node < y.node GROUP BY 1, 2) " +
        "SELECT cm.a, cm.b, cm.common, round(CAST(common AS DOUBLE) / " +
        "(da.deg + db.deg - common), 4) AS jac FROM cm " +
        "JOIN deg da ON da.node = cm.a JOIN deg db ON db.node = cm.b")),

    ("graph_components", // connected components of the co-purchase graph as
      // a first-class operator (label = min member id, + component size);
      // isolated parts (never co-ordered with another part) join in as
      // size-1 components, so the whole sliced part universe is
      // partitioned; oracle closes the same graph with a recursive CTE, as
      // the dedup cluster entries do
      (s: SparkSession, d: String) => graft.pipeline.GraphRank.components(s, d),
      Some("WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, " +
        "l_partkey AS p FROM lineitem WHERE l_orderkey % 10 = 0), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x " +
        "JOIN li y ON x.ok = y.ok AND x.p < y.p), " +
        "ed AS (SELECT a AS x, b AS y FROM e UNION SELECT b, a FROM e), " +
        "r(n, m) AS (SELECT x AS n, x AS m FROM (SELECT x FROM ed " +
        "UNION SELECT y FROM ed) " +
        "UNION SELECT r.n, ed.y FROM r JOIN ed ON r.m = ed.x), " +
        "c AS (SELECT n AS node, min(m) AS component FROM r GROUP BY 1), " +
        "allc AS (SELECT node, component FROM c UNION ALL " +
        "SELECT p, p FROM (SELECT DISTINCT p FROM li) " +
        "WHERE p NOT IN (SELECT node FROM c)) " +
        "SELECT node, component, count(*) OVER (PARTITION BY component) AS csize " +
        "FROM allc")),

    ("ev_attribution", // last-touch-window click attribution (batch twin of
      // the stream-stream interval join): (view, click) pairs of one user
      // with 0 < lag <= 10 min — Spark runs the BINNED interval join
      // ((user, horizon-bucket) equi-keys, views replicated into bucket+1)
      // so per-key pair work is bounded by horizon x rate, never
      // |views|x|clicks| per user; lag in exact integer micros. 60-min
      // horizon: the synthetic stream is sparse per user (10 min attributes
      // almost nothing), and the bucket math is horizon-independent
      (s: SparkSession, d: String) =>
        graft.pipeline.EventsOps.attributeClicks(s, d, horizonMin = 60),
      Some("SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id, " +
        "epoch_us(c.ts) - epoch_us(v.ts) AS lag_us " +
        "FROM events v JOIN events c ON c.user_id = v.user_id " +
        "AND v.event_type = 'view' AND c.event_type = 'click' " +
        "AND c.ts > v.ts AND epoch_us(c.ts) - epoch_us(v.ts) <= 3600000000")),

    ("mm_audio_features", // frame-level audio features over the REAL WAV
      // decode (speech-pipeline front end): zero-crossing count, total
      // energy, active 20ms-frame count — all integer arithmetic re-centered
      // at the corpus byte midpoint; oracle replays the cyclic byte rule
      (s: SparkSession, d: String) =>
        graft.pipeline.Multimodal.audioFeatures(s, d).toDF(),
      Some("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, " +
        "octet_length(encode(text)) AS nb FROM documents), " +
        "px AS (SELECT doc_id, u.i AS i, " +
        "CAST(('0x' || substring(hx, CAST(u.i % nb AS INT) * 2 + 1, 2)) AS INT) " +
        "- 100 AS d, nb * 3 AS n FROM b, " +
        "LATERAL (SELECT unnest(range(nb * 3)) AS i) u), " +
        "z AS (SELECT doc_id, CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS zero_cross, CAST(sum(sq) AS BIGINT) AS energy FROM " +
        "(SELECT doc_id, (d >= 0) <> (lag(d) OVER (PARTITION BY doc_id ORDER BY i) " +
        ">= 0) AS chg, CAST(d AS BIGINT) * d AS sq FROM px) GROUP BY 1), " +
        "fr AS (SELECT doc_id, i // 160 AS f, sum(CAST(d AS BIGINT) * d) AS fe " +
        "FROM px WHERE i < (n // 160) * 160 GROUP BY 1, 2), " +
        "af AS (SELECT doc_id, CAST(count(CASE WHEN fe > 130000 THEN 1 END) " +
        "AS BIGINT) AS active_frames FROM fr GROUP BY 1) " +
        "SELECT b.doc_id, CAST(nb * 3 // 160 AS BIGINT) AS n_frames, " +
        "z.zero_cross, z.energy, " +
        "coalesce(af.active_frames, CAST(0 AS BIGINT)) AS active_frames " +
        "FROM b JOIN z USING(doc_id) LEFT JOIN af USING(doc_id)")),

    ("ev_rfm", // RFM user features + deterministic quartiles: integer
      // recency days / frequency / milli-fixed monetary from one user-keyed
      // aggregate; ntile(4) over (metric, user_id) total orders — the ANSI
      // first-buckets-take-the-remainder rule matches across engines
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.rfm(s, d),
      Some("WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_us, " +
        "count(*) AS frequency, CAST(sum(CASE WHEN event_type = 'purchase' " +
        "THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) " +
        "AS monetary_milli FROM events GROUP BY 1), " +
        "mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events), " +
        "f AS (SELECT user_id, (max_us - last_us) // 86400000000 " +
        "AS recency_days, frequency, monetary_milli FROM per, mx) " +
        "SELECT user_id, recency_days, frequency, monetary_milli, " +
        "CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS r_q, " +
        "CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS BIGINT) AS f_q, " +
        "CAST(ntile(4) OVER (ORDER BY monetary_milli DESC, user_id ASC) AS BIGINT) AS m_q " +
        "FROM f")),

    ("ev_ab_test", // Welch z-test on purchase value between hash-assigned
      // arms (arm = user_id % 2): per-arm moments are exact integers over
      // milli-fixed values, z is ONE identical IEEE op chain in both
      // engines, micro-rounded, zero-variance guarded; |z| >= 1.96 flags 5%
      // two-sided significance
      (s: SparkSession, d: String) => graft.pipeline.EventsOps.abTest(s, d),
      Some("WITH e AS (SELECT user_id % 2 AS arm, " +
        "CAST(round(value * 1000) AS BIGINT) AS mv FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN mv ELSE 0 END) AS BIGINT) AS s_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN mv * mv ELSE 0 END) AS BIGINT) AS q_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN mv ELSE 0 END) AS BIGINT) AS s_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN mv * mv ELSE 0 END) AS BIGINT) AS q_b FROM e), " +
        "zz AS (SELECT n_a, s_a, n_b, s_b, " +
        "(CAST(q_a AS DOUBLE) / n_a - (CAST(s_a AS DOUBLE) / n_a) * " +
        "(CAST(s_a AS DOUBLE) / n_a)) / n_a + " +
        "(CAST(q_b AS DOUBLE) / n_b - (CAST(s_b AS DOUBLE) / n_b) * " +
        "(CAST(s_b AS DOUBLE) / n_b)) / n_b AS se2, " +
        "CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS md FROM c) " +
        "SELECT n_a, s_a, n_b, s_b, CASE WHEN n_a = 0 OR n_b = 0 THEN 0 " +
        "WHEN se2 <= 0 THEN 0 " +
        "ELSE CAST(round(md / sqrt(se2) * 1000000) AS BIGINT) END AS z_micro, " +
        "abs(CASE WHEN n_a = 0 OR n_b = 0 THEN 0 WHEN se2 <= 0 THEN 0 " +
        "ELSE CAST(round(md / sqrt(se2) " +
        "* 1000000) AS BIGINT) END) >= 1960000 AS significant FROM zz")),

    ("curate_chunk", // sliding-window document chunker with overlap (RAG /
      // fixed-context splitting): win=64, stride=48; per chunk the token
      // span and an md5 content fingerprint — one scan, explode pipelined,
      // zero shuffles; oracle rebuilds every chunk via generate_series +
      // list slicing
      (s: SparkSession, d: String) => graft.pipeline.Curation.chunkDocs(s, d),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n, " +
        "CAST((greatest(len(toks) - 64, 0) + 47) // 48 + 1 AS BIGINT) AS nc FROM t), " +
        "x AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c) " +
        "SELECT doc_id, i AS chunk_idx, i * 48 AS start_tok, " +
        "least(64, n - i * 48) AS n_tok, " +
        "md5(array_to_string(toks[CAST(i * 48 + 1 AS BIGINT):" +
        "CAST(least(i * 48 + 64, n) AS BIGINT)], ' ')) AS chunk_hash " +
        "FROM x")),

    ("curate_chunk_pack", // the CHAINED pretraining shape: chunk →
      // dedup-by-chunk_hash (first occurrence survives) → pack the surviving
      // per-source stream every 256 tokens. One documents scan + exactly two
      // hash exchanges end to end (plan-pinned in PipelineSpec); oracle
      // composes the chunk/dedup/pack CTEs
      (s: SparkSession, d: String) => graft.pipeline.Curation.chunkPack(s, d),
      Some("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n, " +
        "CAST((greatest(len(toks) - 64, 0) + 47) // 48 + 1 AS BIGINT) AS nc FROM t), " +
        "x AS (SELECT doc_id, source, toks, n, unnest(range(0, nc)) AS i FROM c), " +
        "ch AS (SELECT doc_id, source, i AS chunk_idx, " +
        "least(64, n - i * 48) AS n_tok, " +
        "md5(array_to_string(toks[CAST(i * 48 + 1 AS BIGINT):" +
        "CAST(least(i * 48 + 64, n) AS BIGINT)], ' ')) AS chunk_hash FROM x), " +
        "dd AS (SELECT doc_id, source, chunk_idx, n_tok, chunk_hash FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY chunk_hash " +
        "ORDER BY doc_id, chunk_idx) AS rk FROM ch) WHERE rk = 1), " +
        "p AS (SELECT *, CAST(coalesce(sum(n_tok) OVER (PARTITION BY source " +
        "ORDER BY doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "1 PRECEDING), 0) AS BIGINT) AS cum FROM dd) " +
        "SELECT doc_id, chunk_idx, source, n_tok, chunk_hash, " +
        "CAST(floor(cum / 256.0) AS BIGINT) AS pack_id, " +
        "CAST(cum % 256 AS BIGINT) AS pack_off, " +
        "floor((cum + n_tok - 1) / 256.0) > floor(cum / 256.0) AS spans FROM p")),

    ("curate_dsir", // DSIR importance weights (hashed n-gram log-ratio of a
      // target-source distribution vs the raw corpus, add-one smoothing);
      // per-bucket λ fixed-pointed to micro-nats so the per-doc score is an
      // order-free integer sum — the surprisal determinism device
      (s: SparkSession, d: String) => graft.pipeline.Curation.dsirWeights(s, d),
      Some("WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws " +
        "FROM documents), " +
        "f AS (SELECT doc_id, source, unnest(list_concat(ws, " +
        "CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), " +
        "i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)]) " +
        "ELSE [] END)) AS f FROM w), " +
        "b AS (SELECT doc_id, source, " +
        "CAST(concat('0x', substring(md5(f), 1, 8)) AS BIGINT) % 1024 AS b FROM f), " +
        "nt AS (SELECT count(*) AS n FROM b WHERE source = 'src0'), " +
        "nr AS (SELECT count(*) AS n FROM b), " +
        "ct AS (SELECT b, count(*) AS ct FROM b WHERE source = 'src0' GROUP BY 1), " +
        "cr AS (SELECT b, count(*) AS cr FROM b GROUP BY 1), " +
        "lam AS (SELECT cr.b AS b, CAST(round((ln((coalesce(ct, 0) + 1) / " +
        "CAST((SELECT n FROM nt) + 1024 AS DOUBLE)) - ln((cr + 1) / " +
        "CAST((SELECT n FROM nr) + 1024 AS DOUBLE))) * 1e6) AS BIGINT) AS lam " +
        "FROM cr LEFT JOIN ct ON cr.b = ct.b) " +
        "SELECT doc_id, count(*) AS n_feats, CAST(sum(lam) AS BIGINT) AS dsir_micro " +
        "FROM b JOIN lam USING(b) GROUP BY 1")),

    ("curate_repeat_plan", // data-constrained epoch planning
      // (arXiv:2305.16264): per source, integer repeat count
      // min(ceil(budget-share / tokens), 4) and the planned token total —
      // the repeat side of mixture construction, all integer arithmetic
      (s: SparkSession, d: String) => graft.pipeline.Curation.repeatPlan(s, d),
      Some("WITH t AS (SELECT source, CAST(sum(len(string_split(text, ' '))) " +
        "AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
        "k AS (SELECT count(*) AS k FROM t) " +
        "SELECT source, n_tokens, CAST(100000 // k AS BIGINT) AS share, " +
        "CAST(least((100000 // k + n_tokens - 1) // n_tokens, 4) AS BIGINT) AS repeats, " +
        "CAST(least((100000 // k + n_tokens - 1) // n_tokens, 4) * n_tokens " +
        "AS BIGINT) AS planned_tokens FROM t, k")),

    ("text_kmv_distinct", // KMV distinct-count sketch (custom
      // TypedImperativeAggregate; mergeable k-smallest-hash state) next to
      // the exact count: est = (k-1)*2^60 // kth-smallest md5-prefix hash —
      // the ESTIMATE is oracle-checked bit-exactly, not just bounded
      (s: SparkSession, d: String) => graft.pipeline.TextStats.kmvDistinct(s, d),
      Some("WITH t AS (SELECT DISTINCT source, tok FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "h AS (SELECT DISTINCT source, " +
        "CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM t), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source " +
        "ORDER BY h) AS rk, count(*) OVER (PARTITION BY source) AS n FROM h), " +
        "est AS (SELECT source, CASE WHEN any_value(n) < 16 THEN " +
        "CAST(any_value(n) AS BIGINT) ELSE CAST((15 * " +
        "CAST(1152921504606846976 AS HUGEINT)) // max(CASE WHEN rk = 16 " +
        "THEN h END) AS BIGINT) END AS est_distinct FROM r " +
        "WHERE rk <= 16 GROUP BY 1), " +
        "ex AS (SELECT source, count(*) AS n_exact FROM t GROUP BY 1) " +
        "SELECT source, est_distinct, n_exact FROM est JOIN ex USING(source)")),

    ("curate_weighted_sample", // mixture execution: the domain-mix weights
      // applied as a DETERMINISTIC hash-threshold sample — keep iff
      // h(text) * 1e6 < accept_ppm * 2^40, all exact long arithmetic;
      // reproducible where rand() would not be
      (s: SparkSession, d: String) => graft.pipeline.Curation.weightedSample(s, d),
      Some("WITH dd AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) " +
        "AS nt FROM documents), " +
        "m AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens FROM dd GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot, count(*) AS nsrc FROM m), " +
        "w AS (SELECT source, round((1.0 / nsrc) / " +
        "(CAST(n_tokens AS DOUBLE) / tot), 4) AS weight FROM m, tt), " +
        "a AS (SELECT source, least(CAST(round(weight * 0.5 * 1000000) AS BIGINT), " +
        "1000000) AS accept_ppm FROM w) " +
        "SELECT doc_id, d2.source, accept_ppm, " +
        "(CAST(concat('0x', substring(md5(text), 1, 10)) AS BIGINT) * 1000000) < " +
        "(accept_ppm * 1099511627776) AS keep " +
        "FROM documents d2 JOIN a USING(source)")),

    ("text_kmv_overlap", // theta-style KMV set intersection: per source
      // pair the vocabulary overlap estimated from the two k-hash sketch
      // sets alone (shared hashes below min-theta, rescaled 2^60/theta; an
      // under-k side is exact with theta = the full domain) — no token-level
      // pair join; the exact count rides along for comparison
      (s: SparkSession, d: String) => graft.pipeline.TextStats.kmvOverlap(s, d),
      Some("WITH t AS (SELECT DISTINCT source, tok FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "h AS (SELECT DISTINCT source, " +
        "CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM t), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source " +
        "ORDER BY h) AS rk, count(*) OVER (PARTITION BY source) AS n FROM h), " +
        "ks AS (SELECT source, h, n FROM r WHERE rk <= 16), " +
        "th AS (SELECT source, CASE WHEN any_value(n) < 16 THEN " +
        "CAST(1152921504606846976 AS BIGINT) ELSE max(h) END AS theta " +
        "FROM ks GROUP BY 1), " +
        "p AS (SELECT ta.source AS a, tb.source AS b, " +
        "least(ta.theta, tb.theta) AS theta FROM th ta JOIN th tb " +
        "ON ta.source < tb.source), " +
        "sh AS (SELECT x.source AS a, y.source AS b, x.h FROM ks x " +
        "JOIN ks y ON y.h = x.h AND x.source < y.source), " +
        "cc AS (SELECT sh.a, sh.b, count(*) AS c FROM sh JOIN p " +
        "ON p.a = sh.a AND p.b = sh.b WHERE sh.h < p.theta GROUP BY 1, 2), " +
        "ex AS (SELECT x.source AS a, y.source AS b, count(*) AS n_exact " +
        "FROM t x JOIN t y ON y.tok = x.tok AND x.source < y.source " +
        "GROUP BY 1, 2) " +
        "SELECT p.a, p.b, CAST((CAST(coalesce(cc.c, 0) AS HUGEINT) * " +
        "1152921504606846976) // p.theta AS BIGINT) AS est_overlap, " +
        "coalesce(ex.n_exact, 0) AS n_exact FROM p " +
        "LEFT JOIN cc ON cc.a = p.a AND cc.b = p.b " +
        "LEFT JOIN ex ON ex.a = p.a AND ex.b = p.b")),

    ("text_zipf", // Zipf rank-frequency slope over the top-100 vocabulary
      // (corpus-health diagnostic): per-term ln() fixed-pointed to integer
      // micros, regression sums exact integers (carried in the output), the
      // slope one integer->double division chain
      (s: SparkSession, d: String) => graft.pipeline.TextStats.zipfSlope(s, d),
      Some("WITH c AS (SELECT tok, count(*) AS cnt FROM (SELECT " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1), " +
        "r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk " +
        "FROM c ORDER BY cnt DESC, tok LIMIT 100), " +
        "xy AS (SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS x, " +
        "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y FROM r), " +
        "s AS (SELECT count(*) AS n_terms, CAST(sum(x) AS BIGINT) AS sx, " +
        "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx FROM xy) " +
        "SELECT n_terms, sx, sy, sxy, sxx, " +
        "CAST(round(CAST(n_terms * sxy - sx * sy AS DOUBLE) / " +
        "CAST(n_terms * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT) " +
        "AS slope_micro FROM s"))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e._1 -> e._2).toMap
  def oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
