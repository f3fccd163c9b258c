package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model._
import graft.store._

class StoreSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  val sf = "/root/testdata/sf0.001"

  lazy val store: RdfStore = RelToRdf.cached(spark, sf)

  test("load produces quads for every table") {
    val sc = store.scheme
    val byGraph = store.quads.groupBy("g").count().collect()
      .map(r => sc.decodeIri(r.getLong(0)) -> r.getLong(1)).toMap
    // customer: 150 rows x (5 cols + 1 fk)
    assert(byGraph("urn:g:customer") == 150 * 6)
    // lineitem: 6000 x (11 cols + 3 fks)
    assert(byGraph("urn:g:lineitem") == 6000 * 14)
    assert(byGraph("urn:g:region") == 5 * 2)
    assert(byGraph("urn:g:nation") == 25 * 4)
  }

  test("native inline string ids agree with the Scala codec") {
    // distinct l_returnflag values are 1-char strings -> inline
    val sc = store.scheme
    val p = sc.tryInlineIri("urn:p:lineitem:l_returnflag").get
    val ids = store.quads.filter(col("p") === p).select("o").distinct()
      .collect().map(_.getLong(0)).toSet
    val expect = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag").distinct().collect()
      .map(r => TermId.tryInlineString(r.getString(0)).get).toSet
    assert(ids == expect)
  }

  test("integer / timestamp / double encodings round-trip against raw table") {
    val sc = store.scheme
    // integer: part.p_size
    val pSize = sc.tryInlineIri("urn:p:part:p_size").get
    val sizes = store.quads.filter(col("p") === pSize).select("o").collect()
      .map(r => TermId.decodeInline(r.getLong(0)).lex.toLong).sorted
    val rawSizes = spark.read.parquet(s"$sf/part.parquet")
      .select("p_size").collect().map(_.getInt(0).toLong).sorted
    assert(sizes.toSeq == rawSizes.toSeq)
    // timestamp: orders.o_orderdate round-trips through the µs inline encoding
    val pDate = sc.tryInlineIri("urn:p:orders:o_orderdate").get
    val n = store.quads.filter(col("p") === pDate).count()
    assert(n == 1500)
    val one = store.quads.filter(col("p") === pDate).select("o").first().getLong(0)
    assert(TermId.tag(one) == TermId.TAG_DATETIME)
    val t = TermId.decodeInline(one).asInstanceOf[Lit]
    assert(t.datatype == Term.xsdDateTime)
    // double: lineitem.l_quantity goes to the dictionary with onum populated
    val pQty = sc.tryInlineIri("urn:p:lineitem:l_quantity").get
    val qtys = store.quads.filter(col("p") === pQty)
    assert(qtys.filter(col("onum").isNull).count() == 0)
    val sumGot = qtys.agg(sum("onum")).first().getDouble(0)
    val sumExp = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(sum("l_quantity")).first().getDouble(0)
    assert(math.abs(sumGot - sumExp) < 1e-6)
  }

  test("fk quads join lineitem to orders") {
    val sc = store.scheme
    val fkOrders = sc.tryInlineIri("urn:fk:orders").get
    val joined = store.quads.filter(col("p") === fkOrders).count()
    assert(joined == 6000)
  }

  test("dictionary terms materialize and ids are unique") {
    val total = store.terms.count()
    val distinctIds = store.terms.select("id").distinct().count()
    assert(total == distinctIds && total > 0)
    // every double literal is in the dictionary with its num
    val doubles = store.terms.filter(col("dt") === Term.xsdDouble)
    assert(doubles.filter(col("num").isNull).count() == 0)
  }

  test("endpoint-backed remote store: paged snapshot through a ServiceClient") {
    import graft.engine.LocalServiceClient
    import graft.store.RemoteStore
    val remote = RelToRdf.cached(spark, "/root/testdata/sf0.001")
    val client = new LocalServiceClient(Map("urn:svc:remote" -> remote))
    // tiny page size forces the LIMIT/OFFSET paging loop through many rounds
    val snap = RemoteStore.fromEndpoint(spark, "urn:svc:remote", client,
      pageSize = 997, maxRows = 3000)
    val n = snap.quads.count()
    assert(n == 3000, s"paged snapshot rows: $n") // capped by maxRows
    // snapshot is a full store: statistics + query machinery work on it
    val eng = new GraftEngine(snap)
    assert(eng.query("SELECT ?s ?o WHERE { ?s <urn:p:region:r_name> ?o }").count() > 0)
  }

  test("TPF client: follows hydra paging, strips control triples, filters patterns") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.store.RemoteStore
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def page(body: String): Array[Byte] = body.getBytes("UTF-8")
    server.createContext("/fragment", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        queries.add(q)
        val base = s"http://127.0.0.1:${server.getAddress.getPort}/fragment"
        val body =
          if (q.contains("page=2"))
            """<http://ex.org/s2> <http://ex.org/p> "two" .
              |<http://ex.org/frag> <http://rdfs.org/ns/void#triples> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
              |""".stripMargin
          else
            s"""<http://ex.org/s1> <http://ex.org/p> "one" .
               |<http://ex.org/frag> <http://www.w3.org/ns/hydra/core#next> <$base?page=2> .
               |""".stripMargin
        val bytes = page(body)
        ex.getResponseHeaders.set("Content-Type", "application/n-triples")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/fragment"
      val client = new RemoteStore.TpfClient()
      val ts = client.fetchPattern(base, p = Some(Iri("http://ex.org/p")))
      // the first request carries the pattern; hydra next links are opaque
      assert(queries.peek().contains("predicate="),
        "pattern must be passed as query params")
      assert(ts.size == 2, s"got: $ts") // both pages' data, no hydra/void controls
      assert(ts.map(_._3).toSet == Set(Term.str("one"), Term.str("two")))
      val snap = RemoteStore.fromTpf(spark, base, client)
      assert(snap.quads.count() == 2)
    } finally server.stop(0)
  }

  test("language-preference store keeps the best-ranked language per property") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.store.{LangPrefStore, StoreEncoder}
    val ex = "http://example.org/"
    val g = Iri(ex + "g")
    val quads: Seq[(Term, Term, Term)] = Seq(
      (Iri(ex + "s1"), Iri(ex + "label"), Term.langStr("hello", "en")),
      (Iri(ex + "s1"), Iri(ex + "label"), Term.langStr("bonjour", "fr")),
      (Iri(ex + "s1"), Iri(ex + "label"), Term.langStr("hallo", "de")),
      (Iri(ex + "s1"), Iri(ex + "note"), Term.str("plain")), // untagged: passes
      (Iri(ex + "s2"), Iri(ex + "label"), Term.langStr("salut", "fr")),
      (Iri(ex + "s2"), Iri(ex + "label"), Term.langStr("servus", "de")))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      quads.map { case (s, p, o) =>
        Row(TermRow.toRow(s), TermRow.toRow(p), TermRow.toRow(o), TermRow.toRow(g)) }, 1),
      schema)
    val base = StoreEncoder.encode(df, graft.model.IriScheme.default)
    val pref = LangPrefStore(base, Seq("en" -> 1.0, "fr" -> 0.5))
    val eng = new GraftEngine(pref)
    val labels = eng.query(
      s"SELECT ?s ?l WHERE {{ ?s <${ex}label> ?l }}")
      .collect().map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
    // s1: en beats fr, de unlisted (dropped); s2: no en → fr wins
    assert(labels == Set((ex + "s1", "hello"), (ex + "s2", "salut")), labels.toString)
    // untagged literal untouched
    assert(eng.query(s"SELECT ?v WHERE {{ <${ex}s1> <${ex}note> ?v }}").count() == 1)
    // statistics recomputed: stats-backed COUNT(*) equals the filtered view
    val total = eng.query("SELECT (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }")
      .collect().head.getStruct(0).getString(1).toLong
    assert(total == 3L)
  }

  test("store persistence: save + open round-trips data, statistics, and queries") {
    import graft.store.StorePersist
    val dir = "/tmp/graft_store_persist_" + System.nanoTime()
    StorePersist.save(store, dir)
    val reopened = StorePersist.open(spark, dir)
    assert(reopened.quads.count() == store.quads.count())
    assert(reopened.terms.count() == store.terms.count())
    // statistics persisted — no ANALYZE on open, COUNT shortcut still exact
    assert(reopened.predProfiles == store.predProfiles)
    assert(reopened.spgAllInline == store.spgAllInline)
    assert(reopened.defaultGraphs.toSet == store.defaultGraphs.toSet)
    val eng = new GraftEngine(reopened)
    val n = eng.query("SELECT (COUNT(?o) AS ?n) WHERE { ?s <urn:p:customer:c_name> ?o }")
      .collect().head.getStruct(0).getString(1).toLong
    assert(n == 150L)
    // full query equivalence on a join
    val got = eng.query(
      """SELECT ?nm ?rn WHERE { ?c <urn:p:customer:c_name> ?nm ; <urn:fk:nation> ?n .
        |  ?n <urn:fk:region> ?r . ?r <urn:p:region:r_name> ?rn }""".stripMargin).count()
    assert(got == 150)
  }

  test("charSets manifest: stats round-trip; over-cap stores persist an explicit disabled marker") {
    import graft.store.StorePersist
    // normal save: ANALYZE runs once at save, open() loads usable stats
    val dir = "/tmp/graft_store_cs_" + System.nanoTime()
    StorePersist.save(store, dir)
    val reopened = StorePersist.open(spark, dir)
    assert(reopened.charSetStats.isDefined && !reopened.charSetsDisabled,
      "persisted store must carry usable characteristic sets")
    assert(reopened.charSetStats == RdfStore.computeCharSets(store.quads))
    // disabled store (over-cap ANALYZE outcome): save writes "charSets":null,
    // open maps it to disabled — NOT to 'never computed' — so a re-save does
    // not re-run the pass; charSets stays None without recomputation
    val dir2 = "/tmp/graft_store_csdis_" + System.nanoTime()
    StorePersist.save(reopened.copy(charSetStats = None, charSetsDisabled = true), dir2)
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir2, "meta.json")).contains("\"charSets\":null"),
      "over-cap store must persist the explicit disabled marker")
    val dis = StorePersist.open(spark, dir2)
    assert(dis.charSetsDisabled && dis.charSetStats.isEmpty)
  }

  test("bucketed store: same-subject star join plans with no shuffle exchange") {
    import graft.store.StorePersist
    import graft.algebra._
    import graft.engine.{Compiler, ExprEval, Rewriter}
    val dir = "/tmp/graft_store_bucketed_" + System.nanoTime()
    StorePersist.save(store, dir)
    val reopened = StorePersist.open(spark, dir)
    assert(reopened.bucketedS)
    val comp = new Compiler(reopened, ExprEval.Ctx(nowEpochUs = 0L))
    def p(t: String, c: String) = N.iri(s"urn:p:$t:$c")
    val star = BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_name"), V("nm")),
      QuadPattern(V("c"), p("customer", "c_acctbal"), V("bal")),
      QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg"))))
    // disable size-based broadcast so the plan shows what survives at scale:
    // co-partitioned, co-sorted scans -> merge join, no exchange, no sort
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sol = comp.compile(Rewriter.rewrite(star))
      val plan = sol.df.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"star join over bucketed store should not shuffle:\n$plan")
      assert(sol.df.count() == 150)
      // and the in-memory (non-bucketed) store gives the same rows
      val mem = new Compiler(store, ExprEval.Ctx(nowEpochUs = 0L))
        .compile(Rewriter.rewrite(star))
      assert(mem.df.count() == 150)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("persisted store: bound-predicate scan prunes to its p= partition directory") {
    import graft.store.StorePersist
    val dir = "/tmp/graft_store_pruned_" + System.nanoTime()
    StorePersist.save(store, dir)
    val reopened = StorePersist.open(spark, dir, cache = false)
    val pid = reopened.idOf(graft.algebra.N.iri("urn:p:customer:c_name").term).get
    // file-level pruning: the physical scan must carry a PartitionFilters
    // entry on p (directory pruning), not a row-level Filter over a full scan
    val scan = reopened.quads.filter(col("p") === pid)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p#"),
      s"bound-p scan should prune partitions:\n$plan")
    // the pruned read returns exactly the predicate's rows (count from stats)
    assert(scan.count() == reopened.predProfiles(pid).count)
    // and the engine end-to-end still answers over the uncached pruned store
    val eng = new GraftEngine(reopened)
    assert(eng.query(
      "SELECT ?nm WHERE { ?c <urn:p:customer:c_name> ?nm }").count() == 150)
  }

  test("explainAnalyze reports per-operator runtime metrics") {
    val eng = new GraftEngine(store)
    val q = "SELECT ?nm WHERE { ?c <urn:p:customer:c_name> ?nm }"
    val out = eng.explainAnalyze(q)
    assert(out.contains("result rows: 150"))
    assert(out.contains("numOutputRows="), s"metrics missing:\n${out.take(1500)}")
    // the last line is the plan's shape, the same counts the plan ledger keeps
    val df = eng.solutions(q).df
    df.collect()
    assert(out.linesIterator.toSeq.last ==
      s"plan shape: ${PlanShape.of(df.queryExecution.executedPlan).json}", out)
  }

  test("explain renders the algebra tree and the Catalyst physical plan") {
    val eng = new GraftEngine(store)
    val out = eng.explain(
      """SELECT ?nm WHERE { ?c <urn:p:customer:c_name> ?nm .
        |  FILTER(STRSTARTS(?nm, "Customer")) } ORDER BY ?nm LIMIT 5""".stripMargin)
    assert(out.contains("== SPARQL algebra (rewritten) =="))
    assert(out.contains("BGP"))
    assert(out.contains("Filter STRSTARTS"))
    assert(out.contains("== Spark physical plan =="))
    assert(out.contains("(1) Scan") || out.contains("WholeStageCodegen") ||
      out.contains("InMemoryTableScan"))
  }

  test("explain surfaces the join-order DP's statistics estimates") {
    val eng = new GraftEngine(store)
    val out = eng.explain(
      """SELECT ?nm ?nn WHERE { ?c <urn:p:customer:c_name> ?nm .
        |  ?c <urn:fk:nation> ?n . ?n <urn:p:nation:n_name> ?nn }""".stripMargin)
    assert(out.contains("== Statistics (DP join order, estimated rows) =="))
    assert(out.contains("BGP (3 patterns): est rows ~"), out.take(1200))
    // the exact per-predicate count statistics put the star near 150 rows
    val est = "est rows ~ ([0-9.]+)".r.findFirstMatchIn(out).get.group(1).toDouble
    assert(est >= 25 && est <= 1500, s"implausible estimate $est")
  }
}
