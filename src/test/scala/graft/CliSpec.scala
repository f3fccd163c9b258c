package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI coverage (reference `kineo-cli/main.swift:28` parity),
  * all through [[Main.run]] (the `main` minus the JVM fork).
  *
  * "create from geo.ttl, query geo.rq end-to-end" creates a persisted store
  * from the reference's own geo.ttl, runs geo.rq against it, explains it and
  * dumps it. It asserts facts of that extract, so it needs the reference
  * checkout ([[ReferenceGeo]]) and is canceled where that is absent.
  *
  * The `load` and `analyze` tests check the verbs, not the extract: they read
  * the committed `src/test/resources/geo-sample.ttl`, synthetic features in
  * geo.ttl's shape.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  private val geoDir = ReferenceGeo.dir
  private val sample = java.nio.file.Paths.get(
    getClass.getResource("/geo-sample.ttl").toURI).toString

  private def capture(args: String*): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(args.toArray, spark)
    }
    (code, out.toString("UTF-8"))
  }

  test("cli: create from geo.ttl, query geo.rq end-to-end") {
    ReferenceGeo.assumePresent("geo.ttl", "geo.rq")
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val (c1, o1) = capture("create", dir, s"$geoDir/geo.ttl")
    assert(c1 == 0, o1)
    assert(o1.contains("3056 quads"), o1) // geo.ttl parses to 3056 triples

    // the reference README's query: 10 matching features, ordered
    val (c2, o2) = capture("query", dir, s"$geoDir/geo.rq")
    assert(c2 == 0, o2)
    val rows = o2.trim.split("\n")
    assert(rows.head == "?s", o2.take(200))
    assert(rows.length == 11, s"want header + 10 rows:\n$o2")

    val (c3, o3) = capture("query", dir, s"$geoDir/geo.rq", "--format", "json")
    assert(c3 == 0 && o3.contains("\"bindings\""), o3.take(200))

    val (c4, o4) = capture("explain", dir, s"$geoDir/geo.rq")
    assert(c4 == 0, o4)
    assert(o4.contains("SPARQL algebra") && o4.contains("physical plan"), o4.take(300))

    val (c5, o5) = capture("graphs", dir)
    assert(c5 == 0 && o5.contains("urn:g:default"), o5)

    // dump → reload as N-Quads → same quad count
    val nq = java.nio.file.Files.createTempDirectory("graft_nq").toString + "/out"
    val (c6, _) = capture("dump", dir, nq)
    assert(c6 == 0)
    assert(graft.sources.RdfIO.readNTriples(spark, nq).count() == 3056)

    // turtle dump round-trips through the parser
    val ttl = java.nio.file.Files.createTempDirectory("graft_ttl").toString + "/out.ttl"
    val (c7, _) = capture("dump", dir, ttl, "--format", "turtle")
    assert(c7 == 0)
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ttl)), "UTF-8")
    assert(graft.sources.RdfIO.parseTurtle(doc).size == 3056)
  }

  test("cli: errors are reported, not thrown") {
    val (c1, _) = capture("query", "/nonexistent/store", "SELECT * WHERE { ?s ?p ?o }")
    assert(c1 == 1)
    val (c2, _) = capture("bogus-command", "x")
    assert(c2 == 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_cli2").toString
    assert(capture("create", dir)._1 == 0) // empty store is legal
    val (c3, _) = capture("query", dir, "SELECT ?x WHERE { ?x ?y }") // parse error
    assert(c3 == 1)
  }

  test("cli: load appends into an existing store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli3").toString
    assert(capture("create", dir)._1 == 0)
    // fixed by the fixture: 50 features × (point, type, lat, long)
    val want = 200
    assert(graft.sources.RdfIO.parseTurtle(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sample)), "UTF-8")).size == want)
    val (c, out) = capture("load", dir, sample, "urn:g:geo")
    assert(c == 0, out)
    val total = """\((\d+) quads total\)""".r.findFirstMatchIn(out).map(_.group(1).toInt)
    assert(total.contains(want), out)
    val (cq, oq) = capture("query", dir,
      "SELECT (COUNT(*) AS ?n) WHERE { GRAPH <urn:g:geo> { ?s ?p ?o } }")
    assert(cq == 0, oq)
    val (vars, rows) = graft.sources.SparqlResults.parseTsv(oq)
    assert(vars == Seq("n") && rows.size == 1, oq)
    assert(rows.head.get("n").collect { case l: graft.model.Lit => l.lexForm }
      .contains(want.toString), oq)
  }

  test("cli: analyze recomputes characteristic sets; star COUNT goes static") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli4").toString
    assert(capture("create", dir, sample)._1 == 0)
    val (c, out) = capture("analyze", dir)
    assert(c == 0 && out.contains("characteristic sets"), out)
    // reopened store carries persisted stats (no recompute on open)
    val re = graft.store.StorePersist.open(spark, dir, cache = false)
    assert(re.charSetStats.exists(_.nonEmpty) && !re.charSetsDisabled)
    // and a star COUNT over it compiles to a LocalRelation-only (scan-free) plan
    val eng = new GraftEngine(re)
    val sol = eng.compiler.compile(graft.parser.SparqlParser.parse(
      """PREFIX geo: <http://www.w3.org/2003/01/geo/wgs84_pos#>
        |SELECT (COUNT(*) AS ?n) WHERE { ?s geo:lat ?la ; geo:long ?lo }"""
        .stripMargin).algebra)
    assert(sol.df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      sol.df.queryExecution.optimizedPlan.toString.take(1500))
  }

  test("cli: query --endpoint runs against a remote SPARQL endpoint") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.SparqlResults
    // SPARQL-protocol stub backed by a local engine (GraphSpec precedent):
    // decodes the POSTed query, evaluates, answers sparql-results+json
    val remoteEng = new GraftEngine(
      graft.store.RelToRdf.cached(spark, "/root/testdata/sf0.001"))
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val form = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val query = java.net.URLDecoder.decode(form.stripPrefix("query="), "UTF-8")
        val df = remoteEng.query(query)
        val body =
          if (df.columns.sameElements(Array("ask")))
            SparqlResults.booleanJson(df.collect()(0).getBoolean(0))
          else SparqlResults.toJson(df)
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
      val q = "SELECT ?nm WHERE { ?r <urn:p:region:r_name> ?nm } ORDER BY ?nm"
      val (c, out) = capture("query", "--endpoint", url, q)
      assert(c == 0, out)
      val lines = out.trim.split("\n")
      assert(lines.head == "?nm", out.take(200))
      assert(lines.length == 6, s"want header + 5 regions:\n$out")
      // --format json renders remote bindings through the same codecs
      val (cj, oj) = capture("query", "--endpoint", url, q, "--format", "json")
      assert(cj == 0 && oj.contains("\"bindings\""), oj.take(200))
      // ASK over the endpoint
      val (ca, oa) = capture("query", "--endpoint", url,
        "ASK { ?r <urn:p:region:r_name> ?nm }")
      assert(ca == 0 && oa.contains("true"), oa)
      // endpoint errors surface as exit 1, not a stack trace
      val (ce, _) = capture("query", "--endpoint",
        "http://127.0.0.1:1/sparql", q)
      assert(ce == 1)
    } finally server.stop(0)
  }
}
