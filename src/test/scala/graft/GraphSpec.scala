package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algebra.Algebra
import graft.engine.{HttpServiceClient, LocalServiceClient}
import graft.graph.GraphView
import graft.model._
import graft.store.RelToRdf

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  val sf = "/root/testdata/sf0.001"
  lazy val store = RelToRdf.cached(spark, sf)
  lazy val gv = new GraphView(store)

  test("out/in traversal over fk edges") {
    // customer 42's nation, then that nation's customers
    val nations = gv.out(Iri("urn:t:customer:42"), Some(Iri("urn:fk:nation")))
      .collect().map(_.getLong(0))
    assert(nations.length == 1)
    val nationIri = store.scheme.decodeIri(nations.head)
    val custs = gv.in(Iri(nationIri), Some(Iri("urn:fk:nation"))).count()
    assert(custs >= 1) // at least customer 42 (suppliers share the predicate)
  }

  test("entity graph components cover the fk edge endpoints") {
    import org.apache.spark.sql.functions.{col, shiftright}
    // object tag < 0x10 → IRI or blank node: the entity edges. fk quads:
    // nation->region 25, customer->nation 150, supplier->nation 10,
    // orders->customer 1500, lineitem->{orders,part,supplier} 18000
    val ee = store.quads.filter(shiftright(col("o"), TermId.PAYLOAD_BITS).bitwiseAND(0xFF) < 0x10)
    assert(ee.count() == 25 + 150 + 10 + 1500 + 18000)
    val ends = ee.select(col("s")).union(ee.select(col("o"))).distinct()
      .collect().map(_.getLong(0)).toSet
    val cc = gv.connectedComponents().collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.map(_._1).toSet == ends && cc.length == ends.size)
    // each label is its component's min member, and labels itself
    val byLabel = cc.groupMap(_._2)(_._1)
    byLabel.foreach { case (l, ms) => assert(ms.min == l) }
    // everything reachable through the fk web collapses into few components
    assert(byLabel.size < 50)
  }

  test("rdf:List walk returns members in order via pointer doubling") {
    import graft.sources.RdfIO
    val ttl =
      """@prefix ex: <http://example.org/> .
        |ex:menu ex:items ( ex:a ex:b ex:c ex:d ex:e ) .
        |ex:empty ex:items ( ) .
        |""".stripMargin
    val listStore = RdfIO.loadTurtle(spark, ttl)
    val lgv = new GraphView(listStore)
    // heads of the two lists (the empty list's "head" is rdf:nil itself)
    val heads = lgv.out(Iri("http://example.org/menu"),
      Some(Iri("http://example.org/items"))).collect().map(_.getLong(0))
    assert(heads.length == 1)
    val members = lgv.rdfListFrom(heads.head)
    assert(members.length == 5)
    val lexById = listStore.terms
      .filter(org.apache.spark.sql.functions.col("id").isin(members: _*))
      .select("id", "lex").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val names = members.map(id =>
      lexById.getOrElse(id, listStore.scheme.decodeIri(id)))
    assert(names == Seq("a", "b", "c", "d", "e").map("http://example.org/" + _))
    // empty list: ex:empty's object is rdf:nil → empty walk
    val emptyHead = lgv.out(Iri("http://example.org/empty"),
      Some(Iri("http://example.org/items"))).collect().map(_.getLong(0))
    assert(emptyHead.length == 1 && lgv.rdfListFrom(emptyHead.head).isEmpty)
    // a term that heads no list walks to nothing
    assert(lgv.rdfList(Iri("http://example.org/menu")).isEmpty)
  }

  test("federated SERVICE between two local stores") {
    val eng = new GraftEngine(store,
      serviceClient = Some(new LocalServiceClient(Map("urn:svc:self" -> store))))
    val df = eng.query(
      """SELECT ?nm ?rn WHERE {
        |  ?n <urn:p:nation:n_name> ?nm .
        |  SERVICE <urn:svc:self> { ?n <urn:fk:region> ?r . ?r <urn:p:region:r_name> ?rn . }
        |}""".stripMargin)
    assert(df.count() == 25)
    val rows = df.collect().map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1)))
    assert(rows.forall { case (nm, rn) => nm.startsWith("NATION_") && rn.nonEmpty })
  }

  test("SERVICE with a VARIABLE endpoint: per-endpoint dispatch, ?ep bound, SILENT per call") {
    import graft.sources.RdfIO
    // the endpoint IRIs come from the DATA (the federation-catalog shape the
    // constant-endpoint restriction can't express; the reference refuses
    // variable endpoints outright, QueryPlanner.swift:819)
    val local = RdfIO.loadTurtle(spark,
      """@prefix ex: <http://ex.org/> .
        |ex:a ex:endpoint <urn:svc:a> .
        |ex:b ex:endpoint <urn:svc:b> .
        |ex:c ex:endpoint "not-an-iri" .""".stripMargin)
    val remoteA = RdfIO.loadTurtle(spark,
      "@prefix ex: <http://ex.org/> . ex:x ex:val 1 . ex:y ex:val 2 .")
    val remoteB = RdfIO.loadTurtle(spark,
      "@prefix ex: <http://ex.org/> . ex:z ex:val 3 .")
    val eng = new GraftEngine(local, serviceClient = Some(new LocalServiceClient(
      Map("urn:svc:a" -> remoteA, "urn:svc:b" -> remoteB))))
    // SILENT: each IRI endpoint dispatches its own call with ?ep bound to the
    // caller; the literal "endpoint" behaves like a failed call — the row
    // survives with the service vars unbound
    val rows = eng.query(
      """SELECT ?w ?ep ?v WHERE { ?w <http://ex.org/endpoint> ?ep .
        |  SERVICE SILENT ?ep { ?s <http://ex.org/val> ?v } }""".stripMargin)
      .collect().map { r =>
        def lex(i: Int) = if (r.isNullAt(i)) null else r.getStruct(i).getString(1)
        (lex(0), lex(1), lex(2))
      }.toSet
    assert(rows == Set(
      ("http://ex.org/a", "urn:svc:a", "1"),
      ("http://ex.org/a", "urn:svc:a", "2"),
      ("http://ex.org/b", "urn:svc:b", "3"),
      ("http://ex.org/c", "not-an-iri", null)),
      s"got $rows")
    // non-SILENT: a non-IRI endpoint value is refused, not skipped
    intercept[UnsupportedOperationException] {
      eng.query(
        """SELECT ?ep ?v WHERE { ?w <http://ex.org/endpoint> ?ep .
          |  SERVICE ?ep { ?s <http://ex.org/val> ?v } }""".stripMargin).collect()
    }
    // non-SILENT over IRI-only bindings: plain per-endpoint dispatch
    val strict = eng.query(
      """SELECT ?ep ?v WHERE { <http://ex.org/a> <http://ex.org/endpoint> ?ep .
        |  SERVICE ?ep { ?s <http://ex.org/val> ?v } }""".stripMargin)
      .collect().map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1))).toSet
    assert(strict == Set(("urn:svc:a", "1"), ("urn:svc:a", "2")))
    // a SERVICE var the sibling does NOT bind stays a declared refusal
    intercept[UnsupportedOperationException] {
      eng.query(
        """SELECT ?v WHERE { ?w <http://ex.org/endpoint> ?x .
          |  SERVICE ?unbound { ?s <http://ex.org/val> ?v } }""".stripMargin).collect()
    }
  }

  test("SERVICE ?ep dispatch boundary: direct-join siblings dispatch, nested shapes are declared refusals") {
    import graft.sources.RdfIO
    val local = RdfIO.loadTurtle(spark,
      """@prefix ex: <http://ex.org/> .
        |ex:a ex:endpoint <urn:svc:a> .""".stripMargin)
    val remoteA = RdfIO.loadTurtle(spark,
      "@prefix ex: <http://ex.org/> . ex:x ex:val 1 . ex:y ex:val 2 .")
    val eng = new GraftEngine(local, serviceClient = Some(new LocalServiceClient(
      Map("urn:svc:a" -> remoteA))))
    // POSITIVE: the binder may sit under the REQUIRED side of an OPTIONAL as
    // long as that group is the service's DIRECT join sibling — in-scope
    // vars of a LeftJoin include the required side's, so dispatch applies
    val opt = eng.query(
      """SELECT ?w ?ep ?v WHERE {
        |  { ?w <http://ex.org/endpoint> ?ep
        |    OPTIONAL { ?w <http://ex.org/absent> ?z } }
        |  SERVICE ?ep { ?s <http://ex.org/val> ?v } }""".stripMargin)
      .collect().map(r => (r.getStruct(1).getString(1), r.getStruct(2).getString(1))).toSet
    assert(opt == Set(("urn:svc:a", "1"), ("urn:svc:a", "2")), s"got $opt")
    // NEGATIVE (declared boundary): SERVICE ?ep NESTED INSIDE an OPTIONAL —
    // the binder is outside the LeftJoin's right operand, so no AJoin sibling
    // exists and the compile refuses with the documented message
    val e1 = intercept[UnsupportedOperationException] {
      eng.query(
        """SELECT ?v WHERE { ?w <http://ex.org/endpoint> ?ep
          |  OPTIONAL { SERVICE ?ep { ?s <http://ex.org/val> ?v } } }""".stripMargin)
        .collect()
    }
    assert(e1.getMessage.contains("sibling join pattern binds"), e1.getMessage)
    // NEGATIVE (declared boundary): the binder one JOIN LEVEL UP — the
    // service's direct sibling does not bind ?ep, and dispatch does not look
    // through nested group boundaries
    val e2 = intercept[UnsupportedOperationException] {
      eng.query(
        """SELECT ?v WHERE {
          |  { ?s2 <http://ex.org/other> ?y .
          |    SERVICE ?ep { ?s <http://ex.org/val> ?v } }
          |  ?w <http://ex.org/endpoint> ?ep }""".stripMargin)
        .collect()
    }
    assert(e2.getMessage.contains("sibling join pattern binds"), e2.getMessage)
  }

  test("HTTP SERVICE client federates against a SPARQL-protocol endpoint") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.SparqlResults
    // a real SPARQL-protocol endpoint stub: decodes the POSTed query, runs it
    // on a local engine, answers in the format the Accept header asks for —
    // `mode` forces each negotiated content type in turn
    val remoteEng = new GraftEngine(store)
    @volatile var mode = "json"
    @volatile var lastAccept = ""
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val form = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        lastAccept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        val query = java.net.URLDecoder.decode(form.stripPrefix("query="), "UTF-8")
        val df = remoteEng.query(query)
        val (ct, body) = mode match {
          case "json" => ("application/sparql-results+json", SparqlResults.toJson(df))
          case "xml" => ("application/sparql-results+xml;charset=utf-8", SparqlResults.toXml(df))
          case _ => ("text/tab-separated-values", SparqlResults.toTsv(df))
        }
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", ct)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
      val eng = new GraftEngine(store, serviceClient = Some(new HttpServiceClient()))
      for (m <- Seq("json", "xml", "tsv")) {
        mode = m
        val df = eng.query(
          s"""SELECT ?nm ?rn WHERE {
             |  ?n <urn:p:nation:n_name> ?nm .
             |  SERVICE <$endpoint> { ?n <urn:fk:region> ?r . ?r <urn:p:region:r_name> ?rn . }
             |}""".stripMargin)
        assert(df.count() == 25, s"mode=$m")
        assert(lastAccept.contains("application/sparql-results+json"),
          "client must send a content-negotiation Accept header")
        val got = df.collect().map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1)))
        assert(got.forall { case (nm, rn) => nm.startsWith("NATION_") && rn.nonEmpty },
          s"mode=$m: ${got.take(3).mkString(",")}")
      }
    } finally server.stop(0)
  }
}
