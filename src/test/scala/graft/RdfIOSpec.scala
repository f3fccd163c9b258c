package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.{RdfIO, SparqlResults, TurtleWriter}
import graft.engine._

class RdfIOSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark

  val nt =
    """# a comment
      |<http://ex.org/s1> <http://ex.org/name> "alice" .
      |<http://ex.org/s1> <http://ex.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
      |<http://ex.org/s2> <http://ex.org/name> "bob\njr" .
      |_:b1 <http://ex.org/name> "blank"@en .
      |<http://ex.org/s1> <http://ex.org/knows> <http://ex.org/s2> .
      |""".stripMargin

  test("n-triples round trip: parse, encode, query, serialize") {
    val f = java.io.File.createTempFile("graft", ".nt")
    java.nio.file.Files.writeString(f.toPath, nt)
    val store = RdfIO.loadNTriples(spark, f.getAbsolutePath)
    assert(store.quads.count() == 5)
    // query it
    val eng = new GraftEngine(store)
    val df = eng.query(
      """SELECT ?n WHERE { ?s <http://ex.org/name> ?n . FILTER(!isBlank(?s)) }""")
    val names = df.collect().map(r => r.getStruct(0).getString(1)).toSet
    assert(names == Set("alice", "bob\njr"))
    // serialize back
    val out = "/tmp/graft_ntout"
    RdfIO.dumpNQuads(store, out)
    val lines = spark.read.textFile(out).collect()
    assert(lines.length == 5)
    assert(lines.forall(_.endsWith(" .")))
    val reparsed = lines.flatMap(RdfIO.parseLine)
    assert(reparsed.count(_._3 == Term.langStr("blank", "en")) == 1)
  }

  test("turtle subset parses the reference example shapes") {
    val ttl =
      """@prefix geo: <http://www.w3.org/2003/01/geo/wgs84_pos#> .
        |@prefix gml: <http://www.opengis.net/gml/> .
        |<http://dbpedia.org/resource/Acton,_California>
        |    a gml:_Feature ;
        |    geo:lat  "34.47277777777778"^^<http://www.w3.org/2001/XMLSchema#float> ;
        |    geo:long "-118.1836111111111"^^<http://www.w3.org/2001/XMLSchema#float> ;
        |    <http://ex.org/point> "34.47 -118.18"@en .
        |<http://ex.org/other> geo:lat 12.5 ; geo:long -3 .
        |""".stripMargin
    val triples = RdfIO.parseTurtle(ttl)
    assert(triples.size == 6)
    val store = RdfIO.loadTurtle(spark, ttl)
    val eng = new GraftEngine(store)
    // the reference README geo query shape (README.md:30-43)
    val df = eng.query(
      """PREFIX geo: <http://www.w3.org/2003/01/geo/wgs84_pos#>
        |SELECT ?s WHERE {
        |  ?s geo:lat ?lat ; geo:long ?long ;
        |  FILTER(?long < -110)
        |  FILTER(?lat >= 30.0)
        |  FILTER(?lat <= 35.0)
        |} ORDER BY ?s""".stripMargin)
    val got = df.collect().map(_.getStruct(0).getString(1)).toSeq
    assert(got == Seq("http://dbpedia.org/resource/Acton,_California"))
  }

  test("sparql results JSON/XML/TSV round-trip") {
    val sf = "/root/testdata/sf0.001"
    val eng = GraftEngine.forTestData(spark, sf)
    val df = eng.query(
      """SELECT ?nm ?bal WHERE {
        |  ?c <urn:p:customer:c_name> ?nm ; <urn:p:customer:c_acctbal> ?bal .
        |} ORDER BY ?nm LIMIT 5""".stripMargin)
    val json = SparqlResults.toJson(df)
    val (jv, jr) = SparqlResults.parseJson(json)
    assert(jv == Seq("nm", "bal") && jr.size == 5)
    assert(jr.head("nm").lex.startsWith("Customer#"))

    val xml = SparqlResults.toXml(df)
    val (xv, xr) = SparqlResults.parseXml(xml)
    assert(xv == Seq("nm", "bal") && xr.size == 5)
    assert(xr.map(_("nm")) == jr.map(_("nm")))

    val tsv = SparqlResults.toTsv(df)
    val (tv, tr) = SparqlResults.parseTsv(tsv)
    assert(tv == Seq("nm", "bal") && tr.size == 5)
    assert(tr.map(_("nm")) == jr.map(_("nm")))
    // money columns map to xsd:decimal (TPC-H DECIMAL(x,2) semantics)
    assert(tr.head("bal").asInstanceOf[Lit].datatype == Term.xsdDecimal)

    // CSV (SPARQL 1.1 results CSV): plain lexical forms, CRLF lines; a value
    // containing the separator round-trips through RFC 4180 quoting
    val csv = SparqlResults.toCsv(df)
    val lines = csv.split("\r\n").toSeq
    assert(lines.head == "nm,bal")
    assert(lines.size == 6)
    assert(lines(1).startsWith("Customer#"))
    val q = eng.query(
      """SELECT ?j WHERE { ?c <urn:p:customer:c_name> ?nm .
        |  BIND(CONCAT(?nm, ",", "x\"y") AS ?j) } LIMIT 1""".stripMargin)
    val qcsv = SparqlResults.toCsv(q)
    val cell = qcsv.split("\r\n")(1)
    assert(cell.startsWith("\"") && cell.contains("\"\"y"), cell)
  }

  test("rdf/xml: fixture parses isomorphic to its n-triples twin") {
    import graft.sources.RdfXml
    val xml =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/" xml:base="http://base.org/doc">
        |  <ex:Person rdf:about="http://ex.org/s1" ex:nick="Al">
        |    <ex:name xml:lang="en">alice</ex:name>
        |    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">30</ex:age>
        |    <ex:knows rdf:resource="http://ex.org/s2"/>
        |    <ex:friend>
        |      <rdf:Description rdf:about="http://ex.org/s3">
        |        <ex:name>carol</ex:name>
        |      </rdf:Description>
        |    </ex:friend>
        |    <ex:addr rdf:parseType="Resource">
        |      <ex:city>Springfield</ex:city>
        |    </ex:addr>
        |    <ex:tags rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://ex.org/t1"/>
        |      <rdf:Description rdf:about="http://ex.org/t2"/>
        |    </ex:tags>
        |    <ex:anon rdf:nodeID="z9"/>
        |  </ex:Person>
        |  <rdf:Description rdf:ID="frag">
        |    <ex:rel rdf:resource="relpath"/>
        |  </rdf:Description>
        |  <rdf:Seq rdf:about="http://ex.org/seq">
        |    <rdf:li>one</rdf:li>
        |    <rdf:li>two</rdf:li>
        |  </rdf:Seq>
        |</rdf:RDF>""".stripMargin
    val ntTwin =
      """<http://ex.org/s1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/Person> .
        |<http://ex.org/s1> <http://ex.org/nick> "Al" .
        |<http://ex.org/s1> <http://ex.org/name> "alice"@en .
        |<http://ex.org/s1> <http://ex.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<http://ex.org/s1> <http://ex.org/knows> <http://ex.org/s2> .
        |<http://ex.org/s1> <http://ex.org/friend> <http://ex.org/s3> .
        |<http://ex.org/s3> <http://ex.org/name> "carol" .
        |<http://ex.org/s1> <http://ex.org/addr> _:a1 .
        |_:a1 <http://ex.org/city> "Springfield" .
        |<http://ex.org/s1> <http://ex.org/tags> _:c1 .
        |_:c1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> <http://ex.org/t1> .
        |_:c1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:c2 .
        |_:c2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> <http://ex.org/t2> .
        |_:c2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> <http://www.w3.org/1999/02/22-rdf-syntax-ns#nil> .
        |<http://ex.org/s1> <http://ex.org/anon> _:z9 .
        |<http://base.org/doc#frag> <http://ex.org/rel> <http://base.org/relpath> .
        |<http://ex.org/seq> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/1999/02/22-rdf-syntax-ns#Seq> .
        |<http://ex.org/seq> <http://www.w3.org/1999/02/22-rdf-syntax-ns#_1> "one" .
        |<http://ex.org/seq> <http://www.w3.org/1999/02/22-rdf-syntax-ns#_2> "two" .
        |""".stripMargin
    val got = RdfXml.parse(xml)
    val expected = ntTwin.split('\n').filter(_.nonEmpty).toSeq
      .flatMap(l => RdfIO.parseLine(l)).map { case (s, p, o, _) => (s, p, o) }
    assert(graft.testkit.Isomorphism.isomorphic(got, expected),
      s"RDF/XML parse not isomorphic to twin:\n${got.mkString("\n")}")
    // loadable into a store and queryable
    val store = RdfXml.load(spark, xml)
    val eng = new GraftEngine(store)
    val n = eng.query(
      "SELECT ?p ?o WHERE { <http://ex.org/s1> ?p ?o }").count()
    assert(n == 9) // type, nick, name, age, knows, friend, addr, tags, anon
  }

  test("rdf/xml: parseType Literal captures XML content") {
    import graft.sources.RdfXml
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/">
        |  <rdf:Description rdf:about="http://ex.org/s">
        |    <ex:html rdf:parseType="Literal"><b>bold</b> text</ex:html>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val ts = RdfXml.parse(xml)
    assert(ts.size == 1)
    val Lit(lex, dt, _) = ts.head._3: @unchecked
    assert(dt == "http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral")
    assert(lex.contains("<b>bold</b> text"))
  }

  test("turtle: collections, @base resolution, leading-dot decimals") {
    val ttl =
      """@base <http://base.org/dir/> .
        |@prefix ex: <http://ex.org/> .
        |<item> ex:vals ( 1 2.5 .5 "x" ) ; ex:w .75 .
        |<#frag> ex:rel <other> .
        |""".stripMargin
    val ts = RdfIO.parseTurtle(ttl)
    // 1 vals triple + 4 cells × 2 + 1 w + 1 rel = 11
    assert(ts.size == 11, ts.mkString("\n"))
    val bySubj = ts.groupBy(_._1)
    assert(bySubj.contains(Iri("http://base.org/dir/item")))
    assert(bySubj.contains(Iri("http://base.org/dir/#frag")))
    assert(ts.exists(_._3 == Iri("http://base.org/dir/other")))
    val first = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
    val firsts = ts.filter(_._2 == Iri(first)).map(_._3)
    assert(firsts.contains(Term.int(1)))
    assert(firsts.contains(Lit("2.5", Term.xsdDecimal, null)))
    assert(firsts.contains(Lit(".5", Term.xsdDecimal, null)))
    assert(firsts.contains(Term.str("x")))
    assert(ts.exists(t => t._2 == Iri("http://ex.org/w") &&
      t._3 == Lit(".75", Term.xsdDecimal, null)))
  }

  test("turtle: parses the reference geo.ttl example in full") {
    ReferenceGeo.assumePresent("geo.ttl")
    val doc = new String(java.nio.file.Files.readAllBytes(
      ReferenceGeo.dir.resolve("geo.ttl")), "UTF-8")
    val ts = RdfIO.parseTurtle(doc)
    // 764 features × (point, type, lat, long)
    assert(ts.size == 3056, s"got ${ts.size}")
    assert(ts.count(_._2 ==
      Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")) == 764)
  }

  test("turtle writer: geo.ttl round-trips isomorphically (parse → serialize → reparse)") {
    ReferenceGeo.assumePresent("geo.ttl")
    val doc = new String(java.nio.file.Files.readAllBytes(
      ReferenceGeo.dir.resolve("geo.ttl")), "UTF-8")
    val ts = RdfIO.parseTurtle(doc)
    val out = TurtleWriter.serialize(ts)
    val ts2 = RdfIO.parseTurtle(out)
    // explicit _:label bnodes survive serialization unchanged, so plain set
    // equality IS graph isomorphism here
    assert(ts2.toSet == ts.toSet,
      s"round-trip diverged: ${(ts.toSet -- ts2.toSet).take(3)} / ${(ts2.toSet -- ts.toSet).take(3)}")
    assert(ts2.size == ts.size)
    // prefix compression actually happened (geo.ttl uses the wgs84 vocab)
    assert(out.contains("@prefix geo: <http://www.w3.org/2003/01/geo/wgs84_pos#> ."), out.take(200))
  }

  test("turtle writer: literals, lang tags, datatypes, bnodes, rdf:type round-trip") {
    val ts: Seq[(Term, Term, Term)] = Seq(
      (Iri("http://ex.org/a"), Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
        Iri("http://ex.org/Thing")),
      (Iri("http://ex.org/a"), Iri("http://ex.org/name"), Term.str("Alice \"quoted\"\nline")),
      (Iri("http://ex.org/a"), Iri("http://ex.org/label"), Term.langStr("chat", "fr")),
      (Iri("http://ex.org/a"), Iri("http://ex.org/n"), Term.int(42)),
      (Iri("http://ex.org/a"), Iri("http://ex.org/d"), Lit("3.14", Term.xsdDecimal, null)),
      (Iri("http://ex.org/a"), Iri("http://ex.org/e"), Lit("1.0E6", Term.xsdDouble, null)),
      (Iri("http://ex.org/a"), Iri("http://ex.org/b"), Term.bool(true)),
      (Iri("http://ex.org/a"), Iri("http://ex.org/t"),
        Lit("2024-01-01T00:00:00Z", Term.xsdDateTime, null)),
      (BNode("b1"), Iri("http://ex.org/p"), BNode("b2")),
      // IRI with a local part no PNAME can express stays a full IRIREF
      (Iri("http://ex.org/weird/path?q=1"), Iri("http://ex.org/p"), Term.str("x")))
    val out = TurtleWriter.serialize(ts)
    val back = RdfIO.parseTurtle(out)
    assert(back.toSet == ts.toSet,
      s"diff: ${(ts.toSet -- back.toSet)} / ${(back.toSet -- ts.toSet)}\n$out")
    // rdf:type rendered as `a`, typed literal carries its datatype
    assert(out.contains(" a "), out)
    assert(out.contains("^^xsd:dateTime") || out.contains("^^<http://www.w3.org/2001/XMLSchema#dateTime>"), out)
  }

  test("fuzz: Turtle and N-Quads round-trip random term graphs (escaping corners)") {
    import graft.model.{Term, Lit, Iri, BNode}
    val rnd = new scala.util.Random(20260815L)
    // the string corner cases a serializer gets wrong: quotes, backslashes,
    // LF/CR/TAB (must be escaped in both formats), raw control chars (legal
    // unescaped in Turtle/N-Triples strings), non-ASCII BMP + astral pairs,
    // and the empty string
    val weird = IndexedSeq("plain", "with \"quotes\"", "back\\slash",
      "tab\there", "new\nline", "cr\rreturn", "uni \u00e9 \u4e2d",
      "emoji \ud83d\ude00", "ctrl \u0001\u001f", "", "trailing\\",
      "\"", "\\n not an escape")
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
    val iris = IndexedSeq("http://f.ex/a", "http://f.ex/p#x",
      "urn:x:\u00fcber", "http://f.ex/path/deep?q=1")
    def lit(): Term = rnd.nextInt(5) match {
      case 0 => Term.str(pick(weird))
      case 1 => Lit(pick(weird), "http://f.ex/customDt", null)
      case 2 => Term.langStr(pick(weird), if (rnd.nextBoolean()) "en" else "en-us")
      // non-canonical numeric lexicals: the writer's bare-token shortcut must
      // preserve the exact lexical form through the numeric token path
      case 3 => Lit(pick(IndexedSeq("42", "042", "+7", "-0")), Term.xsdInteger, null)
      case 4 => Lit(pick(IndexedSeq("1.5", "-0.25", "2.0E3", "1e5")),
        if (rnd.nextBoolean()) Term.xsdDecimal else Term.xsdDouble, null)
    }
    def node(): Term = rnd.nextInt(4) match {
      case 0 => Iri(pick(iris))
      case 1 | 2 => BNode("b" + rnd.nextInt(4))
      case 3 => Iri(pick(iris))
    }
    for (round <- 0 until 200) {
      val ts = Seq.fill(1 + rnd.nextInt(8))(
        (node(), Iri(pick(iris)), if (rnd.nextBoolean()) lit() else node()))
      // Turtle: serialize → reparse → bnode-isomorphic (labels may be
      // regrouped by the subject/predicate grouping, content must survive)
      val ttl = sources.TurtleWriter.serialize(ts)
      val back = RdfIO.parseTurtle(ttl)
      assert(testkit.Isomorphism.isomorphic(ts.distinct, back.distinct),
        s"round $round turtle diverged\n$ttl\n in: ${ts.mkString("; ")}\n out: ${back.mkString("; ")}")
      // N-Quads: line-level exact round-trip (labels preserved verbatim)
      ts.foreach { case (s, p, o) =>
        val line = s"${RdfIO.serializeTerm(s)} ${RdfIO.serializeTerm(p)} ${RdfIO.serializeTerm(o)} ."
        val parsed = RdfIO.parseLine(line)
        assert(parsed.contains((s, p, o, None)),
          s"round $round nquads diverged: $line -> $parsed")
      }
    }
  }

  test("fuzz: RDF/XML serializer round-trips against its own parser") {
    import graft.model.{Term, Lit, Iri, BNode}
    import graft.sources.RdfXml
    val rnd = new scala.util.Random(20260816L)
    // XML 1.0 forbids C0 control chars (except TAB/LF/CR) outright — those
    // throw, asserted below. Everything XML CAN carry must survive: markup
    // chars, quotes, CR/TAB/LF (numeric char refs defeat attribute-value
    // and line-end normalization), unicode incl. astral pairs, the empty
    // string, lang tags, custom datatypes.
    val strs = IndexedSeq("plain", "with \"quotes\"", "mark<up> & amp",
      "tab\there", "new\nline", "cr\rreturn", "uni \u00e9 \u4e2d",
      "emoji \ud83d\ude00", "", "a]]>b", "'single'")
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
    // predicate IRIs with valid NCName locals (an RDF/XML requirement)
    val preds = IndexedSeq("http://f.ex/name", "http://f.ex/v#knows",
      "urn:x:\u00fcber", "http://f.ex/deep/path.prop",
      RdfXml.RDF_NS + "type")
    val iris = IndexedSeq("http://f.ex/a", "http://f.ex/p#x",
      "http://f.ex/path/deep?q=1", "urn:y:z")
    def lit(): Term = rnd.nextInt(4) match {
      case 0 => Term.str(pick(strs))
      case 1 => Lit(pick(strs), "http://f.ex/customDt", null)
      case 2 => Term.langStr(pick(strs), if (rnd.nextBoolean()) "en" else "en-us")
      case 3 => Lit(pick(IndexedSeq("42", "1.5", "2.0E3")), Term.xsdInteger, null)
    }
    def node(): Term = rnd.nextInt(3) match {
      case 0 => Iri(pick(iris))
      case 1 => BNode("b" + rnd.nextInt(4))
      case 2 => Iri(pick(iris))
    }
    for (round <- 0 until 120) {
      val ts = Seq.fill(1 + rnd.nextInt(8))(
        (node(), Iri(pick(preds)), if (rnd.nextBoolean()) lit() else node()))
      val xml = RdfXml.serialize(ts)
      val back = RdfXml.parse(xml)
      assert(testkit.Isomorphism.isomorphic(ts.distinct, back.distinct),
        s"round $round rdf/xml diverged\n$xml\n in: ${ts.mkString("; ")}\n" +
          s" out: ${back.mkString("; ")}")
    }
    // the format limitation is DECLARED, not silent: a predicate IRI with no
    // NCName local part must throw
    intercept[IllegalArgumentException] {
      RdfXml.serialize(Seq((Iri("http://f.ex/a"), Iri("http://f.ex/p/"),
        Term.str("x"))))
    }
    // ... and so must an XML-1.0-unrepresentable control character, instead
    // of serializing a document the parser then rejects
    intercept[IllegalArgumentException] {
      RdfXml.serialize(Seq((Iri("http://f.ex/a"), Iri("http://f.ex/name"),
        Term.str("ctrl \u0001 char"))))
    }
  }
}
