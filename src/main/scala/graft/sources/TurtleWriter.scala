package graft.sources

import org.apache.spark.sql.DataFrame
import graft.model._

/** Turtle serializer: triples → a compact, prefix-compressed Turtle document.
  *
  * Parity with the reference's serializer registry (kasei/kineo
  * `Sources/Kineo/RDF/RDF.swift:58-68` maps text/turtle to TurtleSerializer;
  * line-oriented N-Triples/N-Quads output lives in [[RdfIO.toNQuadLines]]).
  * Like the reference, Turtle is treated as a non-bulk, human-readable format:
  * serialization is driver-side over an in-memory triple list — bulk dumps at
  * scale use the distributed N-Quads writer instead.
  *
  * Output shape: @prefix header, triples grouped by subject (`;` predicate
  * lists, `,` object lists), `a` for rdf:type, bare numeric/boolean literals
  * where the lexical form is canonical Turtle, explicit `_:label` blank nodes
  * (no `[]` folding — labels survive a round-trip unchanged).
  */
object TurtleWriter {

  private val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** Common vocabularies offered to [[serialize]] when the caller passes no
    * prefix map: only namespaces actually used appear in the output header. */
  val wellKnown: Map[String, String] = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "geo" -> "http://www.w3.org/2003/01/geo/wgs84_pos#",
    "dcterms" -> "http://purl.org/dc/terms/")

  /** PN_LOCAL subset we compress to (conservative: a valid local name that
    * every Turtle parser accepts — anything else stays a full IRIREF). */
  private def validLocal(s: String): Boolean =
    s.isEmpty || (s.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.') &&
      !s.startsWith(".") && !s.endsWith(".") && !s.head.isDigit)

  private def escape(l: String): String = l.flatMap {
    case '\\' => "\\\\"; case '"' => "\\\""
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c => c.toString
  }

  private val intLex = "[+-]?\\d+".r
  private val decLex = "[+-]?\\d*\\.\\d+".r
  private val dblLex = "[+-]?(?:\\d+\\.?\\d*|\\.\\d+)[eE][+-]?\\d+".r

  /** Serialize triples to one Turtle document. `prefixes` maps prefix → ns
    * IRI; only prefixes that shorten at least one term are declared. */
  def serialize(triples: Seq[(Term, Term, Term)],
      prefixes: Map[String, String] = wellKnown): String = {
    // longest-namespace-first so nested namespaces compress correctly
    val nss = prefixes.toSeq.sortBy(-_._2.length)
    val used = scala.collection.mutable.LinkedHashMap[String, String]()

    def pname(iri: String): Option[String] = nss.collectFirst {
      case (pfx, ns) if iri.startsWith(ns) && validLocal(iri.stripPrefix(ns)) =>
        used(pfx) = ns
        s"$pfx:${iri.stripPrefix(ns)}"
    }

    def term(t: Term, pos: String): String = t match {
      case Iri(v) if pos == "p" && v == rdfType => "a"
      case Iri(v) => pname(v).getOrElse(s"<$v>")
      case BNode(l) => s"_:$l"
      case Lit(lex, dt, lang) =>
        if (lang != null && lang.nonEmpty) s""""${escape(lex)}"@$lang"""
        else dt match {
          case Term.xsdString => s""""${escape(lex)}""""
          case Term.xsdInteger if intLex.matches(lex) => lex
          case Term.xsdDecimal if decLex.matches(lex) => lex
          case Term.xsdDouble if dblLex.matches(lex) => lex
          case Term.xsdBoolean if lex == "true" || lex == "false" => lex
          case _ => s""""${escape(lex)}"^^${pname(dt).getOrElse(s"<$dt>")}"""
        }
    }

    // group by subject (first-appearance order), then by predicate
    val bySubject = scala.collection.mutable.LinkedHashMap[Term,
      scala.collection.mutable.LinkedHashMap[Term, scala.collection.mutable.ListBuffer[Term]]]()
    for ((s, p, o) <- triples) {
      val preds = bySubject.getOrElseUpdate(s,
        scala.collection.mutable.LinkedHashMap())
      preds.getOrElseUpdate(p, scala.collection.mutable.ListBuffer()) += o
    }

    val body = new StringBuilder
    for ((s, preds) <- bySubject) {
      val sStr = term(s, "s")
      val pLines = preds.toSeq.map { case (p, os) =>
        s"${term(p, "p")} ${os.map(term(_, "o")).mkString(", ")}"
      }
      body.append(sStr).append(' ')
      body.append(pLines.mkString(" ;\n" + " " * (sStr.length + 1)))
      body.append(" .\n")
    }

    val header = used.map { case (pfx, ns) => s"@prefix $pfx: <$ns> ." }
      .mkString("", "\n", if (used.nonEmpty) "\n\n" else "")
    header + body.toString
  }

  /** Serialize a term-struct triple frame (columns s/p/o as [[TermRow]]
    * structs — the [[graft.engine.Results.constructTerms]] output shape).
    * Driver-side collect: Turtle is the pretty format for bounded CONSTRUCT
    * results; bulk output goes through the distributed N-Quads writer. */
  def fromTermFrame(df: DataFrame, prefixes: Map[String, String] = wellKnown,
      maxRows: Int = 1000000): String = {
    val rows = df.limit(maxRows).collect()
    serialize(rows.toSeq.map(r => (TermRow.fromRow(r.getStruct(0)),
      TermRow.fromRow(r.getStruct(1)), TermRow.fromRow(r.getStruct(2)))),
      prefixes)
  }

  /** Dump a store's default-graph triples as Turtle to a local file. */
  def dumpTurtle(store: graft.store.RdfStore, path: String,
      prefixes: Map[String, String] = wellKnown): Unit = {
    import org.apache.spark.sql.functions.col
    val c = new graft.engine.Compiler(store, graft.engine.ExprEval.Ctx(0L))
    val sol = graft.engine.Sol.ofIds(
      store.quads.select(col("s").as("ts"), col("p").as("tp"), col("o").as("tobj")),
      Seq("ts", "tp", "tobj"))
    val m = graft.engine.Results.materialize(c, sol)
    val doc = fromTermFrame(m.select(col("ts").as("s"), col("tp").as("p"),
      col("tobj").as("o")), prefixes)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(doc) finally w.close()
  }
}
