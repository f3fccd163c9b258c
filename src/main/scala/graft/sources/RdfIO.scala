package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.store.{RdfStore, StoreEncoder}

/** RDF file ingestion and serialization.
  *
  *  - N-Triples / N-Quads: line-oriented → parsed distributed via mapPartitions
  *    over `spark.read.text` (each line independent; scales linearly — the format
  *    of choice at 100 TB). Reference parsers: kasei/kineo `Sources/Kineo/RDF/
  *    NTriples.swift`, registry `RDF/RDF.swift:58-68`.
  *  - Turtle subset: driver-side recursive parser for small files (prefixes, `;`
  *    `,` shorthand, typed/lang literals, blank nodes) — mirrors how the
  *    reference treats Turtle as a non-bulk format (`RDF/Turtle.swift`).
  *  - N-Triples/N-Quads serializer: quads → lines (distributed).
  */
object RdfIO {

  // ---- N-Triples / N-Quads line parser (pure function: usable in executors) ---

  /** Parse one N-Triples/N-Quads line → (s, p, o, g?) or None for blank/comment. */
  def parseLine(line: String): Option[(Term, Term, Term, Option[Term])] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) return None
    val p = new NtCursor(t)
    val s = p.term()
    val pr = p.term()
    val o = p.term()
    p.ws()
    val g = if (p.peek != '.') Some(p.term()) else None
    Some((s, pr, o, g))
  }

  private final class NtCursor(s: String) {
    var i = 0
    def peek: Char = if (i < s.length) s(i) else '.'
    def ws(): Unit = { while (i < s.length && s(i).isWhitespace) i += 1 }
    def term(): Term = {
      ws()
      s(i) match {
        case '<' =>
          val e = s.indexOf('>', i)
          val iri = s.substring(i + 1, e); i = e + 1
          Iri(iri)
        case '_' =>
          i += 2
          val st = i
          while (i < s.length && !s(i).isWhitespace) i += 1
          BNode(s.substring(st, i))
        case '"' =>
          i += 1
          val sb = new StringBuilder
          while (s(i) != '"') {
            if (s(i) == '\\') {
              s(i + 1) match {
                case 'n' => sb.append('\n'); case 't' => sb.append('\t')
                case 'r' => sb.append('\r'); case '\\' => sb.append('\\')
                case '"' => sb.append('"')
                case 'u' =>
                  sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 4
                case 'U' =>
                  sb.appendAll(Character.toChars(Integer.parseInt(s.substring(i + 2, i + 10), 16))); i += 8
                case o => sb.append(o)
              }
              i += 2
            } else { sb.append(s(i)); i += 1 }
          }
          i += 1
          if (i < s.length && s(i) == '@') {
            i += 1
            val st = i
            while (i < s.length && (s(i).isLetterOrDigit || s(i) == '-')) i += 1
            Term.langStr(sb.toString, s.substring(st, i))
          } else if (i + 1 < s.length && s(i) == '^' && s(i + 1) == '^') {
            i += 2
            val e = s.indexOf('>', i)
            val dt = s.substring(i + 1, e); i = e + 1
            Lit(sb.toString, dt, null)
          } else Term.str(sb.toString)
        case c => throw new IllegalArgumentException(s"bad N-Triples term at: ${s.substring(i)}")
      }
    }
  }

  private val quadStructSchema = StructType(Seq("s", "p", "o", "g").map(n =>
    StructField(n, TermRow.schema, nullable = true)))

  /** Read N-Triples (default graph) or N-Quads into a struct-space quad frame. */
  def readNTriples(spark: SparkSession, path: String,
      defaultGraph: String = "urn:g:default"): DataFrame = {
    val rdd = spark.read.textFile(path).rdd.flatMap { line =>
      parseLine(line).map { case (s, p, o, g) =>
        Row(TermRow.toRow(s), TermRow.toRow(p), TermRow.toRow(o),
          TermRow.toRow(g.getOrElse(Iri(defaultGraph))))
      }
    }
    spark.createDataFrame(rdd, quadStructSchema)
  }

  /** Read N-Triples/N-Quads and dictionary-encode into a store. */
  def loadNTriples(spark: SparkSession, path: String,
      scheme: IriScheme = IriScheme.default): RdfStore =
    StoreEncoder.encode(readNTriples(spark, path), scheme)

  // ---- serialization ---------------------------------------------------------

  def serializeTerm(t: Term): String = t match {
    case Iri(v) => s"<$v>"
    case BNode(l) => s"_:$l"
    case Lit(l, dt, lang) =>
      val esc = l.flatMap {
        case '\\' => "\\\\"; case '"' => "\\\""
        case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c => c.toString
      }
      if (lang != null && lang.nonEmpty) s""""$esc"@$lang"""
      else if (dt == Term.xsdString) s""""$esc""""
      else s""""$esc"^^<$dt>"""
  }

  /** Serialize a struct-space quad frame to N-Quads lines (distributed). */
  def toNQuadLines(structQuads: DataFrame): org.apache.spark.sql.Dataset[String] = {
    val spark = structQuads.sparkSession
    import spark.implicits._
    structQuads.map { r =>
      val s = serializeTerm(TermRow.fromRow(r.getStruct(0)))
      val p = serializeTerm(TermRow.fromRow(r.getStruct(1)))
      val o = serializeTerm(TermRow.fromRow(r.getStruct(2)))
      val g = serializeTerm(TermRow.fromRow(r.getStruct(3)))
      s"$s $p $o $g ."
    }
  }

  /** Dump an encoded store back to N-Quads (late-materializing the dictionary). */
  def dumpNQuads(store: RdfStore, path: String): Unit = {
    val c = new graft.engine.Compiler(store, graft.engine.ExprEval.Ctx(0L))
    val sol = graft.engine.Sol.ofIds(store.quads.select(col("s").as("qs"), col("p").as("qp"),
      col("o").as("qo"), col("g").as("qg")), Seq("qs", "qp", "qo", "qg"))
    val m = graft.engine.Results.materialize(c, sol)
    toNQuadLines(m.select(col("qs"), col("qp"), col("qo"), col("qg")))
      .write.mode("overwrite").text(path)
  }

  // ---- Turtle subset (driver-side, small files) ------------------------------

  /** Parse a Turtle document: @prefix/@base (with relative IRI resolution),
    * `;` `,` shorthand, `a`, typed + lang literals, numbers (incl. leading-dot
    * decimals), booleans, blank-node property lists, collections `( … )`.
    * Reference grammar: kasei/kineo `Sources/Kineo/RDF/Turtle.swift`.
    */
  def parseTurtle(doc: String, base: String = ""): Seq[(Term, Term, Term)] =
    new TurtleParser(doc, base).all()

  private final class TurtleParser(input: String, base0: String) {
    private var i = 0
    private var prefixes = Map.empty[String, String]
    private var base: String = base0
    private var bn = 0
    private val out = scala.collection.mutable.ListBuffer[(Term, Term, Term)]()
    private val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

    def all(): Seq[(Term, Term, Term)] = {
      ws()
      while (i < input.length) { statement(); ws() }
      out.toSeq
    }

    private def ws(): Unit = {
      var go = true
      while (go) {
        go = false
        while (i < input.length && input(i).isWhitespace) { i += 1; go = true }
        if (i < input.length && input(i) == '#') {
          while (i < input.length && input(i) != '\n') i += 1
          go = true
        }
      }
    }

    private def statement(): Unit = {
      ws()
      if (input.startsWith("@prefix", i) || input.startsWith("PREFIX", i)) {
        i += (if (input(i) == '@') 7 else 6)
        ws()
        val ce = input.indexOf(':', i)
        val pfx = input.substring(i, ce).trim
        i = ce + 1
        ws()
        val iri = iriRef()
        prefixes += pfx -> iri
        ws()
        if (i < input.length && input(i) == '.') i += 1
      } else if (input.startsWith("@base", i) || input.startsWith("BASE", i)) {
        i += 5
        ws()
        base = RdfXml.resolve(base, rawIriRef())
        ws()
        if (i < input.length && input(i) == '.') i += 1
      } else {
        val s = node()
        predicateObjectList(s)
        ws()
        if (i < input.length && input(i) == '.') i += 1
      }
    }

    private def predicateObjectList(s: Term): Unit = {
      var go = true
      while (go) {
        ws()
        val p = verb()
        var more = true
        while (more) {
          val o = node()
          out += ((s, p, o))
          ws()
          more = i < input.length && input(i) == ',' && { i += 1; true }
        }
        ws()
        go = i < input.length && input(i) == ';' && { i += 1; ws()
          i < input.length && input(i) != '.' && input(i) != ']' }
      }
    }

    private def verb(): Term = {
      ws()
      if (input(i) == 'a' && (i + 1 >= input.length || input(i + 1).isWhitespace)) {
        i += 1
        Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
      } else iriTerm()
    }

    private def rawIriRef(): String = {
      val e = input.indexOf('>', i)
      val iri = input.substring(i + 1, e)
      i = e + 1
      iri
    }

    /** IRIREF with base resolution (relative references resolve against @base). */
    private def iriRef(): String = RdfXml.resolve(base, rawIriRef())

    private def iriTerm(): Term = {
      ws()
      if (input(i) == '<') Iri(iriRef())
      else {
        val st = i
        while (i < input.length && input(i) != ':') i += 1
        val pfx = input.substring(st, i)
        i += 1
        val ls = i
        while (i < input.length && (input(i).isLetterOrDigit || input(i) == '_' ||
          input(i) == '-' || (input(i) == '.' && i + 1 < input.length &&
            input(i + 1).isLetterOrDigit))) i += 1
        Iri(prefixes(pfx) + input.substring(ls, i))
      }
    }

    private def node(): Term = {
      ws()
      input(i) match {
        case '<' => Iri(iriRef())
        case '"' | '\'' => literal()
        case '[' =>
          i += 1
          bn += 1
          val b = BNode(s"tb$bn")
          ws()
          if (input(i) != ']') predicateObjectList(b)
          ws()
          i += 1 // ']'
          b
        case '(' => // collection → rdf:first/rest/nil chain
          i += 1
          val items = scala.collection.mutable.ListBuffer[Term]()
          ws()
          while (i < input.length && input(i) != ')') { items += node(); ws() }
          i += 1 // ')'
          items.foldRight(Iri(rdfNs + "nil"): Term) { (item, tail) =>
            bn += 1
            val cell = BNode(s"tb$bn")
            out += ((cell, Iri(rdfNs + "first"), item))
            out += ((cell, Iri(rdfNs + "rest"), tail))
            cell
          }
        case '_' =>
          i += 2
          val st = i
          while (i < input.length && (input(i).isLetterOrDigit || input(i) == '_')) i += 1
          BNode(input.substring(st, i))
        case c if c.isDigit || c == '+' || c == '-' ||
            (c == '.' && i + 1 < input.length && input(i + 1).isDigit) =>
          val st = i
          if (input(i) == '+' || input(i) == '-') i += 1
          var dec = false; var exp = false
          while (i < input.length && (input(i).isDigit ||
            (input(i) == '.' && i + 1 < input.length && input(i + 1).isDigit) ||
            input(i) == 'e' || input(i) == 'E' ||
            ((input(i) == '+' || input(i) == '-') && (input(i - 1) == 'e' || input(i - 1) == 'E')))) {
            if (input(i) == '.') dec = true
            if (input(i) == 'e' || input(i) == 'E') exp = true
            i += 1
          }
          val lex = input.substring(st, i)
          Lit(lex, if (exp) Term.xsdDouble else if (dec) Term.xsdDecimal else Term.xsdInteger, null)
        case 't' if input.startsWith("true", i) => i += 4; Term.bool(true)
        case 'f' if input.startsWith("false", i) => i += 5; Term.bool(false)
        case _ => iriTerm()
      }
    }

    private def literal(): Term = {
      val q = input(i)
      val long = input.startsWith(s"$q$q$q", i)
      val delim = if (long) s"$q$q$q" else q.toString
      i += delim.length
      val sb = new StringBuilder
      while (!input.startsWith(delim, i)) {
        if (input(i) == '\\') {
          input(i + 1) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case '\\' => sb.append('\\')
            case '"' => sb.append('"'); case '\'' => sb.append('\'')
            case 'b' => sb.append('\b'); case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(input.substring(i + 2, i + 6), 16).toChar); i += 4
            case 'U' =>
              sb.appendAll(Character.toChars(Integer.parseInt(input.substring(i + 2, i + 10), 16))); i += 8
            case o => sb.append(o)
          }
          i += 2
        } else { sb.append(input(i)); i += 1 }
      }
      i += delim.length
      if (i < input.length && input(i) == '@') {
        i += 1
        val st = i
        while (i < input.length && (input(i).isLetterOrDigit || input(i) == '-')) i += 1
        Term.langStr(sb.toString, input.substring(st, i))
      } else if (input.startsWith("^^", i)) {
        i += 2
        Lit(sb.toString, iriTerm().asInstanceOf[Iri].value, null)
      } else Term.str(sb.toString)
    }
  }

  /** Load a Turtle document (driver-side parse, then distributed encode). */
  def loadTurtle(spark: SparkSession, doc: String, graph: String = "urn:g:default",
      scheme: IriScheme = IriScheme.default): RdfStore = {
    val g = Iri(graph)
    val rows = parseTurtle(doc).map { case (s, p, o) =>
      Row(TermRow.toRow(s), TermRow.toRow(p), TermRow.toRow(o), TermRow.toRow(g))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.size / 10000)),
      quadStructSchema)
    StoreEncoder.encode(df, scheme)
  }
}
