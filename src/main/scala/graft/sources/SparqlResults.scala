package graft.sources

import org.apache.spark.sql.DataFrame
import graft.engine.TV
import graft.model._

/** SPARQL result-format serializers/parsers (the API edge of §2.10):
  * SPARQL 1.1 Results JSON / XML / TSV. Driver-side by design — the reference does
  * the same (kasei/kineo `Sources/Kineo/SPARQL/{SPARQLJSON,SPARQLXML,SPARQLTSV}
  * .swift`); these feed SERVICE ingest and test harness comparison, never cluster
  * work. Input DataFrames are the materialized form produced by
  * [[graft.engine.Results.materialize]] (one term-struct column per variable).
  */
object SparqlResults {

  private def rows(df: DataFrame): (Seq[String], Seq[Seq[Term]]) = {
    val vars = df.columns.toSeq
    val data = df.collect().toSeq.map(r =>
      vars.indices.map(i => if (r.isNullAt(i)) null else TV.toTerm(r.getStruct(i))))
    (vars, data)
  }

  // ---- JSON ------------------------------------------------------------------

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def termJson(t: Term): String = t match {
    case Iri(v) => s"""{"type":"uri","value":"${jsonEscape(v)}"}"""
    case BNode(l) => s"""{"type":"bnode","value":"${jsonEscape(l)}"}"""
    case Lit(l, dt, lang) =>
      if (lang != null && lang.nonEmpty)
        s"""{"type":"literal","value":"${jsonEscape(l)}","xml:lang":"$lang"}"""
      else if (dt == Term.xsdString)
        s"""{"type":"literal","value":"${jsonEscape(l)}"}"""
      else
        s"""{"type":"literal","value":"${jsonEscape(l)}","datatype":"${jsonEscape(dt)}"}"""
  }

  def toJson(df: DataFrame): String = {
    val (vars, data) = rows(df)
    val head = vars.map(v => s""""${jsonEscape(v)}"""").mkString("[", ",", "]")
    val bindings = data.map { r =>
      vars.zip(r).collect { case (v, t) if t != null =>
        s""""${jsonEscape(v)}":${termJson(t)}"""
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"head":{"vars":$head},"results":{"bindings":$bindings}}"""
  }

  def booleanJson(b: Boolean): String = s"""{"head":{},"boolean":$b}"""

  /** Parse SPARQL-results JSON → (vars, rows of var→Term). Uses the JDK-adjacent
    * Jackson shipped with Spark. */
  def parseJson(json: String): (Seq[String], Seq[Map[String, Term]]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val vars = Option(root.get("head")).flatMap(h => Option(h.get("vars"))).map { vs =>
      (0 until vs.size).map(i => vs.get(i).asText)
    }.getOrElse(Seq.empty)
    val bindings = Option(root.get("results")).flatMap(r => Option(r.get("bindings")))
      .map { bs =>
        (0 until bs.size).map { i =>
          val b = bs.get(i)
          val it = b.fieldNames()
          var m = Map.empty[String, Term]
          while (it.hasNext) {
            val v = it.next()
            val node = b.get(v)
            val value = node.get("value").asText
            val t = node.get("type").asText match {
              case "uri" => Iri(value)
              case "bnode" => BNode(value)
              case _ =>
                val lang = Option(node.get("xml:lang")).map(_.asText)
                val dt = Option(node.get("datatype")).map(_.asText)
                lang.map(Term.langStr(value, _))
                  .getOrElse(Lit(value, dt.getOrElse(Term.xsdString), null))
            }
            m += v -> t
          }
          m
        }
      }.getOrElse(Seq.empty)
    (vars, bindings)
  }

  // ---- XML -------------------------------------------------------------------

  private def xmlEscape(s: String): String = s.flatMap {
    case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
    case '"' => "&quot;"; case c => c.toString
  }

  def toXml(df: DataFrame): String = {
    val (vars, data) = rows(df)
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0"?>""")
    sb.append("""<sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""")
    vars.foreach(v => sb.append(s"""<variable name="${xmlEscape(v)}"/>"""))
    sb.append("</head><results>")
    data.foreach { r =>
      sb.append("<result>")
      vars.zip(r).foreach { case (v, t) =>
        if (t != null) {
          sb.append(s"""<binding name="${xmlEscape(v)}">""")
          t match {
            case Iri(iri) => sb.append(s"<uri>${xmlEscape(iri)}</uri>")
            case BNode(l) => sb.append(s"<bnode>${xmlEscape(l)}</bnode>")
            case Lit(l, dt, lang) =>
              if (lang != null && lang.nonEmpty)
                sb.append(s"""<literal xml:lang="$lang">${xmlEscape(l)}</literal>""")
              else if (dt == Term.xsdString)
                sb.append(s"<literal>${xmlEscape(l)}</literal>")
              else
                sb.append(s"""<literal datatype="${xmlEscape(dt)}">${xmlEscape(l)}</literal>""")
          }
          sb.append("</binding>")
        }
      }
      sb.append("</result>")
    }
    sb.append("</results></sparql>")
    sb.toString
  }

  /** Parse SPARQL-results XML via the JDK DOM parser. */
  def parseXml(xml: String): (Seq[String], Seq[Map[String, Term]]) = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    val doc = f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    def elems(parent: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Element] = {
      val nl = parent.getChildNodes
      (0 until nl.getLength).map(nl.item).collect {
        case e: org.w3c.dom.Element if e.getLocalName == name => e
      }
    }
    val root = doc.getDocumentElement
    val vars = elems(root, "head").flatMap(h => elems(h, "variable")).map(_.getAttribute("name"))
    val results = elems(root, "results").flatMap(rs => elems(rs, "result")).map { r =>
      elems(r, "binding").map { b =>
        val v = b.getAttribute("name")
        val t: Term = (elems(b, "uri"), elems(b, "bnode"), elems(b, "literal")) match {
          case (Seq(u), _, _) => Iri(u.getTextContent)
          case (_, Seq(bn), _) => BNode(bn.getTextContent)
          case (_, _, Seq(l)) =>
            val lang = l.getAttributeNS("http://www.w3.org/XML/1998/namespace", "lang")
            val dt = l.getAttribute("datatype")
            if (lang != null && lang.nonEmpty) Term.langStr(l.getTextContent, lang)
            else Lit(l.getTextContent, if (dt.isEmpty) Term.xsdString else dt, null)
          case _ => null
        }
        v -> t
      }.toMap
    }
    (vars, results)
  }

  // ---- CSV (SPARQL 1.1 results CSV: plain lexical forms, RFC 4180 quoting;
  //      lossy by design — type/lang information is not representable) -------

  def toCsv(df: DataFrame): String = {
    val (vars, data) = rows(df)
    def cell(t: Term): String = {
      val s = t match {
        case null => ""
        case BNode(l) => s"_:$l"
        case other => other.lex
      }
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val sb = new StringBuilder
    sb.append(vars.mkString(",")).append("\r\n")
    data.foreach(r => sb.append(r.map(cell).mkString(",")).append("\r\n"))
    sb.toString
  }

  // ---- TSV -------------------------------------------------------------------

  def toTsv(df: DataFrame): String = {
    val (vars, data) = rows(df)
    val sb = new StringBuilder
    sb.append(vars.map("?" + _).mkString("\t")).append('\n')
    data.foreach { r =>
      sb.append(r.map {
        case null => ""
        case t => RdfIO.serializeTerm(t)
      }.mkString("\t")).append('\n')
    }
    sb.toString
  }

  def parseTsv(tsv: String): (Seq[String], Seq[Map[String, Term]]) = {
    val lines = tsv.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty) return (Seq.empty, Seq.empty)
    val vars = lines.head.split('\t').map(_.stripPrefix("?")).toSeq
    val data = lines.tail.toSeq.map { line =>
      vars.zip(line.split('\t').toSeq.padTo(vars.size, "")).collect {
        case (v, cell) if cell.nonEmpty =>
          v -> RdfIO.parseLine(s"<urn:x:s> <urn:x:p> $cell .").get._3
      }.toMap
    }
    (vars, data)
  }
}
