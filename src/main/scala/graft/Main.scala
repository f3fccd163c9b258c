package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Iri, IriScheme, TermRow}
import graft.sources.{RdfIO, SparqlResults, TurtleWriter}
import graft.store.{RdfStore, StoreEncoder, StorePersist}

/** Command-line entry point — parity with the reference's CLI surface
  * (kasei/kineo `Sources/kineo-cli/main.swift:28`: REPL, Query, Explain,
  * Graphs, Create, Load, Dump) over the persisted parquet store layout:
  *
  * {{{
  *   graft.Main create  <storeDir> [file.ttl|.nt|.nq ...]
  *   graft.Main load    <storeDir> <file> [graphIri]
  *   graft.Main query   <storeDir> <query.rq | sparql text> [--format tsv|csv|json|xml]
  *   graft.Main query   --endpoint <url> <query> [--format ...]   (kineo-client parity)
  *   graft.Main explain <storeDir> <query> [--analyze]
  *   graft.Main graphs  <storeDir>
  *   graft.Main dump    <storeDir> <out> [--format nquads|turtle]
  *   graft.Main repl    <storeDir>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { Console.err.println(usage); sys.exit(2) }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // repeated REPL queries reuse generated classes
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(args, spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  val usage: String =
    """usage: graft <command> <storeDir> ...
      |  create  <storeDir> [file ...]        create a persisted store (optionally loading files)
      |  load    <storeDir> <file> [graphIri] parse Turtle/N-Triples/N-Quads and append
      |  query   <storeDir> <query.rq|sparql> [--format tsv|csv|json|xml]
      |  query   --endpoint <url> <query.rq|sparql> [--format ...]   remote SPARQL endpoint
      |  explain <storeDir> <query.rq|sparql> [--analyze]
      |  graphs  <storeDir>                   list graph IRIs
      |  analyze <storeDir>                   (re)compute characteristic-set statistics
      |  dump    <storeDir> <outFile>         [--format nquads|turtle]
      |  repl    <storeDir>                   interactive: empty line runs the buffer
      |""".stripMargin

  /** Dispatch; returns a process exit code (testable without forking a JVM). */
  def run(args: Array[String], spark: SparkSession): Int = try {
    args(0) match {
      case "create" =>
        val dir = args(1)
        val (store, batches) = args.toSeq.drop(2).foldLeft(
            (StoreEncoder.empty(spark, IriScheme.default), Seq.empty[DataFrame])) {
          case ((st, bs), f) =>
            val (appended, batch) = appendFile(st, f, None)
            (appended, bs :+ batch)
        }
        StorePersist.save(store, dir)
        batches.foreach(_.unpersist())
        println(s"created $dir (${store.quadCount} quads)")
        0
      case "load" =>
        val (dir, file) = (args(1).stripSuffix("/"), args(2))
        val graph = args.lift(3)
        val base = if (exists(dir)) StorePersist.open(spark, dir, cache = false)
          else StoreEncoder.empty(spark, IriScheme.default)
        // the appended store reads `dir`: replace() writes a sibling and swaps
        val (store, batch) = appendFile(base, file, graph)
        StorePersist.replace(store, dir)
        batch.unpersist()
        println(s"loaded $file into $dir (${store.quadCount} quads total)")
        0
      case "query" => flag(args, "--endpoint") match {
        case Some(url) => // remote endpoint-client mode (kineo-client parity)
          val q = positional(args, 1).headOption.getOrElse(
            throw new ArrayIndexOutOfBoundsException(1))
          remoteQuery(spark, url, queryText(q), flag(args, "--format").getOrElse("tsv"))
          0
        case None =>
          val eng = new GraftEngine(openOrTestData(spark, args(1)))
          val df = eng.query(queryText(args(2)))
          print(render(df, flag(args, "--format").getOrElse("tsv")))
          0
      }
      case "explain" =>
        val eng = new GraftEngine(openOrTestData(spark, args(1)))
        val q = queryText(args(2))
        println(if (args.contains("--analyze")) eng.explainAnalyze(q) else eng.explain(q))
        0
      case "graphs" =>
        val store = openOrTestData(spark, args(1))
        graphIris(store).foreach(println)
        0
      case "analyze" =>
        // the explicit ANALYZE verb: query COMPILE never computes statistics
        // as a side effect (job-free-compile invariant) — this is where an
        // operator re-derives them, e.g. after many appends drifted the data
        val dir = args(1).stripSuffix("/")
        val store = StorePersist.open(spark, dir, cache = false)
          .copy(charSetStats = None, charSetsDisabled = false).analyze()
        // replace() persists the freshly computed stats (or the explicit
        // "charSets":null disabled marker when the store exceeds the cap)
        StorePersist.replace(store, dir)
        println(store.charSetStats match {
          case Some(cs) => s"analyzed $dir: ${cs.size} characteristic sets"
          case None => s"analyzed $dir: over set cap — statistic disabled"
        })
        0
      case "dump" =>
        val store = StorePersist.open(spark, args(1), cache = false)
        val out = args(2)
        flag(args, "--format").getOrElse("nquads") match {
          case "turtle" => TurtleWriter.dumpTurtle(store, out)
          case _ => RdfIO.dumpNQuads(store, out)
        }
        println(s"dumped ${args(1)} -> $out")
        0
      case "repl" =>
        repl(new GraftEngine(openOrTestData(spark, args(1))))
        0
      case other =>
        Console.err.println(s"unknown command: $other\n$usage")
        2
    }
  } catch {
    case e: ArrayIndexOutOfBoundsException =>
      Console.err.println(s"missing argument\n$usage"); 2
    case e: Exception =>
      Console.err.println(s"error: ${e.getMessage}"); 1
  }

  private def exists(dir: String): Boolean =
    new java.io.File(dir, "meta.json").exists()

  /** `query`/`explain`/`graphs` also accept a raw testdata dir (parquet
    * tables) for convenience — matches how the library maps it. */
  private def openOrTestData(spark: SparkSession, dir: String): RdfStore =
    if (exists(dir)) StorePersist.open(spark, dir, cache = false)
    else if (new java.io.File(dir, "lineitem.parquet").exists())
      graft.store.RelToRdf.cached(spark, dir)
    else throw new IllegalArgumentException(s"no store at $dir (need meta.json)")

  /** The appended store and its cached batch quads (see
    * [[StoreEncoder.appendBatch]]). */
  private def appendFile(store: RdfStore, file: String,
      graph: Option[String]): (RdfStore, DataFrame) = {
    val spark = store.spark
    val g = Iri(graph.getOrElse("urn:g:default"))
    val structQuads: DataFrame =
      if (file.endsWith(".ttl")) {
        import org.apache.spark.sql.types._
        import scala.jdk.CollectionConverters._
        val doc = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(file)), "UTF-8")
        val rows = RdfIO.parseTurtle(doc).map { case (s, p, o) =>
          org.apache.spark.sql.Row(TermRow.toRow(s), TermRow.toRow(p),
            TermRow.toRow(o), TermRow.toRow(g)) }
        val schema = StructType(Seq("s", "p", "o", "g").map(n =>
          StructField(n, TermRow.schema, nullable = true)))
        // a local relation: the encoder's batch collect starts no job
        spark.createDataFrame(rows.asJava, schema)
      } else RdfIO.readNTriples(spark, file, defaultGraph = g.value)
    StoreEncoder.appendBatch(store, structQuads)
  }

  private def queryText(arg: String): String = {
    val f = new java.io.File(arg)
    if (f.isFile) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    else arg
  }

  private def flag(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Positional arguments from `from`, with `--flag value` pairs removed. */
  private def positional(args: Array[String], from: Int): Seq[String] = {
    val flags = Set("--format", "--endpoint")
    val out = scala.collection.mutable.Buffer[String]()
    var i = from
    while (i < args.length) {
      if (flags(args(i))) i += 2
      else { out += args(i); i += 1 }
    }
    out.toSeq
  }

  /** Endpoint-client mode (reference `kineo-client`,
    * Sources/kineo-client/main.swift): POST the query to a remote SPARQL
    * endpoint and render the parsed results with the same formats as local
    * queries — the remote bindings become a one-partition term-struct frame so
    * [[render]]/[[graft.sources.SparqlResults]] apply unchanged. */
  private def remoteQuery(spark: SparkSession, url: String, query: String,
      format: String): Unit = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val (vars, rows, ask) = new graft.engine.HttpServiceClient()
      .executeQueryText(url, query)
    ask match {
      case Some(b) => println(s"ask\n$b")
      case None =>
        val schema = StructType(vars.map(v =>
          StructField(v, TermRow.schema, nullable = true)))
        val data = rows.map(r => org.apache.spark.sql.Row.fromSeq(
          vars.map(v => r.get(v).map(TermRow.toRow).orNull)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(data, 1), schema)
        print(render(df, format))
    }
  }

  private def graphIris(store: RdfStore): Seq[String] = {
    import org.apache.spark.sql.functions._
    val ids = store.graphIds
    store.terms.filter(col("id").isin(ids: _*))
      .select("lex").collect().map(_.getString(0)).sorted.toSeq
  }

  /** Render a query result. SELECT frames carry term structs (serialized via
    * the SPARQL results formats); ASK/CONSTRUCT/DESCRIBE are plain columns. */
  private def render(df: DataFrame, format: String): String = {
    val structured = df.schema.fields.forall(_.dataType.typeName == "struct")
    if (structured && df.schema.nonEmpty) format match {
      case "json" => SparqlResults.toJson(df) + "\n"
      case "xml" => SparqlResults.toXml(df) + "\n"
      case "csv" => SparqlResults.toCsv(df)
      case _ => SparqlResults.toTsv(df) + "\n"
    } else {
      // ask (boolean) / construct / describe (string columns)
      val header = df.columns.mkString("\t")
      val body = df.collect().map(_.toSeq.map {
        case null => ""
        case v => v.toString
      }.mkString("\t")).mkString("\n")
      header + "\n" + body + "\n"
    }
  }

  private def repl(eng: GraftEngine): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val buf = new StringBuilder
    print("graft> "); Console.flush()
    var line = in.readLine()
    while (line != null && line.trim != ":quit") {
      if (line.trim.isEmpty && buf.nonEmpty) {
        try print(render(eng.query(buf.toString), "tsv"))
        catch { case e: Exception => Console.err.println(s"error: ${e.getMessage}") }
        buf.clear()
        print("graft> "); Console.flush()
      } else if (line.trim.nonEmpty) buf.append(line).append('\n')
      line = in.readLine()
    }
    if (buf.nonEmpty)
      try print(render(eng.query(buf.toString), "tsv"))
      catch { case e: Exception => Console.err.println(s"error: ${e.getMessage}") }
  }
}
