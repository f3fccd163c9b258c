package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.RdfIO
import graft.store._

/** The CLI write path (`create`, `load`) on generated N-Triples: the
  * manifest's metadata stays exact across appends, the path stays within a
  * fixed Spark job and task budget, and the bucket count follows the store's
  * size without changing any answer. Needs no data outside the test. */
class StoreWriteSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  private val ex = "http://example.org/"
  private val xsd = "http://www.w3.org/2001/XMLSchema#"

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ntFile(dir: String, name: String, lines: Seq[String]): String = {
    val f = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  /** N-Triples of subjects `from until to`: IRIs, integers, strings longer
    * than 7 bytes, language-tagged literals and decimals, one of which does
    * not fit the exact DECIMAL(38,18) companion. */
  private def subjects(from: Int, to: Int): Seq[String] = (from until to).flatMap { i =>
    val s = s"<${ex}s$i>"
    Seq(s"""$s <${ex}name> "subject number $i" .""",
      s"""$s <${ex}age> "${20 + i % 7}"^^<${xsd}integer> .""",
      s"""$s <${ex}label> "label $i"@en .""",
      s"""$s <${ex}knows> <${ex}s${(i + 1) % to}> .""",
      if (i == from) s"""$s <${ex}price> "123456789012345678901.5"^^<${xsd}decimal> ."""
      else s"""$s <${ex}price> "${i}.25"^^<${xsd}decimal> .""")
  }

  private def run(args: String*): Int = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(Main.run(args.toArray, spark))
  }

  /** Spark jobs started and tasks finished while `f` runs. */
  private def jobs[A](f: => A): (A, Int, Int) = {
    val (nj, nt) = (new java.util.concurrent.atomic.AtomicInteger(),
      new java.util.concurrent.atomic.AtomicInteger())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        nj.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        nt.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (a, nj.get, nt.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  private def meta(dir: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "meta.json"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def quadSet(path: String, graph: String): Set[Seq[Term]] =
    RdfIO.readNTriples(spark, path, defaultGraph = graph).collect()
      .map(r => (0 until 4).map(i => TermRow.fromRow(r.getStruct(i))).toSeq).toSet

  /** Star, GROUP BY, star COUNT, OPTIONAL and value-FILTER reads of the
    * [[subjects]] shape. */
  private val layoutQueries = Seq(
    s"SELECT ?s ?n ?a WHERE { ?s <${ex}name> ?n ; <${ex}age> ?a ; <${ex}label> ?l }",
    s"SELECT ?a (COUNT(?s) AS ?c) WHERE { ?s <${ex}age> ?a } GROUP BY ?a",
    s"SELECT (COUNT(*) AS ?c) WHERE { ?s <${ex}name> ?n ; <${ex}price> ?p }",
    s"SELECT ?s ?l WHERE { ?s <${ex}knows> ?o OPTIONAL { ?o <${ex}label> ?l } }",
    s"SELECT ?s ?p WHERE { ?s <${ex}price> ?p FILTER(?p > 10) } ORDER BY ?p")

  /** `graft.Main create` (no store at `dir` yet) or `load` of `file` into
    * `graph`, with the encoder's driver gate set to `driverQuads`; returns
    * the reopened store. */
  private def load(dir: String, file: String, graph: String, driverQuads: Int): RdfStore = {
    val create = !new java.io.File(dir, "meta.json").exists()
    val base = if (create) StoreEncoder.empty(spark, IriScheme.default)
      else StorePersist.open(spark, dir, cache = false)
    val (st, batch) = StoreEncoder.appendBatch(base,
      RdfIO.readNTriples(spark, file, defaultGraph = graph), driverQuads)
    if (create) StorePersist.save(st, dir) else StorePersist.replace(st, dir)
    batch.unpersist()
    StorePersist.open(spark, dir, cache = false)
  }

  /** A store with its ids replaced by terms: its quads (with the numeric
    * companions), dictionary terms, profiles by predicate, characteristic
    * sets as predicate → occurrences maps with their subject counts, graph
    * ids, s/p/g inline flag and dictionary size. Equal for two stores that
    * hold the same data, whatever ids each gave its terms. */
  private def decoded(st: RdfStore): Seq[Any] = {
    val dict = st.terms.collect()
      .map(r => r.getLong(0) -> TermRow.fromRow(Row.fromSeq(r.toSeq.tail))).toMap
    def term(id: Long): Term = dict.getOrElse(id, st.scheme.decodeInline(id))
    Seq(st.quads.select("s", "p", "o", "g", "onum", "odec").collect().map(r =>
        ((0 until 4).map(i => term(r.getLong(i))), r.get(4), r.get(5))).toSet,
      st.terms.collect().map(r => (term(r.getLong(0)), r.get(5))).toSet,
      st.predProfiles.map { case (p, pr) => term(p) -> pr },
      st.charSetStats.map(_.map(cs =>
        (cs.preds.map(term).zip(cs.occ).toMap, cs.subjects)).toSet),
      st.charSetsDisabled, st.knownGraphIds.map(_.map(term).toSet), st.spgAllInline,
      st.knownDict.map(_.terms))
  }

  /** The persisted statistics equal a from-scratch recompute. */
  private def assertExactStats(st: RdfStore): Unit = {
    val stats = RdfStore.computeStats(st.quads)
    assert(st.predProfiles == stats.profiles)
    assert(st.spgAllInline == stats.spgAllInline)
    assert(st.knownGraphIds.contains(stats.graphIds))
    assert(st.charSetStats.isDefined && !st.charSetsDisabled)
    assert(st.charSetStats == RdfStore.computeCharSets(st.quads))
    assert(st.knownDict.contains(RdfStore.computeDict(st.terms)))
  }

  test("write path: create + two loads keep the manifest metadata exact") {
    val work = tmpDir("graft_write")
    val dir = s"$work/store"
    val f0 = ntFile(work, "create.nt", subjects(0, 20))
    val f1 = ntFile(work, "load1.nt", subjects(20, 30))
    val named = s"${ex}g2"
    // a new predicate on an existing subject, an in-batch duplicate, and a
    // stored quad repeated with its graph spelled out (N-Quads)
    val f2 = ntFile(work, "load2.nt", Seq(
      s"""<${ex}s0> <${ex}nickname> "the very first subject" .""",
      s"""<${ex}s0> <${ex}nickname> "the very first subject" .""",
      s"""<${ex}s3> <${ex}label> "drei"@de .""",
      s"""<${ex}s1> <${ex}name> "subject number 1" <urn:g:default> ."""))
    assert(run("create", dir, f0) == 0)
    assert(run("load", dir, f1) == 0)
    assert(run("load", dir, f2, named) == 0)
    assert(!new java.io.File(dir + ".save-tmp").exists() &&
      !new java.io.File(dir + ".save-old").exists(), "the swap leaves no sibling")

    val st = StorePersist.open(spark, dir, cache = false)
    val stats = RdfStore.computeStats(st.quads)
    assert(st.knownGraphIds.contains(stats.graphIds))
    assert(stats.graphIds == st.quads.select("g").distinct().collect().map(_.getLong(0))
      .toSeq.sorted)
    assert(st.knownDict.contains(RdfStore.computeDict(st.terms)))
    assert(st.predProfiles == stats.profiles)
    assert(st.spgAllInline == stats.spgAllInline)
    assert(st.charSetStats.isDefined)
    assert(st.charSetStats == RdfStore.computeCharSets(st.quads))
    // the non-exact decimal keeps its predicate off the exact-decimal path
    assert(st.predProfiles(st.idOf(Iri(s"${ex}price")).get).decExact == false)

    // the dump is the set union of the inputs
    val dump = s"$work/dump"
    assert(run("dump", dir, dump) == 0)
    val want = quadSet(f0, "urn:g:default") ++ quadSet(f1, "urn:g:default") ++
      quadSet(f2, named)
    val got = quadSet(dump, "urn:g:unused")
    assert(got == want)
    assert(st.quadCount == want.size)

    // every dictionary id in the quads has exactly one terms row
    val ids = st.quads.select(explode(array("s", "p", "o", "g"))).distinct()
      .collect().map(_.getLong(0)).filter(id => TermId.isDictTag(TermId.tag(id))).toSet
    val termIds = st.terms.select("id").collect().map(_.getLong(0))
    assert(termIds.length == termIds.distinct.length, "duplicate terms rows")
    assert(ids.subsetOf(termIds.toSet))
  }

  test("job budget: create, load and a fresh compile stay lean") {
    val work = tmpDir("graft_jobs")
    val dir = s"$work/store"
    val f0 = ntFile(work, "create.nt", subjects(0, 40))
    val f1 = ntFile(work, "load.nt", subjects(40, 50))
    val (c0, createJobs, createTasks) = jobs(run("create", dir, f0))
    assert(c0 == 0)
    // create: the batch collect and two one-bucket table writes (no
    // dictionary or store probe against an empty store, no characteristic-set
    // pass)
    assert(createJobs <= 3, s"create ran $createJobs Spark jobs")
    // one-bucket store: tasks scale with the predicate directories, not with
    // 32 buckets
    assert(createTasks <= 60, s"create ran $createTasks Spark tasks")
    val (c1, loadJobs, loadTasks) = jobs(run("load", dir, f1))
    assert(c1 == 0)
    // load: the batch collect, the dictionary probe, the store probe and two
    // one-bucket table writes; statistics and characteristic sets follow the
    // batch
    assert(loadJobs <= 5, s"load ran $loadJobs Spark jobs")
    assert(loadTasks <= 80, s"load ran $loadTasks Spark tasks")

    // a freshly opened store answers graphIds / termsBroadcastable from its
    // manifest: compile runs at most one job per non-inline constant (idOf)
    val st = StorePersist.open(spark, dir, cache = false)
    val q = s"""SELECT ?s ?n WHERE { ?s <${ex}name> ?n ; <${ex}label> "label 3"@en }"""
    val eng = new GraftEngine(st)
    val alg = graft.engine.Rewriter.rewrite(graft.parser.SparqlParser.parse(q).algebra)
    val (_, compileJobs, _) = jobs(eng.compiler.compile(alg))
    assert(compileJobs <= 3, s"compile ran $compileJobs Spark jobs for 3 constants")
    info(s"Spark jobs: create $createJobs, load $loadJobs, compile $compileJobs; " +
      s"tasks: create $createTasks, load $loadTasks")
  }

  test("layout follows size: a small store is one bucket, 32 forced buckets answer alike") {
    assert(Seq(0L, 1L, 32768L, 32769L, 1030110L, 1L << 40).map(StorePersist.bucketsFor) ==
      Seq(1, 1, 1, 2, 32, 32))
    val work = tmpDir("graft_layout")
    val dir = s"$work/store"
    assert(run("create", dir, ntFile(work, "create.nt", subjects(0, 30))) == 0)
    val m = meta(dir)
    assert(m.contains("\"buckets\":1,") && m.contains("\"termsBuckets\":1,"), m)
    val pDirs = new java.io.File(s"$dir/quads").listFiles().filter(_.getName.startsWith("p="))
    assert(pDirs.length == 5)
    for (d <- pDirs) assert(parquetFiles(d.getPath) == 1, d.getName)
    assert(parquetFiles(s"$dir/terms") == 1)

    // the same store saved with the at-scale 32-bucket layout
    val dir32 = s"$work/store32"
    StorePersist.save(StorePersist.open(spark, dir, cache = false), dir32, buckets = 32)
    assert(meta(dir32).contains("\"buckets\":32,") &&
      meta(dir32).contains("\"termsBuckets\":32,"))
    val (st, st32) = (StorePersist.open(spark, dir, cache = false),
      StorePersist.open(spark, dir32, cache = false))
    assert(rows(st32.quads) == rows(st.quads))
    assert(rows(st32.terms) == rows(st.terms))
    for ((d, out) <- Seq(dir -> s"$work/dump", dir32 -> s"$work/dump32"))
      assert(run("dump", d, out) == 0)
    assert(quadSet(s"$work/dump32", "urn:g:unused") == quadSet(s"$work/dump", "urn:g:unused"))
    val (eng, eng32) = (new GraftEngine(st), new GraftEngine(st32))
    for (q <- layoutQueries) {
      val want = rows(eng.query(q))
      assert(want.nonEmpty, q)
      assert(rows(eng32.query(q)) == want, q)
    }
  }

  test("gate parity: driver and distributed appends give equal, exact stores") {
    val work = tmpDir("graft_gate")
    val solo = s"<${ex}solo>"
    val named = s"${ex}g2"
    val files = Seq(
      // `solo` is alone in the characteristic set {name}
      ntFile(work, "create.nt", subjects(0, 20) :+
        s"""$solo <${ex}name> "the only one with just a name" .""") -> "urn:g:default",
      // `solo` gains a predicate, leaves {name} and empties it; a new
      // predicate on an existing subject; new subjects
      ntFile(work, "load1.nt", subjects(20, 24) ++ Seq(
        s"""$solo <${ex}age> "41"^^<${xsd}integer> .""",
        s"""<${ex}s2> <${ex}nickname> "the second subject" .""",
        s"""<${ex}s5> <${ex}nickname> "the second subject" .""")) -> "urn:g:default",
      // a named graph, an in-batch duplicate, and a stored quad with its
      // graph spelled out (N-Quads)
      ntFile(work, "load2.nt", Seq(
        s"""<${ex}s3> <${ex}label> "drei"@de .""",
        s"""<${ex}s3> <${ex}label> "drei"@de .""",
        s"""<${ex}s2> <${ex}nickname> "zwei" .""",
        s"""<${ex}s1> <${ex}name> "subject number 1" <urn:g:default> .""")) -> named,
      // nothing but stored quads
      ntFile(work, "load3.nt", subjects(20, 24)) -> "urn:g:default")
    val (driver, distributed) = (s"$work/driver", s"$work/distributed")
    val nameOnly = (st: RdfStore) => st.charSetStats.exists(_.exists(cs =>
      cs.preds == Seq(st.idOf(Iri(s"${ex}name")).get)))
    for (((f, graph), i) <- files.zipWithIndex) {
      val a = load(driver, f, graph, RdfStore.DriverBatchQuads)
      val b = load(distributed, f, graph, 0)
      assert(decoded(a) == decoded(b), s"after ${new java.io.File(f).getName}")
      assertExactStats(a)
      assertExactStats(b)
      if (i == 0) assert(nameOnly(a))
      if (i == 1) assert(!nameOnly(a), "solo's old set is emptied and dropped")
    }

    // a manifest written before distinct counts and characteristic sets:
    // the touched profiles and the sets are recomputed, and the store equals
    // the same load onto the complete manifest
    val stripped = s"$work/stripped"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(driver),
      new java.io.File(stripped))
    val m = java.nio.file.Paths.get(stripped, "meta.json")
    java.nio.file.Files.writeString(m, java.nio.file.Files.readString(m).split("\n")
      .filterNot(_.startsWith("\"charSets\":")).mkString("\n")
      .replaceAll(",\"distS\":\\d+,\"distO\":\\d+", ""))
    val old = StorePersist.open(spark, stripped, cache = false)
    assert(old.charSetStats.isEmpty && !old.charSetsDisabled)
    assert(old.predProfiles.values.forall(_.distS == 0))
    // touches every predicate, so every profile is recomputed
    val f4 = ntFile(work, "load4.nt", subjects(24, 26) :+
      s"""<${ex}s7> <${ex}nickname> "seven" .""")
    val fallback = load(stripped, f4, "urn:g:default", RdfStore.DriverBatchQuads)
    assertExactStats(fallback)
    assert(decoded(fallback) == decoded(load(driver, f4, "urn:g:default",
      RdfStore.DriverBatchQuads)))
  }

  test("growth across a bucket boundary: 1 -> 2 buckets, answers as a from-scratch encode") {
    val work = tmpDir("graft_grow")
    val dir = s"$work/store"
    val f0 = ntFile(work, "create.nt", subjects(0, 6540)) // 32,700 quads
    val f1 = ntFile(work, "load.nt", subjects(6540, 6640)) // 500 more
    assert(run("create", dir, f0) == 0)
    assert(meta(dir).contains("\"buckets\":1,"))
    assert(run("load", dir, f1) == 0)
    assert(meta(dir).contains("\"buckets\":2,") && meta(dir).contains("\"termsBuckets\":2,"),
      meta(dir))
    val st = StorePersist.open(spark, dir, cache = false)
    assert(st.quadCount == 33200)
    val mem = StoreEncoder.encode(RdfIO.readNTriples(spark, f0)
      .unionByName(RdfIO.readNTriples(spark, f1)), IriScheme.default)
    val (eng, want) = (new GraftEngine(st), new GraftEngine(mem))
    for (q <- layoutQueries) {
      val w = rows(want.query(q))
      assert(w.nonEmpty, q)
      assert(rows(eng.query(q)) == w, q)
    }
  }
}
