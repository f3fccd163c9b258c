package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.RdfIO
import graft.store._

/** The CLI write path (`create`, `load`) on generated N-Triples: the
  * manifest's metadata stays exact across appends, and the path stays
  * within a fixed Spark-job budget. Needs no data outside the test. */
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

  /** Spark jobs started while `f` runs. */
  private def jobs[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def quadSet(path: String, graph: String): Set[Seq[Term]] =
    RdfIO.readNTriples(spark, path, defaultGraph = graph).collect()
      .map(r => (0 until 4).map(i => TermRow.fromRow(r.getStruct(i))).toSeq).toSet

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
    val (c0, createJobs) = jobs(run("create", dir, f0))
    assert(c0 == 0)
    assert(createJobs <= 15, s"create ran $createJobs Spark jobs")
    val (c1, loadJobs) = jobs(run("load", dir, f1))
    assert(c1 == 0)
    assert(loadJobs <= 15, s"load ran $loadJobs Spark jobs")

    // a freshly opened store answers graphIds / termsBroadcastable from its
    // manifest: compile runs at most one job per non-inline constant (idOf)
    val st = StorePersist.open(spark, dir, cache = false)
    val q = s"""SELECT ?s ?n WHERE { ?s <${ex}name> ?n ; <${ex}label> "label 3"@en }"""
    val eng = new GraftEngine(st)
    val alg = graft.engine.Rewriter.rewrite(graft.parser.SparqlParser.parse(q).algebra)
    val (_, compileJobs) = jobs(eng.compiler.compile(alg))
    assert(compileJobs <= 3, s"compile ran $compileJobs Spark jobs for 3 constants")
    info(s"Spark jobs: create $createJobs, load $loadJobs, compile $compileJobs")
  }
}
