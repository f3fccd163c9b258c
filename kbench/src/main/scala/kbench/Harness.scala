package kbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.GraftEngine
import graft.algebra.Algebra
import graft.engine.{Compiler, ExprEval, Results, Rewriter}
import graft.parser.SparqlParser
import graft.queries.Battery
import graft.sources.RdfIO
import graft.store.{RelToRdf, StoreEncoder, StorePersist}

/** One benchmark run in one JVM: set-ups, an optional untimed warm-up
  * pass (pass 0), then timed passes over the op list until the run's
  * seconds are spent. One client, closed loop: each op starts when the
  * previous one returned its full result (`collect()`: every row computed
  * and decoded into the driver). The first output of each op is written for
  * the oracle check; every later output must equal it.
  *
  * Usage: `kbench.Harness <spec.tsv>`; the spec (written by run.py) holds
  * `conf<TAB>key<TAB>value` lines and `op<TAB>name<TAB>kind<TAB>family<TAB>arg`
  * lines. Results go to `<out>/run.json`, `<out>/spans.jsonl` (traced runs)
  * and `<out>/results/<op>.json` (each op's first output).
  */
object Harness {
  final case class Op(name: String, kind: String, family: String, arg: String)
  final case class Rec(pass: Int, op: String, ms: Double, cpuMs: Double, ok: Boolean,
      rows: Long)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread) in ns: unlike wall time, it
    * does not grow while the host runs another guest on this machine's cores. */
  def cpuNs: Long = os.getProcessCpuTime

  /** Fixed query clock of the Battery compilers (their oracles assume it). */
  private val BatteryNow = 1766188800000000L

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0))).asScala.map(_.split("\t", -1))
    val conf = lines.filter(_(0) == "conf").map(l => l(1) -> l(2)).toMap
    def opsOf(tag: String) = lines.filter(_(0) == tag).map(l => Op(l(1), l(2), l(3), l(4))).toSeq
    val code = new Harness(conf, opsOf("canary").head, opsOf("op")).run()
    sys.exit(code)
  }

  /** Size in bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  /** Number of SPARQL algebra nodes in a tree. */
  def algebraNodes(a: Any): Int = a match {
    case p: Product =>
      (if (p.isInstanceOf[Algebra]) 1 else 0) + p.productIterator.map(algebraNodes).sum
    case it: Iterable[_] => it.iterator.map(algebraNodes).sum
    case _ => 0
  }
}

final class Harness(conf: Map[String, String], canary: Harness.Op, ops: Seq[Harness.Op]) {
  import Harness._

  private val workload = conf("workload")
  private val seconds = conf("seconds").toDouble
  private val traced = conf("trace") == "1"
  private val cores = conf("cores").toInt
  private val data = conf("data")
  private val store = conf("store")
  private val work = conf("work")
  private val out = conf("out")
  private val setupsWanted = conf("setups").toInt
  private val passesWanted = conf("passes").toInt
  /** load_update: each set-up creates this store; each pass loads into a copy. */
  private val baseStore = s"$work/base_store"
  private var passStore = ""

  private var spark: SparkSession = _
  private var engine: GraftEngine = _
  private val listener = new ExecListener
  private val tracer = new Tracer
  private val recs = ArrayBuffer[Rec]()
  private val errors = ArrayBuffer[(Int, String, String)]()
  private val digests = scala.collection.mutable.Map[String, String]()
  private val extra = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (traced) s.sparkContext.addSparkListener(listener)
    s
  }

  /** The program's per-session caches (compilers and in-memory stores keyed
    * by data dir): cleared when a set-up starts a new session. */
  private def programCache(obj: String, field: String): java.util.Map[String, AnyRef] = {
    val cls = Class.forName(obj)
    val module = cls.getField("MODULE$").get(null)
    val f = cls.getDeclaredFields.find(_.getName.endsWith(field)).getOrElse(
      throw new IllegalStateException(s"$obj has no field $field"))
    f.setAccessible(true)
    f.get(module).asInstanceOf[java.util.Map[String, AnyRef]]
  }

  private def resetProgramCaches(): Unit = {
    programCache("graft.queries.Battery$", "bucketComps").clear()
    programCache("graft.queries.Battery$", "comps").clear()
    programCache("graft.store.RelToRdf$", "cache").clear()
    graft.pipeline.ScratchCache.drain()
  }

  private def traceSetUp[A](layer: String)(f: => A): A =
    if (traced) tracer.span(layer)(f)() else f

  /** Session start through store open, up to and including a fixed first
    * op (the canary). Traced runs record its store spans under pass -1. */
  private def setUp(): Double = {
    tracer.pass = -1
    tracer.op = "setup"
    deleteDir(baseStore)
    val t0 = System.nanoTime()
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      resetProgramCaches()
    }
    spark = session()
    workload match {
      case "sparql_lookup" =>
        engine = new GraftEngine(
          traceSetUp("store.open")(StorePersist.open(spark, store, cache = false)))
      case "sparql_analytic" =>
        // Battery entries would otherwise save their own copy of the store
        // under a path keyed only by the data dir; hand them the store this
        // benchmark built for the code under test instead
        val st = traceSetUp("store.open")(StorePersist.open(spark, store))
        programCache("graft.queries.Battery$", "bucketComps").put(data,
          new Compiler(st, ExprEval.Ctx(nowEpochUs = BatteryNow)))
      case _ => ()
    }
    try execute(canary) catch { case e: Throwable => fail(-1, canary.name, e) }
    graft.pipeline.ScratchCache.drain()
    (System.nanoTime() - t0) / 1e9
  }

  private def fail(pass: Int, op: String, e: Throwable): Unit = {
    val msg = s"${e.getClass.getName}: ${e.getMessage}".replaceAll("\\s+", " ").take(400)
    errors += ((pass, op, msg))
  }

  // ---- op execution through the public entry points (untraced) ----

  private def execute(op: Op): (Array[Row], StructType) = op.kind match {
    case "sparql" => collect(engine.query(op.arg))
    case "battery" => collect(Battery.queries(op.arg)(spark, data))
    case "create" | "load" =>
      val dir = if (op.kind == "create") baseStore else passStore
      val code = graft.Main.run(Array(op.kind, dir, s"$work/${op.arg}"), spark)
      if (code != 0) throw new RuntimeException(s"graft.Main ${op.kind} exited with $code")
      (Array.empty[Row], new StructType())
    case "lsparql" =>
      collect(new GraftEngine(StorePersist.open(spark, passStore, cache = false)).query(op.arg))
  }

  private def collect(df: DataFrame): (Array[Row], StructType) = (df.collect(), df.schema)

  // ---- the same ops, layer by layer, with a span around each call ----

  private def drainBus(): Unit = org.apache.spark.KbenchBus.drain(spark.sparkContext)

  private def executeTraced(op: Op): (Array[Row], StructType) = {
    tracer.op = op.name
    val layer = op.kind match {
      case "battery" if !op.name.startsWith("q_") => s"pipeline.${op.family}"
      case "load" => "store.load"
      case _ => "op"
    }
    val mark = tracer.spans.size
    phases.clear()
    val res = tracer.span(layer)(op.kind match {
      case "sparql" => tracedSparql(engine, op.arg)
      case "lsparql" =>
        val st = tracer.span("store.open")(StorePersist.open(spark, passStore, cache = false))()
        tracedSparql(new GraftEngine(st), op.arg)
      case "battery" =>
        val df = tracer.span("battery.build")(Battery.queries(op.arg)(spark, data))()
        tracedCollect(df)
      case "load" =>
        tracedLoad(op)
        (Array.empty[Row], new StructType())
    })()
    val opSpans = tracer.spans.drop(mark).toSeq
    phases.foreach { case (layer, t0, t1) => tracer.addMeasured(layer, t0, t1, opSpans) }
    res
  }

  /** Catalyst phases of the op's collected frames: (layer, t0, t1). */
  private val phases = ArrayBuffer[(String, Long, Long)]()

  /** `GraftEngine.query`, one layer call at a time. */
  private def tracedSparql(eng: GraftEngine, text: String): (Array[Row], StructType) = {
    val pq0 = tracer.span("parser")(SparqlParser.parse(text))()
    require(pq0.defaultGraphs.isEmpty && pq0.namedGraphs.isEmpty, "FROM is not traced")
    val alg = tracer.span("engine.rewriter")(Rewriter.rewrite(pq0.algebra))(a =>
      Map("engine.rewriter.nodes_in" -> algebraNodes(pq0.algebra).toDouble,
        "engine.rewriter.nodes_out" -> algebraNodes(a).toDouble))
    val pq = pq0.copy(algebra = alg)
    val c = eng.compiler
    drainBus()
    val jobs0 = listener.jobs.get
    val sol = tracer.span("engine.compiler")(c.compile(alg)) { _ =>
      drainBus()
      Map("engine.compiler.jobs" -> (listener.jobs.get - jobs0).toDouble)
    }
    val df = tracer.span("engine.results")(pq.form match {
      case "select" =>
        val m = Results.materialize(c, sol)
        if (pq.projection.nonEmpty) m.select(pq.projection.filter(m.columns.contains).map(col): _*)
        else m
      case "ask" => Results.ask(sol)
      case "construct" => Results.construct(c, sol, pq.constructTemplates)
      case "describe" =>
        val targets = if (pq.describeVars == Seq("*")) sol.reps.keySet.toSeq.sorted
          else pq.describeVars
        Results.describe(c, sol, targets)
    })()
    tracedCollect(df)
  }

  /** `collect()` under an `exec` span, with Catalyst's phases as child spans
    * and the listener's counters and the plan's operator counts as attrs. */
  private def tracedCollect(df: DataFrame): (Array[Row], StructType) = {
    drainBus()
    val before = listener.snapshot
    val rows = tracer.span("exec")(df.collect()) { r =>
      drainBus()
      ExecListener.delta(listener.snapshot, before) ++
        PlanShape.of(df.queryExecution.executedPlan).metrics +
        ("exec.result_rows" -> r.length.toDouble)
    }
    // Catalyst's tracker stamps phases in wall-clock ms; map them onto nanoTime
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      phases += ((s"catalyst.$phase", s.startTimeMs * 1000000L + offset,
        s.endTimeMs * 1000000L + offset))
    }
    (rows, df.schema)
  }

  /** `graft.Main load`, one layer call at a time. */
  private def tracedLoad(op: Op): Unit = {
    val file = s"$work/${op.arg}"
    val base = tracer.span("store.open")(StorePersist.open(spark, passStore, cache = false))()
    val parsed = tracer.span("sources.parse")(
      RdfIO.readNTriples(spark, file, defaultGraph = "urn:g:default").localCheckpoint())()
    val st = tracer.span("store.encode") {
      val a = StoreEncoder.append(base, parsed)
      a.copy(quads = a.quads.localCheckpoint(), terms = a.terms.localCheckpoint())
    }()
    tracer.span("store.save")(StorePersist.save(st, passStore)) { _ =>
      Map("store.bytes_written" -> dirBytes(passStore).toDouble,
        "store.input_bytes" -> new File(file).length.toDouble)
    }
  }

  // ---- passes ----

  /** One pass; returns the summed op wall and CPU time in ms. Output checks
    * run between ops, outside the timed calls. */
  private def pass(p: Int, traceThis: Boolean): (Double, Double) = {
    tracer.pass = p
    if (workload == "load_update") {
      passStore = s"$work/load_store_$p"
      org.apache.commons.io.FileUtils.copyDirectory(new File(baseStore), new File(passStore))
    }
    var (total, totalCpu) = (0.0, 0.0)
    for (op <- ops) {
      val (c0, t0) = (cpuNs, System.nanoTime())
      val res = try Right(if (traceThis) executeTraced(op) else execute(op))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpuNs - c0) / 1e6
      res match {
        case Right((rows, schema)) =>
          val ok = check(p, op, rows, schema)
          recs += Rec(p, op.name, ms, cpuMs, ok, rows.length)
        case Left(e) =>
          fail(p, op.name, e)
          recs += Rec(p, op.name, ms, cpuMs, ok = false, 0)
      }
      total += ms
      totalCpu += cpuMs
      // outside the timed call: drop scratch caches and collect, so one op's
      // garbage and cleanup do not land in the next op's time
      graft.pipeline.ScratchCache.drain()
      System.gc()
    }
    if (workload == "load_update") {
      extra(s"store_bytes.$p") = dirBytes(passStore).toDouble
      if (traceThis) extra("store.dict_terms") =
        StorePersist.open(spark, passStore, cache = false).terms.count().toDouble
      deleteDir(passStore)
    }
    (total, totalCpu)
  }

  /** The first output of an op is written for the oracle check; every later
    * output must equal it. */
  private def check(p: Int, op: Op, rows: Array[Row], schema: StructType): Boolean = {
    val canon = rows.map(r => Canon.row(r)).sorted
    val digest = Canon.sha256(canon.mkString("\n"))
    digests.get(op.name) match {
      case None =>
        digests(op.name) = digest
        val json = s"""{"columns":${Canon.strList(schema.fieldNames.toSeq)},"rows":[""" +
          canon.mkString(",") + "]}"
        Files.writeString(Paths.get(out, "results", s"${op.name}.json"), json)
        true
      case Some(d) if d == digest => true
      case Some(_) =>
        errors += ((p, op.name, "output differs from the op's first, checked output"))
        false
    }
  }

  def run(): Int = {
    new File(out, "results").mkdirs()
    val setups = (1 to setupsWanted).map(_ => setUp())
    if (conf("warmup") == "1") pass(0, traceThis = false)
    System.gc()
    val passes = ArrayBuffer[(Int, Boolean, (Double, Double))]()
    val start = System.nanoTime()
    // a fixed number of timed passes (more only if the run's seconds are not
    // yet spent), so every run's median is over the same passes; traced runs
    // alternate untraced and traced passes after the first (which also pays
    // first-execution costs), for the tracing overhead
    val minPasses = if (traced) passesWanted.max(3) else passesWanted
    var p = 1
    while (p <= minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traceThis = traced && p % 2 == 0
      passes += ((p, traceThis, pass(p, traceThis)))
      p += 1
    }
    // unpersists and the context cleaner run asynchronously: give them time
    graft.pipeline.ScratchCache.drain()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val sparkVersion = spark.version
    spark.stop()

    val sb = new StringBuilder("{")
    sb ++= s""""setup_s":${Canon.numList(setups)},"""
    sb ++= s""""heap_retained_mb":$heapMb,"cache_mb":$cacheMb,"""
    sb ++= s""""spark":${Canon.str(sparkVersion)},"jdk":${Canon.str(System.getProperty("java.version"))},"""
    sb ++= s""""passes":[${passes.map { case (i, t, (ms, cpu)) => s"[$i,$t,$ms,$cpu]" }.mkString(",")}],"""
    sb ++= s""""ops":[${recs.map(r => s"[${r.pass},${Canon.str(r.op)},${r.ms},${r.cpuMs},${r.ok},${r.rows}]").mkString(",")}],"""
    sb ++= s""""errors":[${errors.map { case (i, o, m) => s"[$i,${Canon.str(o)},${Canon.str(m)}]" }.mkString(",")}],"""
    sb ++= s""""extra":{${extra.map { case (k, v) => s"${Canon.str(k)}:$v" }.mkString(",")}}}"""
    Files.writeString(Paths.get(out, "run.json"), sb.toString)
    if (traced) {
      val w = Files.newBufferedWriter(Paths.get(out, "spans.jsonl"))
      try tracer.spans.foreach { s =>
        w.write(s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"op":${Canon.str(s.op)},""" +
          s""""layer":${Canon.str(s.layer)},"t0":${s.t0},"t1":${s.t1},"attrs":{""" +
          s.attrs.map { case (k, v) => s"${Canon.str(k)}:$v" }.mkString(",") + "}}\n")
      } finally w.close()
    }
    0
  }
}

/** One-time preparation for a code identity: saves the persisted store of
  * the generated tables and writes the Battery oracle SQL as JSON.
  * Usage: `kbench.Prepare <dataDir> <storeDir> <workDir> <cores>`. */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(data, store, work, cores) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val st = RelToRdf.load(spark, data)
    StorePersist.save(st, store)
    val quads = st.quads.count()
    val json = Battery.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Canon.str(k)}:${Canon.str(v)}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(store, "..", "oracle_sql.json"), json)
    Files.writeString(Paths.get(store, "..", "store_quads.txt"), quads.toString)
    spark.stop()
  }
}
