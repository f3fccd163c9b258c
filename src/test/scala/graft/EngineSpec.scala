package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.algebra._
import graft.model._
import graft.store._
import graft.engine._

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkBase.spark
  val sf = "/root/testdata/sf0.001"
  lazy val store: RdfStore = RelToRdf.cached(spark, sf)
  lazy val comp = new Compiler(store, ExprEval.Ctx(nowEpochUs = 1700000000000000L))

  def p(table: String, c: String) = N.iri(s"urn:p:$table:$c")
  def fk(t: String) = N.iri(s"urn:fk:$t")

  // tiny hand-built store for unbound-semantics tests
  lazy val tiny: RdfStore = {
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val g = iri("g")
    val quads: Seq[(Term, Term, Term, Term)] = Seq(
      (iri("s1"), iri("name"), Term.str("alice"), g),
      (iri("s1"), iri("age"), Term.int(30), g),
      (iri("s2"), iri("name"), Term.str("bob"), g),
      (iri("s3"), iri("name"), Term.str("carol-of-aragon"), g),
      (iri("s3"), iri("age"), Term.int(25), g),
      (iri("s3"), iri("knows"), iri("s1"), g),
      (iri("s1"), iri("knows"), iri("s2"), g))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = quads.map { case (s, pp, o, gg) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    StoreEncoder.encode(df, IriScheme.default)
  }
  lazy val tcomp = new Compiler(tiny, ExprEval.Ctx(nowEpochUs = 0L))

  test("single pattern scan binds vars and counts rows") {
    val sol = comp.compile(BGP(Seq(QuadPattern(V("s"), p("customer", "c_name"), V("name")))))
    assert(sol.df.count() == 150)
    assert(sol.vars == Set("s", "name"))
  }

  test("BGP star join + fk join") {
    // customer name + nation name via fk
    val a = BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_name"), V("cname")),
      QuadPattern(V("c"), fk("nation"), V("n")),
      QuadPattern(V("n"), p("nation", "n_name"), V("nname"))))
    val sol = comp.compile(a)
    assert(sol.df.count() == 150)
    val out = Results.native(comp, sol, Seq("cname" -> "string", "nname" -> "string"))
    val raw = spark.read.parquet(s"$sf/customer.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_name"), col("n_name"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      raw.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq)
  }

  test("numeric filter (fast path) matches raw") {
    val a = AFilter(ECall("<", Seq(EVar("qty"), EConst(Term.int(10)))),
      BGP(Seq(QuadPattern(V("l"), p("lineitem", "l_quantity"), V("qty")))))
    val n = comp.compile(a).df.count()
    val exp = spark.read.parquet(s"$sf/lineitem.parquet").filter(col("l_quantity") < 10).count()
    assert(n == exp)
  }

  test("string filter via UDF path (STRSTARTS)") {
    val a = AFilter(ECall("strstarts", Seq(EVar("nm"), EConst(Term.str("Customer#1")))),
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_name"), V("nm")))))
    val n = comp.compile(a).df.count()
    val exp = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_name").startsWith("Customer#1")).count()
    assert(n == exp)
  }

  test("extend computes revenue like raw") {
    val a = AExtend(
      BGP(Seq(
        QuadPattern(V("l"), p("lineitem", "l_extendedprice"), V("price")),
        QuadPattern(V("l"), p("lineitem", "l_discount"), V("disc")))),
      "rev", ECall("*", Seq(EVar("price"),
        ECall("-", Seq(EConst(Term.int(1)), EVar("disc"))))))
    val sol = comp.compile(a)
    val got = Results.native(comp, sol, Seq("rev" -> "double"))
      .agg(sum("rev")).first().getDouble(0)
    val exp = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).first().getDouble(0)
    assert(math.abs(got - exp) < 1e-4)
  }

  test("group by + sum/count/avg matches raw") {
    val a = AGroup(
      BGP(Seq(
        QuadPattern(V("l"), p("lineitem", "l_returnflag"), V("rf")),
        QuadPattern(V("l"), p("lineitem", "l_quantity"), V("qty")))),
      Seq("rf"),
      Seq(AggSpec("sum_qty", "sum", Some(EVar("qty"))),
        AggSpec("n", "count", None),
        AggSpec("avg_qty", "avg", Some(EVar("qty")))))
    val sol = comp.compile(a)
    val got = Results.native(comp, sol,
      Seq("rf" -> "string", "sum_qty" -> "double", "n" -> "long", "avg_qty" -> "double"))
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100),
        r.getLong(2), math.round(r.getDouble(3) * 100))).sortBy(_._1)
    val exp = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity"), count(lit(1)), avg("l_quantity")).collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2),
        math.round(r.getDouble(3) * 100))).sortBy(_._1)
    assert(got.toSeq == exp.toSeq)
  }

  test("order by + limit (term total order on numbers)") {
    val a = ASlice(AOrderBy(
      BGP(Seq(QuadPattern(V("o"), p("orders", "o_totalprice"), V("tp")))),
      Seq(SortKey(EVar("tp"), asc = false))), 0, 5)
    val got = Results.native(comp, comp.compile(a), Seq("tp" -> "double"))
      .collect().map(_.getDouble(0)).toSeq
    val exp2 = spark.read.parquet(s"$sf/orders.parquet").select("o_totalprice")
      .orderBy(col("o_totalprice").desc).limit(5).collect().map(_.getDouble(0)).toSeq
    assert(got == exp2)
  }

  test("optional: missing side leaves var unbound (tiny store)") {
    val ex = "http://example.org/"
    val a = ALeftJoin(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))),
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "age"), V("a")))), None)
    val sol = tcomp.compile(a)
    val rows = Results.materialize(tcomp, sol).collect()
    assert(rows.length == 3)
    val byName = rows.map(r => (r.getStruct(1).getString(1),
      Option(r.getStruct(0)).map(_.getString(1)))).toMap
    assert(byName("alice") == Some("30"))
    assert(byName("bob") == None)
    assert(byName("carol-of-aragon") == Some("25"))
  }

  test("optional with filter uses Filter∪Diff decomposition (tiny store)") {
    val ex = "http://example.org/"
    // OPTIONAL { ?x age ?a FILTER(?a > 26) } — bob has no age → kept unbound;
    // carol has age 25 failing filter → kept with a unbound
    val a = ALeftJoin(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))),
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "age"), V("a")))),
      Some(ECall(">", Seq(EVar("a"), EConst(Term.int(26))))))
    val sol = tcomp.compile(a)
    val rows = Results.materialize(tcomp, sol).collect()
    assert(rows.length == 3)
    val byName = rows.map(r => (r.getStruct(1).getString(1),
      Option(r.getStruct(0)).map(_.getString(1)))).toMap
    assert(byName("alice") == Some("30"))
    assert(byName("bob") == None)
    assert(byName("carol-of-aragon") == None)
  }

  test("minus removes compatible rows (tiny store)") {
    val ex = "http://example.org/"
    val a = AMinus(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))),
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "age"), V("ignored")))))
    val sol = tcomp.compile(a)
    val names = Results.materialize(tcomp, sol).collect()
      .map(_.getStruct(0).getString(1)).toSet
    assert(names == Set("bob"))
  }

  test("filter EXISTS / NOT EXISTS (tiny store)") {
    val ex = "http://example.org/"
    val base = BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n"))))
    val pat = BGP(Seq(QuadPattern(V("x"), N.iri(ex + "knows"), V("y"))))
    val yes = tcomp.compile(AFilter(EExists(pat, negated = false), base))
    val no = tcomp.compile(AFilter(EExists(pat, negated = true), base))
    val yn = Results.materialize(tcomp, yes).collect().map(_.getStruct(0).getString(1)).toSet
    val nn = Results.materialize(tcomp, no).collect().map(_.getStruct(0).getString(1)).toSet
    assert(yn == Set("alice", "carol-of-aragon"))
    assert(nn == Set("bob"))
  }

  test("union pads missing vars, distinct dedups") {
    val ex = "http://example.org/"
    val a = ADistinct(AUnion(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))),
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "age"), V("a"))))))
    val sol = tcomp.compile(a)
    assert(sol.df.count() == 5)
    assert(sol.vars == Set("x", "n", "a"))
  }

  test("property path: seq and plus (tiny store)") {
    val ex = "http://example.org/"
    // knows+ from s3: s3→s1→s2
    val a = APath(N.iri(ex + "s3"), PPlus(PLink(ex + "knows")), V("end"))
    val sol = tcomp.compile(a)
    val ends = Results.materialize(tcomp, sol).collect().map(_.getStruct(0).getString(1)).toSet
    assert(ends == Set(ex + "s1", ex + "s2"))
    // seq: knows/name
    val b = APath(N.iri(ex + "s3"), PSeq(PLink(ex + "knows"), PLink(ex + "name")), V("nm"))
    val nms = Results.materialize(tcomp, tcomp.compile(b)).collect()
      .map(_.getStruct(0).getString(1)).toSet
    assert(nms == Set("alice"))
  }

  test("property path: closure of a 12-chain and a 3-cycle") {
    val ex = "http://example.org/"
    // the chain c0 → … → c12 over :next, the 3-cycle d0 → d1 → d2 → d0 over
    // :ring, and one :name literal that a negated set must not step to
    val n = 12
    val quads: Seq[(Term, Term, Term)] =
      (0 until n).map(i => (Iri(s"${ex}c$i"), Iri(ex + "next"), Iri(s"${ex}c${i + 1}"): Term)) ++
      (0 until 3).map(i => (Iri(s"${ex}d$i"), Iri(ex + "ring"), Iri(s"${ex}d${(i + 1) % 3}"): Term)) :+
      ((Iri(ex + "c3"), Iri(ex + "name"), Term.str("three")))
    val schema = StructType(Seq("s", "p", "o", "g").map(f =>
      StructField(f, TermRow.schema, nullable = true)))
    val rows = quads.map { case (s, pp, o) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(Iri(ex + "g"))) }
    val st = StoreEncoder.encode(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      IriScheme.default)
    val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
    def iris(a: Algebra): Set[String] = Results.materialize(c, c.compile(a)).collect()
      .map(_.getStruct(0).getString(1)).toSet
    val chain = (0 to n).map(i => s"${ex}c$i")
    val next = PPlus(PLink(ex + "next"))
    assert(iris(APath(N.iri(ex + "c0"), next, V("e"))) == chain.tail.toSet, "forward")
    assert(iris(APath(V("b"), next, N.iri(s"${ex}c$n"))) == chain.init.toSet, "backward")
    // a negated property set has a variable predicate, so its edge set has
    // no statistics bound: the seeded closure runs on the superstep loop
    val notName = PPlus(PNeg(Seq(ex + "name"), Nil))
    assert(iris(APath(N.iri(ex + "c0"), notName, V("e"))) == chain.tail.toSet, "nps forward")
    assert(iris(APath(V("b"), notName, N.iri(s"${ex}c$n"))) == chain.init.toSet, "nps backward")
    // var-var: every ordered pair of the chain, C(13, 2) = 78
    val varVar = APath(V("a"), next, V("b"))
    val pairs = Results.materialize(c, c.compile(varVar)).collect()
      .map(r => (r.getAs[Row]("a").getString(1), r.getAs[Row]("b").getString(1))).toSet
    assert(pairs == (for (i <- 0 to n; j <- i + 1 to n) yield (chain(i), chain(j))).toSet)
    assert(pairs.size == 78)
    // compile + collect after a warm run: about log2(depth) quiescence
    // checks, not jobs per closure level
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(c.compile(varVar).df.collect().length == 78)
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 8, s"${jobs.get} jobs")
    // same var on both ends: only cyclic nodes qualify — the chain has none
    val cyc = c.compile(APath(V("x"), next, V("x")))
    assert(cyc.vars == Set("x") && cyc.df.count() == 0)
    assert(iris(APath(V("x"), PPlus(PLink(ex + "ring")), V("x"))) ==
      (0 until 3).map(i => s"${ex}d$i").toSet)
  }

  test("property path: plus/star with BOUND OBJECT walk backwards (regression)") {
    val ex = "http://example.org/"
    // knows chain: s3→s1→s2. ?start knows+ s2 must yield the PREDECESSORS
    // {s3, s1} — the closure must extend the reversed frontier with REVERSED
    // steps (a forward-edge join here once produced (s2,s2) and missed s3)
    val a = APath(V("start"), PPlus(PLink(ex + "knows")), N.iri(ex + "s2"))
    val starts = Results.materialize(tcomp, tcomp.compile(a)).collect()
      .map(_.getStruct(0).getString(1)).toSet
    assert(starts == Set(ex + "s3", ex + "s1"), s"got $starts")
    // star adds the zero-length binding of the object itself
    val b = APath(V("start"), PStar(PLink(ex + "knows")), N.iri(ex + "s2"))
    val starStarts = Results.materialize(tcomp, tcomp.compile(b)).collect()
      .map(_.getStruct(0).getString(1)).toSet
    assert(starStarts == Set(ex + "s3", ex + "s1", ex + "s2"), s"got $starStarts")
  }

  test("values table joins with patterns") {
    val a = AJoin(
      ATable(Seq("rf"), Seq(Seq(Some(Term.str("A"))), Seq(Some(Term.str("R"))))),
      BGP(Seq(
        QuadPattern(V("l"), p("lineitem", "l_returnflag"), V("rf")),
        QuadPattern(V("l"), p("lineitem", "l_quantity"), V("qty")))))
    val n = comp.compile(a).df.count()
    val exp = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag").isin("A", "R")).count()
    assert(n == exp)
  }

  test("ask + window rank") {
    val askDf = Results.ask(comp.compile(
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_name"), V("n"))))))
    assert(askDf.first().getBoolean(0))
    // rank customers by acctbal desc within mktsegment
    val w = AWindow(
      BGP(Seq(
        QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")),
        QuadPattern(V("c"), p("customer", "c_acctbal"), V("bal")))),
      Seq(WinSpec("rk", "rank", None, Seq("seg"), Seq(SortKey(EVar("bal"), asc = false)))))
    val got = Results.native(comp, comp.compile(w),
      Seq("seg" -> "string", "bal" -> "double", "rk" -> "long")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val expW = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val exp = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_mktsegment"), col("c_acctbal"), rank().over(expW).cast(LongType))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.sorted.toSeq == exp.sorted.toSeq)
  }

  test("VALUES ⋈ BGP joins in id space (no struct coercion of the scan side)") {
    // the 2-row VALUES side converts to ids driver-side; the lineitem-sized BGP
    // side must NOT be materialized through term structs or the dictionary
    val a = AJoin(
      ATable(Seq("seg"), Seq(Seq(Some(Term.str("BUILDING"))), Seq(Some(Term.str("MACHINERY"))))),
      BGP(Seq(
        QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")),
        QuadPattern(V("c"), p("customer", "c_acctbal"), V("bal")))))
    val sol = comp.compile(a)
    assert(sol.reps("seg") == IdRep, "shared var must stay in id space")
    val plan = sol.df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__tid") && !plan.contains("__dt"),
      s"dictionary join leaked into VALUES join plan:\n$plan")
    val got = Results.native(comp, sol, Seq("seg" -> "string", "bal" -> "double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    val exp = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment"), col("c_acctbal"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    assert(got.toSeq == exp.toSeq)
  }

  test("typed SUM/AVG: integer stays integer, mixed promotes, non-numeric poisons") {
    val ex = "http://example.org/"
    // tiny store: ages 30 and 25 (xsd:integer)
    val g = AGroup(
      BGP(Seq(QuadPattern(V("s"), T(Iri(ex + "age")), V("a")))),
      Seq.empty,
      Seq(AggSpec("total", "sum", Some(EVar("a"))),
        AggSpec("mean", "avg", Some(EVar("a")))))
    val row = Results.materialize(tcomp, tcomp.compile(g)).collect().head
    val total = row.getStruct(row.fieldIndex("total"))
    assert(total.getString(1) == "55", "sum value")
    assert(total.getString(2) == Term.xsdInteger, s"SUM over integers must be xsd:integer")
    val mean = row.getStruct(row.fieldIndex("mean"))
    assert(mean.getString(2) == Term.xsdDecimal, "integer AVG must be xsd:decimal")
    assert(mean.getString(1) == "27.5", "avg value exact decimal")

    // mixed int + double promotes to double; a string input poisons the group
    def tableAgg(rows: Seq[Term]): Row = {
      val a = AGroup(
        ATable(Seq("v"), rows.map(t => Seq(Option(t)))),
        Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v")))))
      Results.materialize(tcomp, tcomp.compile(a)).collect().head
    }
    val mixed = tableAgg(Seq(Term.int(1), Term.dbl(2.5)))
    val ms = mixed.getStruct(mixed.fieldIndex("s"))
    assert(ms.getString(2) == Term.xsdDouble && ms.getString(1) == "3.5")
    val poisoned = tableAgg(Seq(Term.int(1), Term.str("oops")))
    assert(poisoned.isNullAt(poisoned.fieldIndex("s")),
      "non-numeric input must poison SUM to unbound")
    val dec = tableAgg(Seq(Term.dec(BigDecimal("1.25")), Term.int(2)))
    val ds = dec.getStruct(dec.fieldIndex("s"))
    assert(ds.getString(2) == Term.xsdDecimal && ds.getString(1) == "3.25")
  }

  test("compile() launches zero Spark jobs (plan construction is pure)") {
    // a store reopened from its manifest knows its graph ids and dictionary
    // size, so no warm-up: the first compile on it runs no job either
    val dir = java.nio.file.Files.createTempDirectory("graft_pure").toString + "/store"
    StorePersist.save(store, dir)
    val reopened = StorePersist.open(spark, dir, cache = false)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val comp = new Compiler(reopened, ExprEval.Ctx(nowEpochUs = 1700000000000000L))
      // BIND(EXISTS) with no shared vars previously ran isEmpty at compile
      comp.compile(AExtend(
        BGP(Seq(QuadPattern(V("c"), p("customer", "c_name"), V("n")))),
        "e", EExists(BGP(Seq(
          QuadPattern(V("r"), p("region", "r_name"), V("rn")))), false)))
      // aggregate + order + slice pipeline
      comp.compile(ASlice(AOrderBy(AGroup(
        BGP(Seq(QuadPattern(V("l"), p("lineitem", "l_returnflag"), V("rf")),
          QuadPattern(V("l"), p("lineitem", "l_quantity"), V("q")))),
        Seq("rf"), Seq(AggSpec("s", "sum", Some(EVar("q"))))),
        Seq(SortKey(EVar("rf")))), 0, 5))
      assert(reopened.graphIds.nonEmpty && reopened.termsBroadcastable)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(jobs == 0, s"compile() ran $jobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("FAM_DEC: exact decimal SUM/AVG from the scan companion, no dictionary join") {
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    def dec(s: String) = Term.dec(BigDecimal(s))
    // ten 0.1s — double accumulation yields 0.9999999999999999, exact decimal 1
    val priceQuads = (0 until 10).map(i =>
      (iri(s"s$i"), iri("price"), dec("0.1"), iri("g")))
    // per-subject groups: an all-integer group stays xsd:integer, a mixed
    // int+decimal group promotes to xsd:decimal
    val mixQuads = Seq(
      (iri("a"), iri("mix"), Term.int(2), iri("g")),
      (iri("a"), iri("mix"), Term.int(3), iri("g")),
      (iri("b"), iri("mix"), dec("0.5"), iri("g")),
      (iri("b"), iri("mix"), Term.int(2), iri("g")))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = (priceQuads ++ mixQuads).map { case (s, pp, o, gg) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val st = StoreEncoder.encode(df, IriScheme.default)
    val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))

    // compilePattern outside a query context attaches the companion; a full
    // compile() prunes it unless some downstream aggregate/arithmetic consumes
    // it (per-query decNeeds analysis)
    val scan = c.compilePattern(QuadPattern(V("x"), T(iri("price")), V("v")))
    assert(scan.prof.fam.get("v").contains(Sol.FAM_DEC), "price scan must be FAM_DEC")
    assert(scan.prof.decs.contains("v") && scan.df.columns.contains("__d_v"))
    val bare = c.compile(BGP(Seq(QuadPattern(V("x"), T(iri("price")), V("v")))))
    assert(!bare.df.columns.contains("__d_v"),
      "no aggregate/arithmetic consumes ?v — the companion must be pruned")

    val sumA = AGroup(BGP(Seq(QuadPattern(V("x"), T(iri("price")), V("v")))),
      Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v"))),
        AggSpec("m", "avg", Some(EVar("v")))))
    val sol = c.compile(sumA)
    // the store-encode lineage below the persisted quads cache contains joins;
    // the QUERY plan above it must not (no dictionary materialization)
    val queryPlan = sol.df.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head
    assert(!queryPlan.contains("Join"),
      "decimal fast path must not join the dictionary")
    val r = Results.materialize(c, sol).collect().head
    val sStruct = r.getStruct(r.fieldIndex("s"))
    assert(sStruct.getString(1) == "1" && sStruct.getString(2) == Term.xsdDecimal,
      s"exact decimal SUM: got ${sStruct.getString(1)}^^${sStruct.getString(2)}")
    val mStruct = r.getStruct(r.fieldIndex("m"))
    assert(mStruct.getString(1) == "0.1" && mStruct.getString(2) == Term.xsdDecimal)

    val byS = AGroup(BGP(Seq(QuadPattern(V("x"), T(iri("mix")), V("v")))),
      Seq("x"), Seq(AggSpec("s", "sum", Some(EVar("v")))))
    val rows2 = Results.materialize(c, c.compile(byS)).collect()
      .map { row =>
        val st0 = row.getStruct(row.fieldIndex("s"))
        row.getStruct(row.fieldIndex("x")).getString(1) -> (st0.getString(1), st0.getString(2))
      }.toMap
    assert(rows2(ex + "a") == ("5", Term.xsdInteger), s"all-int group: ${rows2(ex + "a")}")
    assert(rows2(ex + "b") == ("2.5", Term.xsdDecimal), s"mixed group: ${rows2(ex + "b")}")
  }

  test("integer SUM overflow is an error (unbound), not 0 — empty group stays 0") {
    // 300 inline integers of ~3.6e16 sum past Long.MaxValue: the FAM_INT fast
    // path must surface try_sum's overflow NULL as an unbound result instead
    // of conflating it with the empty-group 0 (and SUM(DISTINCT)'s decimal
    // accumulator must detect out-of-Long-range totals the same way)
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val big = (1L << 55) - 1000
    val quads = (0 until 300).map(i =>
      (iri(s"s$i"), iri("huge"), Term.int(big - i), iri("g")))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = quads.map { case (s, pp, o, gg) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val st = StoreEncoder.encode(df, IriScheme.default)
    val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
    // the scan must have taken the FAM_INT path for the test to mean anything
    assert(c.compile(BGP(Seq(QuadPattern(V("x"), T(iri("huge")), V("v")))))
      .prof.fam.get("v").contains(Sol.FAM_INT))
    for (distinct <- Seq(false, true)) {
      val a = AGroup(BGP(Seq(QuadPattern(V("x"), T(iri("huge")), V("v")))),
        Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v")), distinct = distinct)))
      val r = Results.materialize(c, c.compile(a)).collect().head
      assert(r.isNullAt(r.fieldIndex("s")),
        s"overflowed SUM(${if (distinct) "DISTINCT " else ""}?v) must be unbound")
    }
    // non-overflowing control: SUM of one value round-trips exactly
    val one = AGroup(BGP(Seq(QuadPattern(T(iri("s0")), T(iri("huge")), V("v")))),
      Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v")))))
    val ok = Results.materialize(c, c.compile(one)).collect().head
    assert(ok.getStruct(ok.fieldIndex("s")).getString(1) == big.toString)
  }

  test("decimal SUM overflow is an error (unbound) in the exact fast path") {
    // SPARQL: op:numeric-add overflow is a type error, so the aggregate's
    // value goes unbound; Spark's try_sum(DECIMAL) returns NULL on overflow,
    // and the dec fast path must surface that NULL as unbound — not as 0 and
    // not as a silently-wrapped value. 30 decimals of ~9e19 overflow the
    // DECIMAL(38,18) accumulator (max integral magnitude < 1e20).
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val quads = (0 until 30).map(i =>
      (iri(s"s$i"), iri("amt"),
        Term.dec(BigDecimal("90000000000000000000.5") - i), iri("g")))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = quads.map { case (s, pp, o, gg) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val st = StoreEncoder.encode(df, IriScheme.default)
    val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
    // the scan must be decimal-family for this to exercise the "dec"
    // aggregation mode rather than the generic typed path (the companion
    // itself is pruned on a bare BGP with no aggregate consumer — by design)
    val scanned = c.compile(BGP(Seq(QuadPattern(V("x"), T(iri("amt")), V("v")))))
    assert(scanned.prof.fam.get("v").contains(Sol.FAM_DEC),
      s"expected decimal family on ?v (fam=${scanned.prof.fam})")
    for (distinct <- Seq(false, true)) {
      val a = AGroup(BGP(Seq(QuadPattern(V("x"), T(iri("amt")), V("v")))),
        Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v")), distinct = distinct)))
      val compiled = c.compile(a)
      // the exact fast path aggregates the DECIMAL(38,18) companion directly
      assert(compiled.df.queryExecution.optimizedPlan.toString.contains("38,18"),
        "expected the exact-decimal companion in the aggregate plan")
      val r = Results.materialize(c, compiled).collect().head
      assert(r.isNullAt(r.fieldIndex("s")),
        s"overflowed decimal SUM(${if (distinct) "DISTINCT " else ""}?v) must be unbound")
    }
    // non-overflowing control: one-row SUM round-trips the exact lexical value
    val one = AGroup(BGP(Seq(QuadPattern(T(iri("s0")), T(iri("amt")), V("v")))),
      Seq.empty, Seq(AggSpec("s", "sum", Some(EVar("v")))))
    val okRow = Results.materialize(c, c.compile(one)).collect().head
    val st0 = okRow.getStruct(okRow.fieldIndex("s"))
    assert(st0.getString(1) == "90000000000000000000.5" &&
      st0.getString(2) == Term.xsdDecimal, s"got ${st0.getString(1)}")
  }

  test("functional-property statistics carry exact card bounds through joins (bind-join cost input)") {
    // every RelToRdf column predicate is functional (one triple per row
    // subject), so the ANALYZE pass must flag funcS...
    val segId = store.idOf(p("customer", "c_mktsegment").term).get
    assert(store.predProfiles(segId).funcS, "column predicate must be funcS")
    // ...and a star join on the shared subject then cannot multiply rows:
    // the exact per-predicate bound survives the join (reference cost-model
    // join ordering, QueryPlanCost.swift; here as statistics)
    val star = comp.compile(BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")),
      QuadPattern(V("c"), fk("nation"), V("n")))))
    assert(star.prof.card.contains(150L), s"star card bound: ${star.prof.card}")
    assert(star.prof.multOne.contains("c"), s"subject multiplicity: ${star.prof.multOne}")
    // chaining into the orders fan-out keeps a bound too: each order row
    // matches at most one customer-star row (c is multOne on the star side)
    val chained = comp.joinSols(star,
      comp.compilePattern(QuadPattern(V("o"), fk("customer"), V("c"))), "inner")
    assert(chained.prof.card.contains(1500L), s"chained card bound: ${chained.prof.card}")
    // the provably-small star intermediate is therefore broadcast into the
    // next join — the bind-join decision made from statistics, not AQE luck
    val plan = chained.df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast bind-join:\n$plan")
  }

  test("REDUCED single-task path is reachable only under the exact card gate") {
    // the coalesce(1) merge-dedup is legal only because the exact statistics
    // bound caps the rows that single task can see; a join-derived sol with
    // no such bound must take the scale-safe dropDuplicates plan instead
    def hasLocalDedup(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
      }.nonEmpty
    val smallA = AReduced(AProject(
      BGP(Seq(QuadPattern(V("n"), p("nation", "n_name"), V("v")))), Seq("v")))
    val small = comp.compile(smallA)
    assert(hasLocalDedup(small.df) && small.df.rdd.getNumPartitions == 1,
      "card-bounded REDUCED should fold into the single-task merge dedup")
    assert(small.df.count() == 25)

    // same shape but the exact bound exceeds the cap: the cartesian's exact
    // product bound (6005 × 1500 > ReducedLocalCap) must force the
    // distributed dropDuplicates plan, never the single-task merge (partition
    // COUNT is no probe here — AQE legitimately coalesces small shuffles)
    val bigA = AReduced(AProject(AJoin(
      BGP(Seq(QuadPattern(V("l"), p("lineitem", "l_quantity"), V("q")))),
      BGP(Seq(QuadPattern(V("o"), p("orders", "o_orderstatus"), V("st"))))),
      Seq("q", "st")))
    val big = comp.compile(bigA)
    assert(!hasLocalDedup(big.df),
      "ungated REDUCED must take the distributed dedup plan")
  }

  test("BGP join-order DP: distinct-count selectivity beats static scan weights") {
    // o_totalprice is value-distinct (distO == count), so a bound-object
    // pattern on it yields ~1 row — but its static positional weight
    // (1500 × 0.01) makes it look 10× DEARER than the bound c_mktsegment scan
    // (150 × 0.01 → actual 34 rows). The greedy orderer starts from the
    // static-cheapest scan (mktsegment); the Selinger DP must see through to
    // the distinct-count domains and start from the totalprice point lookup
    // (the reference's candidate-plan costing, QueryPlanCost.swift:231-248).
    val a = BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_mktsegment"), N.lit(Term.str("BUILDING"))),
      QuadPattern(V("o"), fk("customer"), V("c")),
      QuadPattern(V("o"), p("orders", "o_totalprice"),
        N.lit(Term.dec(BigDecimal("20322.58"))))))
    val tpId = store.idOf(p("orders", "o_totalprice").term).get
    val segId = store.idOf(p("customer", "c_mktsegment").term).get
    val plan = comp.compile(a).df.queryExecution.optimizedPlan.toString
    val (iTp, iSeg) = (plan.indexOf(s"= $tpId)"), plan.indexOf(s"= $segId)"))
    assert(iTp >= 0 && iSeg >= 0 && iTp < iSeg,
      s"DP must join the totalprice point-lookup first (tp@$iTp seg@$iSeg):\n$plan")
    // semantics unchanged by ordering: one order × its customer's segment
    val n = comp.compile(a).df.count()
    assert(n <= 1L, s"point-lookup chain returned $n rows")
  }

  test("UNION: statistics order branches and eliminate provably-empty ones") {
    // cheap branch (25 nation rows) vs expensive branch (6k lineitem rows):
    // the compiler must put the cheap scan first in the Union
    val cheap = BGP(Seq(QuadPattern(V("s"), p("nation", "n_name"), V("v"))))
    val dear = BGP(Seq(QuadPattern(V("s"), p("lineitem", "l_quantity"), V("v"))))
    val nId = store.idOf(p("nation", "n_name").term).get
    val lId = store.idOf(p("lineitem", "l_quantity").term).get
    val flipped = comp.compile(AUnion(dear, cheap))
    val planStr = flipped.df.queryExecution.optimizedPlan.toString
    val (iN, iL) = (planStr.indexOf(s"= $nId)"), planStr.indexOf(s"= $lId)"))
    assert(iN >= 0 && iL >= 0 && iN < iL,
      s"cheap branch must compile first (nation@$iN lineitem@$iL):\n$planStr")

    // a branch over a predicate with zero quads is eliminated outright: no
    // Union in the optimized plan, branch-exclusive vars stay as unbound cols
    val ghost = BGP(Seq(QuadPattern(V("s"), N.iri("urn:p:no:such"), V("w"))))
    val pruned = comp.compile(AUnion(ghost, cheap))
    // node-type check: the cached store's InMemoryRelation embeds its own
    // build plan text (which contains a Union), so string matching is wrong
    val unions = pruned.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty, "empty branch must vanish from the logical plan")
    assert(pruned.vars.contains("w"), "eliminated branch's var stays in scope")
    assert(pruned.df.count() == 25L)
  }

  test("statistics-driven broadcast: small predicate scans hash-broadcast in joins") {
    // customer c_name (150 rows at sf0.001) joins nation n_name (25 rows):
    // per-predicate counts prove both sides tiny → BroadcastHashJoin, no SMJ
    val a = BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_name"), V("cn")),
      QuadPattern(V("c"), fk("nation"), V("n")),
      QuadPattern(V("n"), p("nation", "n_name"), V("nn"))))
    val sol = comp.compile(a)
    val plan = sol.df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected statistics-driven broadcast join:\n${plan.take(3000)}")
    assert(sol.df.count() == 150)
  }

  test("GROUP BY and a whole-partition window agree on COUNT, SUM, AVG, MIN and MAX over every :p family") {
    // one aggregate definition serves both, so `… GROUP BY ?x` and
    // `… OVER (PARTITION BY ?x)` give the same term for each ?x. :u has no :p,
    // so its ?v is an unbound OPTIONAL value: SUM and AVG of no value are
    // "0"^^xsd:integer in every family (§18.5.1.3), as is an empty leading frame
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    def dec(s: String) = Term.dec(BigDecimal(s))
    val int0 = Some(("0", Term.xsdInteger))
    val families: Seq[(String, Seq[(String, Term)])] = Seq(
      "integers" -> Seq("a" -> Term.int(30), "a" -> Term.int(25), "b" -> Term.int(7)),
      "decimals" -> Seq("a" -> dec("1.5"), "a" -> Term.int(2), "b" -> dec("0.25")),
      "integer+double" -> Seq("a" -> Term.int(1), "b" -> Term.dbl(2.5), "c" -> Term.int(4)),
      "numbers+string" -> Seq("a" -> Term.int(1), "a" -> Term.str("x"), "b" -> Term.dbl(2.5),
        "c" -> dec("3.5")),
      // two values overflow DECIMAL(38,18); the string keeps :p out of FAM_DEC
      "overflowing decimals" -> Seq("a" -> dec("90000000000000000000.5"),
        "a" -> dec("90000000000000000000.25"), "b" -> Term.str("s")))
    val fns = Seq("count", "sum", "avg", "min", "max")
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    for ((family, values) <- families) {
      val quads = values.map { case (s, o) => (iri(s), iri("p"), o) } ++
        (values.map(_._1) :+ "u").distinct.map(s => (iri(s), iri("q"), iri("z")))
      val rows = quads.map { case (s, pp, o) =>
        Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(iri("g")))
      }
      val st = StoreEncoder.encode(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), IriScheme.default)
      val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
      // each result row as var → (lex, datatype), None where unbound
      def run(select: String, tail: String = ""): Seq[Map[String, Option[(String, String)]]] = {
        val q = graft.parser.SparqlParser.parse(
          s"PREFIX : <$ex> SELECT ?x $select WHERE { ?x :q ?z OPTIONAL { ?x :p ?v } } $tail")
        val df = Results.materialize(c, c.compile(q.algebra))
        df.collect().toSeq.map(r => df.columns.map { v =>
          val t = r.getStruct(r.fieldIndex(v))
          v -> Option(t).map(t => (t.getString(1).stripPrefix(ex), t.getString(2)))
        }.toMap)
      }
      def byX(rs: Seq[Map[String, Option[(String, String)]]]) =
        rs.groupBy(_("x")).map { case (x, g) => x -> g.toSet }
      val grouped = byX(run(fns.map(f => s"(${f.toUpperCase}(?v) AS ?${f}_v)").mkString(" "),
        "GROUP BY ?x"))
      val windowed = byX(run(fns.map(f =>
        s"(${f.toUpperCase}(?v) OVER (PARTITION BY ?x) AS ?${f}_v)").mkString(" ")))
      assert(windowed == grouped, s"$family: window $windowed, GROUP BY $grouped")
      val u = grouped(Some(("u", null))).head
      assert(u("sum_v") == int0 && u("avg_v") == int0, s"$family: empty group $u")
      val frame = "PARTITION BY ?x ORDER BY ?v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
      val lead = run(s"?v (ROW_NUMBER() OVER (PARTITION BY ?x ORDER BY ?v) AS ?rn) " +
        s"(SUM(?v) OVER ($frame) AS ?s) (AVG(?v) OVER ($frame) AS ?m)")
      for (r <- lead if r("rn").contains(("1", Term.xsdInteger)))
        assert(r("s") == int0 && r("m") == int0, s"$family: empty leading frame $r")
      if (family == "integers") { // integer sums stay xsd:integer, over a frame too
        assert(grouped(Some(("a", null))).head("sum_v").contains(("55", Term.xsdInteger)))
        assert(lead.filter(_("x").contains(("a", null))).map(_("s")).toSet ==
          Set(int0, Some(("25", Term.xsdInteger))))
      }
    }
  }

  test("BNODE(label) co-refers within a row, differs across rows (tiny store)") {
    // two separate BINDs of BNODE("x") on the same solution row must produce the
    // SAME blank node (per-row label scope); different rows different nodes
    val a = AExtend(
      AExtend(
        BGP(Seq(QuadPattern(V("s"), T(Iri("http://example.org/name")), V("nm")))),
        "b1", ECall("bnode", Seq(EConst(Term.str("x"))))),
      "b2", ECall("bnode", Seq(EConst(Term.str("x")))))
    val rows = Results.materialize(tcomp, tcomp.compile(a))
      .select(col("b1.lex"), col("b2.lex")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 3)
    rows.foreach { case (b1, b2) => assert(b1 == b2, "same row must co-refer") }
    assert(rows.map(_._1).distinct.length == 3, "different rows must differ")
  }

  test("OPTIONAL build side flips on skewed stats: small left hash-builds, huge right probes") {
    // cost input for OPTIONAL placement (reference candidate enumeration,
    // QueryPlanner.swift:399-408): a left-outer join can't broadcast its
    // preserved side, but with a provably-small left and a huge right the
    // compiler hints SHUFFLE_HASH so Spark builds the hash table on the LEFT
    // (SPARK-36612) instead of sort-merging both sides
    def withCard(sol: Sol, card: Option[Long]) = sol.copy(prof = sol.prof.copy(card = card))
    val small = withCard(
      comp.compile(BGP(Seq(QuadPattern(V("s"), p("region", "r_name"), V("rn"))))), Some(5L))
    val huge = withCard( // pretend 100 TB-scale fact side
      comp.compile(BGP(Seq(QuadPattern(V("s"), p("lineitem", "l_quantity"), V("q"))))),
      Some(500000000L))
    val joined = comp.joinSols(small, huge, "left_outer")
    val phys = joined.df.queryExecution.executedPlan.toString
    assert(phys.contains("ShuffledHashJoin") && phys.contains("BuildLeft"),
      s"expected build-left shuffled hash join, got:\n$phys")
    // and the default (no stats skew) keeps whatever Catalyst picks — sanity:
    // results are unaffected by the hint
    assert(joined.df.count() ==
      comp.joinSols(withCard(small, None), withCard(huge, None), "left_outer").df.count())
  }

  test("reference geo example end-to-end: geo.ttl + geo.rq reproduce the README result") {
    // the reference's own acceptance demo (README.md:17-60): load
    // examples/geo-data/geo.ttl, run geo.rq through the full text parser, and
    // expect the documented 10 ordered rows; coords.rq must parse and return
    // one (lat,long) row per feature
    ReferenceGeo.assumePresent("geo.ttl", "geo.rq", "coords.rq")
    val dir = ReferenceGeo.dir
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$f")), "UTF-8")
    val geoStore = graft.sources.RdfIO.loadTurtle(spark, read("geo.ttl"), graph = "urn:g:geo")
    val eng = new GraftEngine(geoStore)
    val rows = eng.query(read("geo.rq")).collect()
      .map(r => TermRow.fromRow(r.getStruct(0)).asInstanceOf[Iri].value)
    val want = Seq("Buellton,_California", "Lompoc,_California",
      "Los_Alamos,_California", "Mission_Hills,_California", "Orcutt,_California",
      "Santa_Barbara_County,_California", "Santa_Maria,_California",
      "Santa_Ynez,_California", "Solvang,_California", "Vandenberg_Air_Force_Base")
      .map("http://dbpedia.org/resource/" + _)
    assert(rows.toSeq == want, s"got ${rows.mkString(", ")}") // ORDER BY ?s → exact order
    assert(eng.query(read("coords.rq")).count() == 764) // one row per feature
  }

  test("VALUES bind join pushes value-id domains into the pattern scan") {
    val table = ATable(Seq("seg"),
      Seq(Seq(Some(Term.str("BUILDING"))), Seq(Some(Term.str("AUTOMOBILE")))))
    val a = AJoin(table,
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")))))
    val sol = comp.compile(a)
    // the scan carries the pushed isin restriction (bind join), visible as an
    // id IN filter in the optimized plan rather than a post-join filter
    val plan = sol.df.queryExecution.optimizedPlan.toString
    assert(plan.contains("IN (") || plan.contains("isin") || plan.contains(" INSET "),
      s"no pushed domain filter in plan:\n$plan")
    val expected = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).count()
    assert(sol.df.count() == expected)
    // a table value absent from the store restricts to an empty scan
    val none = comp.compile(AJoin(
      ATable(Seq("seg"), Seq(Seq(Some(Term.str("NO_SUCH_SEGMENT"))))),
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg"))))))
    assert(none.df.count() == 0)
  }

  test("REDUCED cap audit: card is a true upper bound and gates coalesce(1)") {
    // the partition-local REDUCED path funnels through coalesce(1), which is
    // only safe because it is gated on an EXACT statistics upper bound
    // (card <= ReducedLocalCap). Audit both halves of that contract:
    // 1) card, when claimed, really is an upper bound on the row count;
    val audited: Seq[Algebra] = Seq(
      BGP(Seq(QuadPattern(V("s"), p("nation", "n_name"), V("o")))),
      BGP(Seq(
        QuadPattern(V("c"), p("customer", "c_name"), V("nm")),
        QuadPattern(V("c"), fk("nation"), V("n")))),
      AFilter(ECall("regex", Seq(EVar("nm"), EConst(Term.str("1$")))),
        BGP(Seq(QuadPattern(V("c"), p("customer", "c_name"), V("nm"))))),
      AJoin(
        BGP(Seq(QuadPattern(V("n"), p("nation", "n_name"), V("nn")))),
        BGP(Seq(QuadPattern(V("r"), p("region", "r_name"), V("rn"))))))
    var claimed = 0
    for (a <- audited) {
      val sol = comp.compile(a)
      for (c <- sol.prof.card) {
        claimed += 1
        assert(sol.df.count() <= c, s"card bound $c violated for $a")
      }
    }
    assert(claimed >= 3, s"only $claimed of ${audited.size} algebras claimed a card bound")
    // 2) the coalesce(1) single-task funnel appears ONLY under a claimed
    //    small bound; an unknown-card REDUCED plans a distributed distinct
    val small = comp.compile(AReduced(AProject(
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")))), Seq("seg"))))
    assert(small.df.queryExecution.executedPlan.toString.contains("Coalesce 1"),
      "small exact-card REDUCED should take the partition-local path")
    val unknown = comp.compile(AReduced(AProject(
      BGP(Seq(QuadPattern(V("s"), V("pp"), V("o")))), Seq("pp"))))
    val up = unknown.df.queryExecution.executedPlan.toString
    assert(!up.contains("Coalesce 1"),
      "unknown-card REDUCED must NOT funnel through coalesce(1)")
  }

  test("DESCRIBE TermRep targets resolve distributed (no driver collect)") {
    val eng = new GraftEngine(tiny)
    // VALUES target: compile-time consts path of toIdRep
    val viaValues = eng.query(
      "DESCRIBE ?x WHERE { VALUES ?x { <http://example.org/s1> } }")
    assert(viaValues.count() == 3) // s1: name, age, knows
    // computed target: BIND(IRI(...)) — no consts, takes the inline-UDF +
    // dictionary-join path
    val viaBind = eng.query(
      "DESCRIBE ?y WHERE { BIND(IRI(\"http://example.org/s2\") AS ?y) }")
    val rows = viaBind.collect()
    assert(rows.length == 1 && rows.head.getString(0).contains("s2"))
    // absent-term target describes nothing (null id matches no quad)
    val absent = eng.query(
      "DESCRIBE ?z WHERE { BIND(IRI(\"http://example.org/nope\") AS ?z) }")
    assert(absent.count() == 0)
  }

  test("forced-gate salted GROUP_CONCAT plan equals the unsalted plan") {
    // the plan every at-scale GROUP_CONCAT takes: hotGroupCap=0 forces the
    // two-phase salted compile for the same algebra the default cap leaves
    // single-phase — plain + DISTINCT + custom separator concat mixed with
    // every other merge the gate admits (count/min/max/sample), over a
    // skewed key (c_mktsegment: 5 hot values over 150 rows at sf0.001)
    val alg = AGroup(
      BGP(Seq(
        QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")),
        QuadPattern(V("c"), p("customer", "c_name"), V("nm")))),
      Seq("seg"),
      Seq(
        AggSpec("names", "group_concat", Some(EVar("nm")), sep = "|"),
        AggSpec("segs_d", "group_concat", Some(EVar("seg")), distinct = true,
          sep = ","), // duplicates per group: DISTINCT must still collapse
        AggSpec("n", "count", None),
        AggSpec("mn", "min", Some(EVar("nm"))),
        AggSpec("mx", "max", Some(EVar("nm"))),
        AggSpec("smp", "sample", Some(EVar("nm")))))
    val casts = Seq("seg" -> "string", "names" -> "string", "segs_d" -> "string",
      "n" -> "long", "mn" -> "string", "mx" -> "string", "smp" -> "string")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val unsaltedDf = Results.native(comp, comp.compile(alg), casts)
    assert(!unsaltedDf.queryExecution.optimizedPlan.toString.contains("__graft_salt"),
      "default cap must keep the single-phase plan at this scale")
    val unsalted = rows(unsaltedDf)
    spark.conf.set(Compiler.HotGroupCapKey, "0")
    try {
      val saltedDf = Results.native(comp, comp.compile(alg), casts)
      assert(saltedDf.queryExecution.optimizedPlan.toString.contains("__graft_salt"),
        "hotGroupCap=0 must fire the two-phase salted plan")
      assert(rows(saltedDf) == unsalted)
    } finally spark.conf.unset(Compiler.HotGroupCapKey)
  }

  test("salted plan handles all-duplicate groups, empty input, and unbound args") {
    // duplicate-heavy shape: every (seg, seg) row is byte-identical within a
    // group pre-aggregation — the spreadSalt path must not change the result
    val dupAlg = AGroup(
      BGP(Seq(QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")))),
      Seq("seg"),
      Seq(AggSpec("all", "group_concat", Some(EVar("seg")), sep = "+"),
        AggSpec("one", "group_concat", Some(EVar("seg")), distinct = true)))
    // unbound-argument shape: OPTIONAL leaves ?age unbound for most rows;
    // GROUP_CONCAT skips unbound, COUNT(?age) counts only bound
    val optAlg = AGroup(
      ALeftJoin(
        BGP(Seq(QuadPattern(V("s"), N.iri("http://example.org/name"), V("nm")))),
        BGP(Seq(QuadPattern(V("s"), N.iri("http://example.org/age"), V("age")))),
        None),
      Seq("nm"),
      Seq(AggSpec("ages", "group_concat", Some(EVar("age"))),
        AggSpec("na", "count", Some(EVar("age")))))
    // empty-input shape: no matches → zero groups (keys nonEmpty)
    val emptyAlg = AGroup(
      BGP(Seq(QuadPattern(V("s"), N.iri("http://example.org/nope"), V("v")))),
      Seq("v"),
      Seq(AggSpec("vs", "group_concat", Some(EVar("v")))))
    def run(c: Compiler, a: Algebra, casts: Seq[(String, String)]) =
      Results.native(c, c.compile(a), casts).collect().map(_.toString).sorted.toSeq
    val dupCasts = Seq("seg" -> "string", "all" -> "string", "one" -> "string")
    val optCasts = Seq("nm" -> "string", "ages" -> "string", "na" -> "long")
    val emptyCasts = Seq("v" -> "string", "vs" -> "string")
    val base = (run(comp, dupAlg, dupCasts), run(tcomp, optAlg, optCasts),
      run(tcomp, emptyAlg, emptyCasts))
    spark.conf.set(Compiler.HotGroupCapKey, "0")
    try {
      assert(run(comp, dupAlg, dupCasts) == base._1)
      assert(run(tcomp, optAlg, optCasts) == base._2)
      assert(run(tcomp, emptyAlg, emptyCasts) == base._3)
    } finally spark.conf.unset(Compiler.HotGroupCapKey)
  }

  test("property: window family invariant to input partitioning AND the salt gate, both paths forced", Slow) {
    // the salted two-phase device rewrites whole-partition GROUP_CONCAT
    // windows; RANK/DENSE_RANK/ROW_NUMBER/NTILE/frame aggregates share the
    // same compiled tree. Over randomized data, randomized input partition
    // counts, and the hot-group gate forced BOTH ways, every window output
    // must be bit-identical (?v is unique per group, so the order is total
    // and even GROUP_CONCAT strings are deterministic).
    val ex = "http://example.org/w/"
    def iri(s: String) = Iri(ex + s)
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val alg = AWindow(BGP(Seq(
        QuadPattern(V("s"), N.iri(ex + "grp"), V("grp")),
        QuadPattern(V("s"), N.iri(ex + "val"), V("v")))),
      Seq(
        WinSpec("rk", "rank", None, Seq("grp"), Seq(SortKey(EVar("v"), asc = false))),
        WinSpec("drk", "dense_rank", None, Seq("grp"), Seq(SortKey(EVar("v"), asc = false))),
        WinSpec("rn", "row_number", None, Seq("grp"), Seq(SortKey(EVar("v")))),
        WinSpec("qt", "ntile", None, Seq("grp"), Seq(SortKey(EVar("v"))), arg = 3),
        WinSpec("ms", "sum", Some(EVar("v")), Seq("grp"), Seq(SortKey(EVar("v"))),
          frame = Some((-2L, 0L))),
        WinSpec("trail", "group_concat", Some(EVar("v")), Seq("grp"),
          Seq(SortKey(EVar("v"))), sep = ",")))
    for (seed <- Seq(7L, 19L)) {
      val rnd = new scala.util.Random(seed)
      val groups = Seq("g0", "g1", "g2")
      val subjects = rnd.shuffle((0 until 40 + rnd.nextInt(40)).toVector).map { i =>
        (iri(s"s$i"), groups(rnd.nextInt(groups.length)), i)
      }
      val quads = subjects.flatMap { case (s, g, v) =>
        Seq((s, iri("grp"), Term.str(g)), (s, iri("val"), Term.int(v)))
      }
      def run(parts: Int): Seq[String] = {
        val rows = quads.map { case (s, pp, o) =>
          Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o),
            TermRow.toRow(iri("gg")))
        }
        val st = StoreEncoder.encode(
          spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema),
          IriScheme.default)
        val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
        Results.materialize(c, c.compile(alg)).collect().map(_.toString).sorted.toSeq
      }
      val base = run(1)
      assert(base.nonEmpty)
      for (parts <- Seq(4, 9))
        assert(run(parts) == base, s"partitioning $parts changed windows at seed=$seed")
      spark.conf.set(Compiler.HotGroupCapKey, "0")
      try {
        // not vacuous: the forced gate must actually reroute the
        // whole-partition GROUP_CONCAT through the salted two-phase plan
        val rows1 = quads.map { case (s, pp, o) =>
          Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o),
            TermRow.toRow(iri("gg")))
        }
        val st1 = StoreEncoder.encode(
          spark.createDataFrame(spark.sparkContext.parallelize(rows1, 4), schema),
          IriScheme.default)
        val c1 = new Compiler(st1, ExprEval.Ctx(nowEpochUs = 0L))
        assert(c1.compile(alg).df.queryExecution.optimizedPlan.toString
            .contains("__graft_salt"),
          "hotGroupCap=0 must fire the salted window plan for this shape")
        for (parts <- Seq(1, 4, 9))
          assert(run(parts) == base,
            s"salted gate changed windows at seed=$seed parts=$parts")
      } finally spark.conf.unset(Compiler.HotGroupCapKey)
    }
  }

  test("tagged-row devices take the reliable checkpoint when a checkpoint dir is configured") {
    val ex = "http://example.org/"
    val knows = EExists(BGP(Seq(
      QuadPattern(V("x"), N.iri(ex + "knows"), V("y")))), negated = false)
    // BIND(EXISTS) → existsFlag's tagged frame; OPTIONAL+EXISTS-filter →
    // compileLeftJoinFilter's tagged frame — both route through pinTagged
    val bindAlg = AExtend(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))), "e", knows)
    val optAlg = ALeftJoin(
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "name"), V("n")))),
      BGP(Seq(QuadPattern(V("x"), N.iri(ex + "age"), V("a")))),
      Some(knows))
    def run(a: Algebra): Seq[String] = Results.materialize(tcomp, tcomp.compile(a))
      .collect().map(_.toString).sorted.toSeq
    val base = (run(bindAlg), run(optAlg))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      assert((run(bindAlg), run(optAlg)) == base,
        "results must not change under reliable checkpointing")
      def files(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(files).sum).getOrElse(0)
        else 1
      assert(files(dir) > 0,
        "reliable checkpoint wrote nothing under the configured dir")
    } finally {
      // SparkContext has no public unset; restore via the var's setter so the
      // shared test session goes back to executor-local checkpoints
      val m = spark.sparkContext.getClass
        .getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
      m.setAccessible(true)
      m.invoke(spark.sparkContext, None)
    }
  }

  test("zero-length paths match constant endpoints ABSENT from the graph (fuzzer find)") {
    // SPARQL 1.1 §18.4 ALP puts the start term in the result set before any
    // step, so `?x p* <absent>` yields x = <absent> even though no quad
    // mentions it — including id-less literals like NaN (term equality, not
    // IEEE equality, decides the zero-length match)
    val ex = "http://example.org/"
    def rows(a: Algebra) =
      Results.materialize(tcomp, tcomp.compile(Rewriter.rewrite(a))).collect()
    val absentIri = T(Iri(ex + "not-in-graph"))
    val nan = T(Lit("NaN", Term.xsdDouble, null))
    // ?x knows* <absent> → exactly the zero-length row
    val r1 = rows(APath(V("x"), PStar(PLink(ex + "knows")), absentIri))
    assert(r1.map(_.getStruct(0).getString(1)).toSeq == Seq(ex + "not-in-graph"))
    // ?x knows* "NaN"^^xsd:double → x = the NaN literal
    val r2 = rows(APath(V("x"), PStar(PLink(ex + "knows")), nan))
    assert(r2.length == 1 && r2.head.getStruct(0).getString(1) == "NaN")
    // <absent> knows* <absent> → one (empty) solution; different constants → none
    assert(rows(APath(absentIri, PStar(PLink(ex + "knows")), absentIri)).length == 1)
    assert(rows(APath(absentIri, PStar(PLink(ex + "knows")), T(Iri(ex + "s1")))).isEmpty)
    // zero-or-one behaves the same on the zero branch
    val r3 = rows(APath(V("x"), PZeroOne(PLink(ex + "knows")), nan))
    assert(r3.length == 1 && r3.head.getStruct(0).getString(1) == "NaN")
    // and one-or-more does NOT manufacture the zero-length row
    assert(rows(APath(V("x"), PPlus(PLink(ex + "knows")), absentIri)).isEmpty)
  }

  test("duplicate input quads collapse at load: RDF graphs are sets (fuzzer find)") {
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    val g = iri("g")
    val dup: Seq[(Term, Term, Term, Term)] = Seq(
      (iri("a"), iri("p"), iri("b"), g),
      (iri("a"), iri("p"), iri("b"), g), // byte-identical duplicate
      (iri("a"), iri("p"), Term.str("x"), g),
      // same value, different lexical form: NOT a duplicate (term identity)
      (iri("a"), iri("q"), Term.int(1), g),
      (iri("a"), iri("q"), Lit("01", Term.xsdInteger, null), g))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = dup.map { case (s, pp, o, gg) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg)) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val store = StoreEncoder.encode(df, IriScheme.default)
    assert(store.quads.count() == 4, "duplicate quad must collapse; lexical variants must not")
    val c = new Compiler(store, ExprEval.Ctx(nowEpochUs = 0L))
    val sol = c.compile(BGP(Seq(QuadPattern(V("s"), N.iri(ex + "p"), V("o")))))
    assert(sol.df.count() == 2, "BGP over the deduped store")
  }

  test("q_agg_q1 plan pin: bucket-aligned star, partial aggregate, ONE shuffle (partial→final agg only)") {
    // the three-round-old bench-noise thread (r10-r12): q_agg_q1's recorded
    // seconds drifted with machine load while the plan never changed. Pin the
    // plan STRUCTURALLY so a real regression (an exchange sneaking between
    // the co-bucketed scans, or the map-side combine disappearing) is caught
    // by the suite rather than inferred from timing archaeology.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable size-based broadcast so the assertion reflects the at-scale
    // plan, where no side of the 5-pattern star fits in a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q_agg_q1")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val hashEx = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 1,
        s"q_agg_q1 must shuffle exactly once (group-key exchange between " +
          s"partial and final aggregate); got $hashEx:\n${plan.take(4000)}")
      assert(plan.contains("partial_"),
        s"map-side (partial) aggregation missing:\n${plan.take(4000)}")
      // the one hash exchange must sit between the two aggregate halves,
      // i.e. below the final HashAggregate — not between scans
      val lines = plan.split("\n")
      val firstAgg = lines.indexWhere(_.contains("HashAggregate"))
      val exLine = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(firstAgg >= 0 && exLine > firstAgg,
        "the single exchange must be the aggregate boundary, not a join shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q_agg_minmax plan pin: star join exchange-free, partial min/max, ONE shuffle") {
    // r13's only shared-query drift (0.21 → 0.55 s, plan unchanged, 130 ms GC
    // recorded inside the window). Same structural pin as q_agg_q1 so any
    // FUTURE movement is either environmental (self-labeled by gc_jit_load)
    // or a caught plan regression — never timing archaeology again.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q_agg_minmax")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val hashEx = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 1,
        s"q_agg_minmax must shuffle exactly once (aggregate boundary); " +
          s"got $hashEx:\n${plan.take(4000)}")
      assert(plan.contains("partial_min") && plan.contains("partial_max"),
        s"map-side partial min/max missing:\n${plan.take(4000)}")
      val lines = plan.split("\n")
      val firstAgg = lines.indexWhere(_.contains("HashAggregate"))
      val exLine = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(firstAgg >= 0 && exLine > firstAgg,
        "the single exchange must be the aggregate boundary, not a join shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("characteristic-sets star COUNT: LocalRelation-only plan, exact values, principled refusal") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def isStatic(sol: Sol): Boolean =
      sol.df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    def countOf(c: Compiler, sol: Sol): Long =
      Results.materialize(c, sol).collect()
        .map(_.getStruct(0).getString(1).toLong).head
    // the in-memory testdata store, explicitly ANALYZEd: the static shortcut
    // only consults persisted/ANALYZEd stats (compile never launches the
    // characteristic-set pass as a side effect)
    val aComp = new Compiler(store.analyze(), ExprEval.Ctx(nowEpochUs = 0L))
    val star = AGroup(BGP(Seq(
      QuadPattern(V("c"), p("customer", "c_name"), V("nm")),
      QuadPattern(V("c"), p("customer", "c_acctbal"), V("bal")),
      QuadPattern(V("c"), p("customer", "c_mktsegment"), V("seg")))),
      Seq.empty, Seq(AggSpec("n", "count", None)))
    val sol = aComp.compile(star)
    assert(isStatic(sol), "star COUNT(*) must compile to a LocalRelation-only plan:\n" +
      sol.df.queryExecution.optimizedPlan.toString)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(countOf(aComp, sol) == nCust)
    // COUNT(DISTINCT ?s) over a 2-pattern star
    val distinctS = AGroup(BGP(Seq(
      QuadPattern(V("o"), p("orders", "o_orderstatus"), V("st")),
      QuadPattern(V("o"), p("orders", "o_totalprice"), V("tp")))),
      Seq.empty, Seq(AggSpec("n", "count", Some(EVar("o")), distinct = true)))
    val solD = aComp.compile(distinctS)
    assert(isStatic(solD), "star COUNT(DISTINCT ?s) must be static")
    assert(countOf(aComp, solD) == spark.read.parquet(s"$sf/orders.parquet").count())
    // multi-valued predicate: COUNT(*) must REFUSE the static path (per-set
    // totals can't reproduce Σ_s Π m_i(s)) and still answer correctly;
    // COUNT(DISTINCT ?s) stays static (no single-valuedness requirement)
    val ex = "http://example.org/mv/"
    def iri(s: String) = Iri(ex + s)
    val g = iri("g")
    val mvQuads: Seq[(Term, Term, Term, Term)] = Seq(
      (iri("d1"), iri("name"), Term.str("a"), g),
      (iri("d1"), iri("tag"), Term.str("t1"), g),
      (iri("d1"), iri("tag"), Term.str("t2"), g),
      (iri("d2"), iri("name"), Term.str("b"), g),
      (iri("d2"), iri("tag"), Term.str("t3"), g),
      (iri("d3"), iri("name"), Term.str("c"), g)) // no tag: outside the star
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = mvQuads.map { case (s0, pp, o, gg) =>
      Row(TermRow.toRow(s0), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(gg))
    }
    // in-memory stores must OPT IN to the static shortcut via analyze() —
    // compile itself never launches the characteristic-set pass (job-free
    // compile invariant); without analyze() the star would stay dynamic
    val mvStore = StoreEncoder.encode(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      IriScheme.default).analyze()
    val mvComp = new Compiler(mvStore, ExprEval.Ctx(nowEpochUs = 0L))
    val mvStar = BGP(Seq(
      QuadPattern(V("x"), N.iri(ex + "name"), V("nm")),
      QuadPattern(V("x"), N.iri(ex + "tag"), V("tg"))))
    val mvCount = mvComp.compile(AGroup(mvStar, Seq.empty,
      Seq(AggSpec("n", "count", None))))
    assert(!isStatic(mvCount),
      "COUNT(*) over a multi-valued predicate must stay dynamic")
    assert(countOf(mvComp, mvCount) == 3L) // d1 × {t1,t2} + d2 × {t3}
    val mvDist = mvComp.compile(AGroup(mvStar, Seq.empty,
      Seq(AggSpec("n", "count", Some(EVar("x")), distinct = true))))
    assert(isStatic(mvDist),
      "COUNT(DISTINCT ?s) is exact from set totals even with multi-valued predicates")
    assert(countOf(mvComp, mvDist) == 2L) // d1, d2 (d3 has no tag)
    // un-ANALYZEd in-memory store: compile must refuse the static path (and
    // thereby launch no characteristic-set job at compile time) yet answer
    // the same count dynamically
    val rawStore = StoreEncoder.encode(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      IriScheme.default)
    val rawComp = new Compiler(rawStore, ExprEval.Ctx(nowEpochUs = 0L))
    val rawDist = rawComp.compile(AGroup(mvStar, Seq.empty,
      Seq(AggSpec("n", "count", Some(EVar("x")), distinct = true))))
    assert(!isStatic(rawDist), "no-stats store must stay dynamic at compile")
    assert(countOf(rawComp, rawDist) == 2L)
  }

  test("windowed GROUP_CONCAT: forced hot-group gate takes the salted two-phase plan, identical rows") {
    // whole-partition frame → expressible as aggregate + join-back, which is
    // what unlocks compileGroup's salted device for the WINDOW shape too
    // (q_agg_concat's scale plan); ORDER BY ?nm is total within a partition
    // (nation names unique), so both plans must produce identical strings
    val alg = AWindow(
      BGP(Seq(
        QuadPattern(V("n"), fk("region"), V("r")),
        QuadPattern(V("n"), p("nation", "n_name"), V("nm")),
        QuadPattern(V("r"), p("region", "r_name"), V("rn")))),
      Seq(WinSpec("acc", "group_concat", Some(EVar("nm")), Seq("rn"),
        Seq(SortKey(EVar("nm"))), frame = None, sep = ",")))
    def rows(sol: Sol): Seq[String] =
      Results.materialize(comp, sol).collect().map(_.toString).sorted.toSeq
    // pin the DEFAULT-cap plan to the single-phase window (test store stats
    // bound the input far below the cap)
    val baseSol = comp.compile(alg)
    assert(!baseSol.df.queryExecution.optimizedPlan.toString.contains("__graft_salt"),
      "below the cap the plain window plan must be used")
    val base = rows(baseSol)
    spark.conf.set(Compiler.HotGroupCapKey, "0")
    try {
      val forcedSol = comp.compile(alg)
      val plan = forcedSol.df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_salt"),
        s"forced gate must compile the salted two-phase plan:\n${plan.take(3000)}")
      assert(rows(forcedSol) == base,
        "salted two-phase windowed GROUP_CONCAT must equal the single-phase window")
    } finally spark.conf.unset(Compiler.HotGroupCapKey)
  }

  // ---- Profile transfer rules, and plan pins of the entries whose
  // statistics facts used to be dropped on the way to the result edge ----

  lazy val bucketed = graft.queries.Battery.compiler(spark, sf) // persisted, subject-bucketed
  def scan(pr: T, o: String) = bucketed.compile(BGP(Seq(QuadPattern(V("c"), pr, V(o)))))

  /** A sol binding `vars` as ids; only its vars and facts matter to the rules. */
  def idSol(vars: Seq[String], prof: Profile) =
    Sol.ofIds(spark.emptyDataFrame, vars).copy(prof = prof)

  test("profile: the layout fact is cleared where an exchange re-keys the frame") {
    val s = scan(p("customer", "c_acctbal"), "bal")
    assert(s.prof.bucketS == Set("c") && s.prof.inl.nonEmpty && s.prof.card.isDefined)
    val rekeyed = s.prof.rekeyed
    assert(rekeyed.bucketS.isEmpty)
    assert(rekeyed == s.prof.copy(bucketS = Set.empty), "only the layout fact goes")
    val windowed = bucketed.compile(AWindow(BGP(Seq(QuadPattern(V("c"), p("customer", "c_acctbal"),
      V("bal")))), Seq(WinSpec("rk", "rank", None, Seq("c"), Seq(SortKey(EVar("bal"), true))))))
    assert(windowed.prof.bucketS.isEmpty, "a window re-keys the frame")
    assert(windowed.prof.inl == s.prof.inl && windowed.prof.card == s.prof.card,
      "a window adds a column: value facts and card survive")
    val grouped = bucketed.compile(AGroup(BGP(Seq(QuadPattern(V("c"), p("customer", "c_acctbal"),
      V("bal")))), Seq("c"), Seq(AggSpec("n", "count"))))
    assert(grouped.prof.bucketS.isEmpty, "a group re-keys the frame")
  }

  test("profile: semi and anti joins keep the left side's card and facts") {
    val left = scan(p("customer", "c_acctbal"), "bal")
    val right = scan(p("customer", "c_name"), "name")
    for (kind <- Seq("left_semi", "left_anti")) {
      val out = bucketed.joinSols(left, right, kind)
      assert(out.prof == left.prof, s"$kind: ${out.prof} vs ${left.prof}")
      assert(out.prof.card == left.prof.card && left.prof.card.isDefined)
    }
    // an inner join on a functional subject keeps the other side's bound
    val inner = bucketed.joinSols(left, right, "inner")
    assert(inner.prof.card.isDefined && inner.prof.card.get <= left.prof.card.get)
  }

  test("profile: a union keeps a value fact where every binding branch has it") {
    val l = idSol(Seq("x", "y", "w"), Profile(inl = Set("x", "y"), fam = Map("x" -> Sol.FAM_INT,
      "w" -> Sol.FAM_DBL), multOne = Set("x"), bucketS = Set("x"), card = Some(3L)))
    val r = idSol(Seq("x", "z", "w"), Profile(inl = Set("z"), fam = Map("x" -> Sol.FAM_INT,
      "w" -> Sol.FAM_DEC), multOne = Set("x"), bucketS = Set("x"), card = Some(4L)))
    val u = Profile.union(l, r, Set.empty)
    assert(u.inl == Set("y", "z"), "x is not inline on the right branch")
    assert(u.fam == Map("x" -> Sol.FAM_INT), "families must agree across branches")
    assert(u.multOne.isEmpty, "a union can repeat a value")
    assert(u.bucketS.isEmpty, "a union has no one layout")
    assert(u.card.contains(7L))
  }

  test("profile: restrict and without keep only the named vars' facts") {
    val f = Profile(inl = Set("a", "b"), numAll = Set("a"), fam = Map("b" -> Sol.FAM_INT),
      decs = Set("a"), consts = Map("b" -> Nil), multOne = Set("a", "b"), bucketS = Set("a"),
      card = Some(9L))
    assert(f.restrict(Set("b")) == Profile(inl = Set("b"), fam = Map("b" -> Sol.FAM_INT),
      consts = Map("b" -> Nil), multOne = Set("b"), card = Some(9L)))
    assert(f.without(Seq("a")) == f.restrict(Set("b")))
  }

  test("profile: MINUS and EXISTS flags drop a double family, so an integer SUM stays xsd:integer") {
    val ex = "http://example.org/"
    def iri(s: String) = Iri(ex + s)
    assert(Profile(fam = Map("d" -> Sol.FAM_DBL, "i" -> Sol.FAM_INT)).subset.fam ==
      Map("i" -> Sol.FAM_INT))
    // :p mixes an integer and a double, so its scan is FAM_DBL; each pattern
    // below keeps only :a's integer row, whose SUM is 1 typed xsd:integer
    val quads = Seq((iri("a"), iri("p"), Term.int(1)), (iri("b"), iri("p"), Term.dbl(2.5)),
      (iri("a"), iri("q"), iri("z")), (iri("b"), iri("q"), iri("w")),
      (iri("k"), iri("t"), iri("w")))
    val schema = StructType(Seq("s", "p", "o", "g").map(n =>
      StructField(n, TermRow.schema, nullable = true)))
    val rows = quads.map { case (s, pp, o) =>
      Row(TermRow.toRow(s), TermRow.toRow(pp), TermRow.toRow(o), TermRow.toRow(iri("g")))
    }
    val st = StoreEncoder.encode(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), IriScheme.default)
    val c = new Compiler(st, ExprEval.Ctx(nowEpochUs = 0L))
    assert(c.compile(BGP(Seq(QuadPattern(V("x"), T(iri("p")), V("v")))))
      .prof.fam.get("v").contains(Sol.FAM_DBL))
    for (where <- Seq(
        "?x :p ?v FILTER(EXISTS { ?x :q :z } || ?x = :none)", // correlated flag
        "?x :p ?v FILTER(EXISTS { :k :t :none } || ?x = :a)", // uncorrelated flag
        "?x :p ?v BIND(EXISTS { ?x :q :z } AS ?e) FILTER(?e)",
        "?x :p ?v OPTIONAL { ?x :q ?z } MINUS { ?k :t ?z }")) { // ?z possibly unbound
      val q = graft.parser.SparqlParser.parse(
        s"PREFIX : <$ex> SELECT (SUM(?v) AS ?s) WHERE { $where }")
      val r = Results.materialize(c, c.compile(q.algebra)).collect().head
      val s = r.getStruct(r.fieldIndex("s"))
      assert((s.getString(1), s.getString(2)) == ("1", Term.xsdInteger), where)
    }
  }

  // Pins of the executed plan's dictionary-decode joins and Exchanges for the
  // entries whose facts were dropped before: the window chain and the
  // sequence and negated-set paths. Each count is the value the entry had
  // before the facts became one Profile value; a rise means a fact is lost
  // on the way to the result edge again.
  for ((name, decodeJoins, exchanges) <- Seq(
      ("q_sparql_window", 0, 3), ("q_path_seq", 1, 3), ("q_path_nps", 1, 1)))
    test(s"$name plan pin: $decodeJoins decode joins, $exchanges exchanges") {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shape = PlanShape.of(plan)
      assert((shape.decodeJoins, shape.exchanges) == (decodeJoins, exchanges), s"\n$plan")
    }
}
