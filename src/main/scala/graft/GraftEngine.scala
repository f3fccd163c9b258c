package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.algebra._
import graft.engine._
import graft.model.Term
import graft.parser.SparqlParser
import graft.store.{RdfStore, RelToRdf}

/** Public facade: execute SPARQL 1.1 text queries against an [[RdfStore]].
  *
  * Mirrors the reference's library entry point (`query.execute(quadstore:)`,
  * kasei/kineo `Sources/Kineo/SPARQL/Query.swift:65-76`): parse → algebra →
  * compile → DataFrame, with query-form dispatch
  * (`QueryPlanner.swift:1169-1202`).
  *
  *  - SELECT  → one struct column (kind, lex, dt, lang, num) per projected
  *    variable; NULL = unbound
  *  - ASK     → single boolean column `ask`
  *  - CONSTRUCT/DESCRIBE → (subject, predicate, object) lexical-form strings
  */
final class GraftEngine(val store: RdfStore,
    extensions: Map[String, Seq[Term] => Term] = Map.empty,
    serviceClient: Option[ServiceClient] = None) {

  val compiler = new Compiler(store,
    ExprEval.Ctx(System.currentTimeMillis() * 1000L, extensions), serviceClient)

  def query(sparql: String): DataFrame = {
    val pq0 = SparqlParser.parse(sparql)
    val pq = pq0.copy(algebra = Rewriter.rewrite(pq0.algebra))
    val compiler = compilerFor(pq)
    pq.form match {
      case "select" =>
        val m = Results.materialize(compiler, compiler.compile(pq.algebra))
        // materialize orders columns alphabetically; restore projection order
        if (pq.projection.nonEmpty)
          m.select(pq.projection.filter(m.columns.contains)
            .map(org.apache.spark.sql.functions.col): _*)
        else m
      case "ask" =>
        Results.ask(compiler.compile(pq.algebra))
      case "construct" =>
        Results.construct(compiler, compiler.compile(pq.algebra), pq.constructTemplates)
      case "describe" =>
        val sol = compiler.compile(pq.algebra)
        val targets = // DESCRIBE * = every variable in scope
          if (pq.describeVars == Seq("*")) sol.reps.keySet.toSeq.sorted
          else pq.describeVars
        Results.describe(compiler, sol, targets)
    }
  }

  /** FROM/FROM NAMED: compile against a store restricted to the given dataset
    * (reference dataset handling, QueryPlanner.swift:209-244). */
  private def compilerFor(pq: graft.parser.ParsedQuery): Compiler =
    if (pq.defaultGraphs.isEmpty && pq.namedGraphs.isEmpty) this.compiler
    else {
      def ids(iris: Seq[String]) = iris.flatMap(i => store.idOf(graft.model.Iri(i)))
      val restricted = store.copy(
        defaultGraphs =
          if (pq.defaultGraphs.nonEmpty) ids(pq.defaultGraphs) else store.defaultGraphs,
        namedGraphs = if (pq.namedGraphs.nonEmpty) Some(ids(pq.namedGraphs)) else None)
      new Compiler(restricted, this.compiler.ctx, this.compiler.serviceClient)
    }

  /** Raw compiled solution (id-space columns) — for composition with DataFrame code. */
  def solutions(sparql: String): Sol =
    compiler.compile(Rewriter.rewrite(SparqlParser.parse(sparql).algebra))

  /** CONSTRUCT results as term structs (kind/datatype/lang preserved) — the
    * lossless form used by the W3C conformance comparison; `query` returns the
    * lexical (s,p,o) strings form. */
  def constructQuads(sparql: String): DataFrame = {
    val pq0 = SparqlParser.parse(sparql)
    require(pq0.form == "construct", s"not a CONSTRUCT query: ${pq0.form}")
    val pq = pq0.copy(algebra = Rewriter.rewrite(pq0.algebra))
    val c = compilerFor(pq)
    Results.constructTerms(c, c.compile(pq.algebra), pq.constructTemplates)
  }

  /** Explain-analyze: execute the query, then render the physical plan with
    * per-operator runtime metrics (rows, spill, build sizes) — the Spark
    * analogue of the reference's metrics-wrapped plan nodes
    * (SPARQL/QueryPlan.swift:11-111) — and end with its [[PlanShape]]. */
  def explainAnalyze(sparql: String): String = {
    val pq = SparqlParser.parse(sparql)
    val alg = Rewriter.rewrite(pq.algebra)
    val sol = compilerFor(pq).compile(alg)
    // execute THIS plan instance (df.count() would build a separate one and
    // leave these operators' metrics empty)
    val plan = sol.df.queryExecution.executedPlan
    val n = plan.execute().count()
    val sb = new StringBuilder
    sb.append(s"== SPARQL algebra (rewritten) ==\n")
    sb.append(graft.algebra.AlgebraPrint.pretty(alg))
    sb.append(s"\n== Executed plan with metrics (result rows: $n) ==\n")
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.value > 0 => s"$k=${m.value}"
      }
      sb.append("  " * depth).append(p.nodeName)
      if (ms.nonEmpty) sb.append(ms.mkString(" [", ", ", "]"))
      sb.append('\n')
      PlanShape.children(p).foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    sb.append(s"plan shape: ${PlanShape.of(plan).json}\n")
    sb.toString
  }

  /** Explain: rewritten algebra tree + Catalyst's formatted physical plan
    * (reference kineo-cli explain, kineo-cli/main.swift:275-334). */
  def explain(sparql: String): String = {
    val pq = SparqlParser.parse(sparql)
    val alg = Rewriter.rewrite(pq.algebra)
    val comp = compilerFor(pq)
    val sol = comp.compile(alg)
    val physical = sol.df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // statistics display (reference explain prints per-plan cost estimates,
    // kineo-cli/main.swift:275-334): for each BGP, the join-order DP's chosen
    // left-deep order and estimated output rows
    val stats = new StringBuilder
    def fmtNode(n: graft.algebra.Node): String = n match {
      case graft.algebra.V(v) => s"?$v"
      case graft.algebra.T(t) => t.toString
      case other => other.toString
    }
    def walkAlg(a: graft.algebra.Algebra): Unit = a match {
      case graft.algebra.BGP(ps) if ps.nonEmpty =>
        val (order, est) = comp.bgpEstimate(ps)
        stats.append(f"  BGP (${ps.size} patterns): est rows ~ ${est}%.1f\n")
        // only show a join order that is actually executed: small/huge BGPs
        // run the greedy path, not the DP order bgpEstimate returns
        if (comp.bgpUsesDP(ps))
          order.foreach(qp => stats.append(
            s"    ${fmtNode(qp.s)} ${fmtNode(qp.p)} ${fmtNode(qp.o)}\n"))
      case other => other.productIterator.foreach {
        case c: graft.algebra.Algebra => walkAlg(c)
        case _ => ()
      }
    }
    walkAlg(alg)
    s"== SPARQL algebra (rewritten) ==\n${graft.algebra.AlgebraPrint.pretty(alg)}" +
      (if (stats.nonEmpty) s"\n== Statistics (DP join order, estimated rows) ==\n$stats" else "") +
      s"\n== Spark physical plan ==\n$physical"
  }
}

object GraftEngine {
  /** Engine over the relational testdata mapped to RDF (FIXTURES.md §6). */
  def forTestData(spark: SparkSession, dir: String): GraftEngine =
    new GraftEngine(RelToRdf.cached(spark, dir))
}
