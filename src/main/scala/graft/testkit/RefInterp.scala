package graft.testkit

import graft.algebra._
import graft.model._
import graft.engine.{EvalError, ExprEval, ServiceClient}

/** Tree-walking reference evaluator over the Algebra ADT — the second
  * whole-engine oracle.
  *
  * The reference cross-checks two independent evaluators on every W3C test
  * (`QueryPlanEvaluator` vs `SimpleQueryEvaluator`,
  * kasei/kineo `Sources/Kineo/W3C/SPARQLTestSuite.swift:19-20`; the simple
  * evaluator itself: `Sources/Kineo/SPARQL/SimpleQueryEvaluation.swift`).
  * This is the Spark engine's analogue: a driver-local, collection-based
  * evaluator with NO DataFrames anywhere — a completely independent execution
  * strategy (per-row EXISTS probes instead of semi-joins, nested-loop compat
  * joins instead of hash joins, pair-set fixpoints instead of ALP scans) that
  * must produce the same solutions. [[W3CRunner]] diffs it against the Spark
  * engine on every evaluation test of the vendored corpus.
  *
  * Scope: evaluation semantics only, at test scale (thousands of quads) —
  * nothing here is an execution path of the production engine. Where SPARQL
  * leaves latitude, this evaluator pins the SAME choice the compiler pins so
  * the diff is exact:
  *  - EXISTS is compatibility-based (the compiler's semi/anti-join device,
  *    `Compiler.compileFilter`), not the spec's textual substitution;
  *  - MIN/MAX/SAMPLE use the engine's term total order
  *    (kind, num, lex, dt, lang — `Compiler.sortComponents`);
  *  - GROUP_CONCAT sorts the collected lexical forms (the engine's
  *    deterministic `array_sort` choice) and DISTINCT collapses lexical forms;
  *  - SERVICE SILENT failure yields the unit solution (join identity).
  */
object RefInterp {

  type Binding = Map[String, Term]
  type Triple = (Term, Term, Term)

  /** In-memory dataset: graph name → triples; default-graph names; named-graph
    * names (None = every graph is named, mirroring `RdfStore.namedGraphs`). */
  final case class Dataset(graphs: Map[Term, IndexedSeq[Triple]],
      defaultNames: Set[Term], namedNames: Option[Set[Term]] = None) {
    lazy val defaultTriples: IndexedSeq[Triple] =
      defaultNames.toIndexedSeq.sortBy(_.toString).flatMap(graphs.getOrElse(_, IndexedSeq.empty))
    def namedSet: Set[Term] = namedNames.getOrElse(graphs.keySet)
    def restricted(defaults: Seq[Term], named: Seq[Term]): Dataset = Dataset(
      graphs,
      if (defaults.nonEmpty) defaults.toSet else defaultNames,
      if (named.nonEmpty) Some(named.toSet) else namedNames)
  }

  object Dataset {
    /** Normalize terms through the TermRow codec so literal equality matches
      * what the engine's dictionary sees (empty lang → null, etc.). */
    def fromQuads(quads: Seq[(Term, Term, Term, Term)], defaults: Set[Term]): Dataset = {
      def n(t: Term): Term = TermRow.fromRow(TermRow.toRow(t))
      val by = quads.groupBy(q => n(q._4)).map { case (g, qs) =>
        // RDF graphs are SETS: duplicate input quads collapse (mirrors
        // StoreEncoder.encode's id-tuple dedup)
        g -> qs.map(q => (n(q._1), n(q._2), n(q._3))).distinct.toIndexedSeq
      }
      Dataset(by, defaults.map(n))
    }
  }

  // ---- the engine's term total order (Compiler.sortComponents) -------------

  /** Sort components (kind, num, lex, dt, lang); null/None first ascending,
    * last descending — exactly Spark's asc_nulls_first/desc_nulls_last over
    * the compiler's component columns. */
  private def comps(t: Term): (Option[Int], Option[Double], Option[String],
      Option[String], Option[String]) = t match {
    case null => (None, None, None, None, None)
    case BNode(l) => (Some(TermRow.KIND_BLANK), None, Some(l), None, None)
    case Iri(v) => (Some(TermRow.KIND_IRI), None, Some(v), None, None)
    case lit @ Lit(l, dt, lang) =>
      (Some(TermRow.KIND_LITERAL), Term.numericValue(lit), Some(l), Option(dt),
        Option(lang).filter(_.nonEmpty))
  }

  private def cmpOpt[A](a: Option[A], b: Option[A], asc: Boolean)(
      cmp: (A, A) => Int): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => if (asc) -1 else 1
    case (_, None) => if (asc) 1 else -1
    case (Some(x), Some(y)) => if (asc) cmp(x, y) else -cmp(x, y)
  }

  /** Compare under the engine total order; `asc=false` flips values AND null
    * placement (desc_nulls_last), matching the compiled ORDER BY. */
  def cmpTerms(a: Term, b: Term, asc: Boolean = true): Int = {
    val (ka, na, la, da, ga) = comps(a)
    val (kb, nb, lb, db, gb) = comps(b)
    var c = cmpOpt(ka, kb, asc)(Integer.compare)
    if (c == 0) c = cmpOpt(na, nb, asc)(java.lang.Double.compare)
    if (c == 0) c = cmpOpt(la, lb, asc)((x, y) => x.compareTo(y))
    if (c == 0) c = cmpOpt(da, db, asc)((x, y) => x.compareTo(y))
    if (c == 0) c = cmpOpt(ga, gb, asc)((x, y) => x.compareTo(y))
    c
  }

  private val termOrd: Ordering[Term] = (a, b) => cmpTerms(a, b)

  // ---- expression evaluation ----------------------------------------------

  final case class Env(ds: Dataset, ctx: ExprEval.Ctx,
      service: Option[ServiceClient])

  private def bindFn(row: Binding): String => Term = n => row.getOrElse(n, null)

  /** Per-row EXISTS resolution: replace each EExists node with its boolean
    * before handing the expression to [[ExprEval.eval]] (which rejects raw
    * EXISTS). Substitution semantics (SPARQL 1.1 §18.6): the outer row's
    * bindings SEED the pattern's evaluation — [[evalSeeded]] mirrors the
    * compiled engine's correlation injection exactly (descend filter/extend/
    * left-preserved/minuend/union/join-left — and join-shaped RIGHT operands
    * when they hold nested-only seed refs; splice the seed elsewhere), so
    * outer vars referenced only in nested scopes (a nested NOT EXISTS, a
    * join-right filter) still correlate. MINUS right stays unseeded (pinned:
    * see Compiler.injectEnv). */
  private def resolveExists(e: Expr, row: Binding, env: Env): Expr = e match {
    case EExists(pat, neg) =>
      val seed = row.view.filterKeys(Algebra.deepVars(pat)).toMap
      val hit = evalSeeded(pat, seed, env).nonEmpty
      EConst(Term.bool(if (neg) !hit else hit))
    case ECall(fn, args) => ECall(fn, args.map(resolveExists(_, row, env)))
    case other => other
  }

  /** Evaluate `a` under an ambient seed binding (the EXISTS correlation):
    * the seed constrains evaluation wherever the compiled engine would join
    * its correlation env — same descent rules as `Compiler.injectEnv`. */
  private def evalSeeded(a: Algebra, seed: Binding, env: Env): Seq[Binding] =
    if (seed.isEmpty) eval(a, env)
    else a match {
      case AFilter(expr, c) =>
        val scope = ExprEval.freshScope()
        evalSeeded(c, seed, env).filter(ebv(expr, _, env, scope))
      case AExtend(c, v, expr) =>
        evalSeeded(c, seed, env).map { row =>
          val t = evalExpr(expr, row, env, ExprEval.freshScope())
          if (t == null) row else row + (v -> t)
        }
      case ALeftJoin(l, r, expr) =>
        val right = evalSeededRight(r, seed, env)
        val scope = ExprEval.freshScope()
        evalSeeded(l, seed, env).flatMap { lr =>
          val ms = right.flatMap(rr => merge(lr, rr))
            .filter(m => expr.forall(e => ebv(e, m, env, scope)))
          if (ms.nonEmpty) ms else Seq(lr)
        }
      case AMinus(l, r) =>
        // right side deliberately UNseeded: substitution would make outer
        // values constants, not bindings — seeding would flip the §8.3.3
        // domain-disjointness rule (pinned; mirrors Compiler.injectEnv).
        val right = eval(r, env)
        evalSeeded(l, seed, env).filter(lr => !right.exists(rr =>
          compatible(lr, rr) && lr.keySet.intersect(rr.keySet).nonEmpty))
      case AUnion(l, r) => evalSeeded(l, seed, env) ++ evalSeeded(r, seed, env)
      case AJoin(l, r) =>
        val right = evalSeededRight(r, seed, env)
        evalSeeded(l, seed, env).flatMap(lr => right.flatMap(rr => merge(lr, rr)))
      case other => eval(other, env).flatMap(r => merge(seed, r))
    }

  /** Right operand of a join-shaped operator: seeded only when it references
    * seed vars in nested-only positions — the exact gate of
    * `Compiler.injectRight` (in-scope occurrences are already constrained by
    * the enclosing merge, and the common uncorrelated case stays unseeded). */
  private def evalSeededRight(r: Algebra, seed: Binding, env: Env): Seq[Binding] =
    if ((Algebra.freeDeep(r) intersect seed.keySet).nonEmpty)
      evalSeeded(r, seed, env)
    else eval(r, env)

  /** Evaluate to a term; SPARQL error → null (callers decide drop/unbound). */
  private def evalExpr(e: Expr, row: Binding, env: Env,
      scope: ExprEval.BnodeScope): Term =
    try ExprEval.eval(resolveExists(e, row, env), bindFn(row), env.ctx, scope)
    catch { case _: EvalError => null }

  private def ebv(e: Expr, row: Binding, env: Env,
      scope: ExprEval.BnodeScope): Boolean =
    try ExprEval.ebvOrErr(
      ExprEval.eval(resolveExists(e, row, env), bindFn(row), env.ctx, scope))
    catch { case _: EvalError => false }

  // ---- solution compatibility ---------------------------------------------

  private def compatible(a: Binding, b: Binding): Boolean =
    a.keySet.intersect(b.keySet).forall(k => a(k) == b(k))

  private def merge(a: Binding, b: Binding): Option[Binding] =
    if (compatible(a, b)) Some(a ++ b) else None

  // ---- BGP / paths --------------------------------------------------------

  private def matchNode(n: Node, t: Term, row: Binding): Option[Binding] = n match {
    case T(c) => if (c == t) Some(row) else None
    case V(v) => row.get(v) match {
      case Some(bound) => if (bound == t) Some(row) else None
      case None => Some(row + (v -> t))
    }
    case DefaultGraph => Some(row)
  }

  /** Graphs a pattern's g slot ranges over: (graph binding, triples). The
    * default graph contributes no g binding. */
  private def graphsFor(g: Node, row: Binding, env: Env): Seq[(Option[(String, Term)], IndexedSeq[Triple])] =
    g match {
      case DefaultGraph => Seq((None, env.ds.defaultTriples))
      case T(name) =>
        if (env.ds.namedSet.contains(name))
          Seq((None, env.ds.graphs.getOrElse(name, IndexedSeq.empty)))
        else Seq.empty
      case V(v) => row.get(v) match {
        case Some(name) =>
          if (env.ds.namedSet.contains(name))
            Seq((None, env.ds.graphs.getOrElse(name, IndexedSeq.empty)))
          else Seq.empty
        case None => env.ds.namedSet.toSeq.sortBy(_.toString).map(name =>
          (Some(v -> name), env.ds.graphs.getOrElse(name, IndexedSeq.empty)))
      }
    }

  private def matchPattern(p: QuadPattern, row: Binding, env: Env): Seq[Binding] =
    graphsFor(p.g, row, env).flatMap { case (gBind, triples) =>
      val row1 = gBind.fold(row)(row + _)
      triples.flatMap { case (s, pr, o) =>
        for {
          r1 <- matchNode(p.s, s, row1)
          r2 <- matchNode(p.p, pr, r1)
          r3 <- matchNode(p.o, o, r2)
        } yield r3
      }
    }

  /** Path pairs over one graph's triples. Non-closure forms keep bag
    * semantics (SPARQL 1.1 §9.3 translations to BGP/join/union); closure
    * forms (`*`, `+`, `?`) are set-valued per ALP. */
  private def pathPairs(p: PathE, triples: IndexedSeq[Triple]): Seq[(Term, Term)] = p match {
    case PLink(iri) => triples.collect { case (s, Iri(v), o) if v == iri => (s, o) }
    case PInv(q) => pathPairs(q, triples).map(_.swap)
    case PSeq(a, b) =>
      val l = pathPairs(a, triples)
      val r = pathPairs(b, triples).groupBy(_._1)
      l.flatMap { case (s, m) => r.getOrElse(m, Nil).map { case (_, o) => (s, o) } }
    case PAlt(a, b) => pathPairs(a, triples) ++ pathPairs(b, triples)
    case PNeg(fwd, rev) =>
      val fwdSet = fwd.toSet
      val revSet = rev.toSet
      val f = triples.collect { case (s, Iri(v), o) if !fwdSet.contains(v) => (s, o) }
      val r = triples.collect { case (s, Iri(v), o) if !revSet.contains(v) => (o, s) }
      (if (fwd.nonEmpty || rev.isEmpty) f else Nil) ++ (if (rev.nonEmpty) r else Nil)
    case PPlus(q) => closure(pathPairs(q, triples).distinct)
    case PStar(q) =>
      (nodes(triples).map(n => (n, n)) ++ closure(pathPairs(q, triples).distinct)).distinct
    case PZeroOne(q) =>
      (nodes(triples).map(n => (n, n)) ++ pathPairs(q, triples)).distinct
  }

  private def nodes(triples: IndexedSeq[Triple]): Seq[Term] =
    triples.flatMap(t => Seq(t._1, t._3)).distinct

  private def closure(step: Seq[(Term, Term)]): Seq[(Term, Term)] = {
    val adj = step.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var acc = step.toSet
    var frontier = acc
    while (frontier.nonEmpty) {
      val next = for {
        (s, m) <- frontier
        o <- adj.getOrElse(m, Set.empty)
        if !acc.contains((s, o))
      } yield (s, o)
      acc ++= next
      frontier = next
    }
    acc.toSeq
  }

  private def evalPath(s: Node, path: PathE, o: Node, g: Node, row: Binding,
      env: Env): Seq[Binding] =
    graphsFor(g, row, env).flatMap { case (gBind, triples) =>
      val row1 = gBind.fold(row)(row + _)
      val pairs = pathPairs(path, triples)
      // zero-length admits endpoints OUTSIDE the graph when a side is a
      // bound term (SPARQL §9.3: eval(x, path?, y) includes (x,x) regardless)
      val extra: Seq[(Term, Term)] = path match {
        case PStar(_) | PZeroOne(_) =>
          val fromS = s match { case T(x) => Seq((x, x)); case _ => Nil }
          val fromO = o match { case T(y) => Seq((y, y)); case _ => Nil }
          fromS ++ fromO
        case _ => Nil
      }
      val all = path match {
        case PStar(_) | PZeroOne(_) => (pairs ++ extra).distinct
        case _ => pairs
      }
      all.flatMap { case (x, y) =>
        matchNode(s, x, row1).flatMap(r => matchNode(o, y, r))
      }
    }

  // ---- aggregates ---------------------------------------------------------

  private def aggValue(a: AggSpec, rows: Seq[Binding], env: Env,
      scope: ExprEval.BnodeScope): Option[Term] = {
    def values: Seq[Term] = {
      val vs = rows.flatMap(r => Option(evalExpr(a.e.get, r, env, scope)))
      if (a.distinct) vs.distinct else vs
    }
    a.fn match {
      case "count" if a.e.isEmpty =>
        val n = if (a.distinct) rows.distinct.size else rows.size
        Some(Term.int(n.toLong))
      case "count" => Some(Term.int(values.size.toLong))
      case "sum" | "avg" =>
        val vs = values
        try {
          val sum = vs.foldLeft[Term](Term.int(0))((acc, v) =>
            ExprEval.eval(ECall("+", Seq(EConst(acc), EConst(v))),
              _ => null, env.ctx, scope))
          if (a.fn == "sum") Some(sum)
          else if (vs.isEmpty) Some(Term.int(0)) // Avg({}) = 0 (SPARQL 18.5.1.4)
          else Some(ExprEval.eval(
            ECall("/", Seq(EConst(sum), EConst(Term.int(vs.size.toLong)))),
            _ => null, env.ctx, scope))
        } catch { case _: EvalError => None } // aggregate error → unbound
      case "min" => values.sorted(termOrd).headOption
      case "max" => values.sorted(termOrd).lastOption
      case "sample" => values.sorted(termOrd).headOption // engine: deterministic min
      case "group_concat" =>
        val lex = values.map(_.lex)
        val l = if (a.distinct) lex.distinct else lex
        Some(Term.str(l.sorted.mkString(a.sep)))
      case other => throw new UnsupportedOperationException(s"aggregate $other")
    }
  }

  // ---- window functions ---------------------------------------------------

  /** One window application over a solution sequence, mirroring the COMPILED
    * semantics (Compiler.compileWindow): partition by the partBy values (an
    * out-of-scope or unbound var is one null group, like the engine's
    * filtered partition columns), order each partition
    * under the engine term total order ([[cmpTerms]], unbound first asc),
    * then per row:
    *  - rank/dense_rank/row_number over the ordered partition;
    *  - NTILE with the engine's PEER-GROUP semantics (tiles over distinct
    *    sort keys: floor((d−1)·n/D)+1 in integer arithmetic);
    *  - aggregates over the ROWS frame (Spark rowsBetween convention,
    *    Long.MinValue/MaxValue = unbounded; None = whole partition) or the
    *    RANGE frame (single numeric key, value-distance bounds);
    *  - SAMPLE = first non-null input in frame order (the compiled
    *    `first(ignoreNulls)`), GROUP_CONCAT = frame-order lex concat (always
    *    bound, empty string for an empty frame); SUM/AVG/COUNT/MIN/MAX reuse
    *    [[aggValue]], as the compiled window applies GROUP BY's aggregate
    *    definition (`Compiler.aggDef`) over the frame. */
  private def windowPass(spec: WinSpec, rows: Seq[Binding], env: Env,
      scope: ExprEval.BnodeScope): Seq[Binding] = {
    rows.groupBy(r => spec.partBy.map(r.get)).values.toSeq.flatMap { part0 =>
      val keyed = part0.map(r =>
        (r, spec.ordBy.map(k => evalExpr(k.e, r, env, scope))))
      val sorted =
        if (spec.ordBy.isEmpty) keyed
        else keyed.sortWith { case ((_, ka), (_, kb)) =>
          spec.ordBy.indices.iterator
            .map(i => cmpTerms(ka(i), kb(i), spec.ordBy(i).asc))
            .find(_ != 0).getOrElse(0) < 0
        }
      val part = sorted.map(_._1).toIndexedSeq
      val keys = sorted.map(_._2).toIndexedSeq
      val n = part.size
      def samePeer(i: Int, j: Int): Boolean =
        spec.ordBy.indices.forall(x => cmpTerms(keys(i)(x), keys(j)(x)) == 0)
      lazy val dense: IndexedSeq[Int] =
        (0 until n).scanLeft(0)((acc, i) =>
          if (i == 0) 1 else if (samePeer(i, i - 1)) acc else acc + 1).tail.toIndexedSeq
      def frameRows(i: Int): IndexedSeq[Binding] =
        if (spec.range) rangeFrame(spec, part, keys, i)
        else spec.frame match {
          case None => part
          case Some((lo, hi)) =>
            val a = (BigInt(i) + BigInt(lo)).max(0)
            val b = (BigInt(i) + BigInt(hi)).min(n - 1)
            if (a > b) IndexedSeq.empty else (a.toInt to b.toInt).map(part)
        }
      def inVals(frame: IndexedSeq[Binding]): IndexedSeq[Term] =
        frame.flatMap(r => Option(evalExpr(spec.e.get, r, env, scope)))
      (0 until n).map { i =>
        val row = part(i)
        val out: Option[Term] = spec.fn match {
          case "row_number" => Some(Term.int((i + 1).toLong))
          case "dense_rank" => Some(Term.int(dense(i).toLong))
          case "rank" =>
            var j = i
            while (j > 0 && samePeer(j, j - 1)) j -= 1
            Some(Term.int((j + 1).toLong))
          case "ntile" =>
            val d = dense(i).toLong
            val dMax = dense(n - 1).toLong
            Some(Term.int((d - 1) * spec.arg / dMax + 1))
          case "sample" =>
            inVals(frameRows(i)).headOption
          case "group_concat" =>
            Some(Term.str(inVals(frameRows(i)).map(_.lex).mkString(spec.sep)))
          case fn => // count/sum/avg/min/max share the grouped-agg semantics
            aggValue(AggSpec(spec.out, fn, spec.e, distinct = false, spec.sep),
              frameRows(i), env, scope)
        }
        out.fold(row)(t => row + (spec.out -> t))
      }
    }
  }

  /** RANGE frame membership, mirroring Spark's rangeBetween over the
    * compiled plan's single numeric order key: rows whose key value lies
    * within [v_i + lo, v_i + hi] in ORDER-DIRECTION space (descending
    * negates), computed as doubles like the engine's `num` companion. A
    * null-key current row frames exactly the null-key rows (Spark's null
    * peer group); null-key rows never join a non-null frame. */
  private def rangeFrame(spec: WinSpec, part: IndexedSeq[Binding],
      keys: IndexedSeq[Seq[Term]], i: Int): IndexedSeq[Binding] = {
    require(spec.ordBy.size == 1, "RANGE frame requires exactly one ORDER BY key")
    val asc = spec.ordBy.head.asc
    def numOf(j: Int): Option[Double] =
      Option(keys(j).head).flatMap(Term.numericValue)
        .map(v => if (asc) v else -v)
    val (lo, hi) = spec.frame.getOrElse((Long.MinValue, Long.MaxValue))
    numOf(i) match {
      case None => part.indices.collect { case j if numOf(j).isEmpty => part(j) }
      case Some(v) =>
        val a = if (lo == Long.MinValue) Double.NegativeInfinity else v + lo
        val b = if (hi == Long.MaxValue) Double.PositiveInfinity else v + hi
        part.indices.collect { case j if numOf(j).exists(x => x >= a && x <= b) =>
          part(j) }
    }
  }

  // ---- the evaluator ------------------------------------------------------

  def eval(a: Algebra, env: Env): Seq[Binding] = a match {
    case BGP(ps) =>
      ps.foldLeft(Seq[Binding](Map.empty))((acc, p) =>
        acc.flatMap(matchPattern(p, _, env)))

    case APath(s, path, o, g) => evalPath(s, path, o, g, Map.empty, env)

    // SERVICE ?ep joined with a binding sibling: dispatch per distinct
    // endpoint value, ?ep bound in each endpoint's solutions — mirrors
    // Compiler.compileServiceVarJoin (SILENT per call; non-IRI ≈ failed call)
    case AJoin(l, r @ AService(V(ev), _, _))
        if !l.isInstanceOf[AService] && Algebra.inscope(l).contains(ev) =>
      serviceVarJoin(eval(l, env), r, env)
    case AJoin(l @ AService(V(ev), _, _), r)
        if !r.isInstanceOf[AService] && Algebra.inscope(r).contains(ev) =>
      serviceVarJoin(eval(r, env), l, env)

    case AJoin(l, r) =>
      val right = eval(r, env)
      eval(l, env).flatMap(lr => right.flatMap(rr => merge(lr, rr)))

    case ALeftJoin(l, r, expr) =>
      val right = eval(r, env)
      val scope = ExprEval.freshScope()
      eval(l, env).flatMap { lr =>
        val ms = right.flatMap(rr => merge(lr, rr))
          .filter(m => expr.forall(e => ebv(e, m, env, scope)))
        if (ms.nonEmpty) ms else Seq(lr)
      }

    case AMinus(l, r) =>
      val right = eval(r, env)
      eval(l, env).filter(lr => !right.exists(rr =>
        compatible(lr, rr) && lr.keySet.intersect(rr.keySet).nonEmpty))

    case AUnion(l, r) => eval(l, env) ++ eval(r, env)

    case AFilter(expr, c) =>
      val scope = ExprEval.freshScope()
      eval(c, env).filter(ebv(expr, _, env, scope))

    case AExtend(c, v, expr) =>
      eval(c, env).map { row =>
        // fresh scope per row: BNODE() must mint per-row labels
        val t = evalExpr(expr, row, env, ExprEval.freshScope())
        if (t == null) row else row + (v -> t) // eval error → var unbound
      }

    case AProject(c, vars) =>
      val keep = vars.toSet
      eval(c, env).map(_.filter(kv => keep.contains(kv._1)))

    case ADistinct(c) => eval(c, env).distinct

    case AReduced(c) => eval(c, env) // any cardinality is legal; keep the bag

    case ASlice(c, off, lim) =>
      val rows = eval(c, env).drop(off.toInt)
      if (lim >= 0) rows.take(lim.toInt) else rows

    case AOrderBy(c, keys) =>
      val scope = ExprEval.freshScope()
      val rows = eval(c, env)
      val keyed = rows.map(r =>
        (r, keys.map(k => evalExpr(k.e, r, env, scope))))
      keyed.sortWith { case ((_, ka), (_, kb)) =>
        keys.indices.iterator
          .map(i => cmpTerms(ka(i), kb(i), keys(i).asc))
          .find(_ != 0).getOrElse(0) < 0
      }.map(_._1)

    case AGroup(c, keys, aggs) =>
      val scope = ExprEval.freshScope()
      val rows = eval(c, env)
      val groups: Seq[(Seq[Option[Term]], Seq[Binding])] =
        if (keys.isEmpty) Seq((Seq.empty, rows)) // empty input → ONE group
        else rows.groupBy(r => keys.map(r.get)).toSeq
      groups.map { case (kv, grp) =>
        val base = keys.zip(kv).collect { case (k, Some(t)) => k -> t }.toMap
        aggs.foldLeft(base)((acc, a) =>
          aggValue(a, grp, env, scope).fold(acc)(t => acc + (a.out -> t)))
      }

    case ATable(vars, rows) =>
      rows.map(r => vars.zip(r).collect { case (v, Some(t)) => v -> t }.toMap)

    case AService(endpoint, child, silent) =>
      val ep = endpoint match {
        case T(Iri(iri)) => iri
        case _ => throw new UnsupportedOperationException(
          "SERVICE variable endpoint without a binding join sibling")
      }
      env.service match {
        case Some(client) =>
          try client.execute(ep, child, Algebra.inscope(child).toSeq.sorted)
          catch {
            // SILENT failure → the unit solution (join identity), as compiled
            case _: Exception if silent => Seq(Map.empty)
          }
        case None =>
          if (silent) Seq(Map.empty)
          else throw new UnsupportedOperationException(s"no SERVICE client for <$ep>")
      }

    case AWindow(c, fns) =>
      val scope = ExprEval.freshScope()
      fns.foldLeft(eval(c, env))((rows, spec) => windowPass(spec, rows, env, scope))

    case other => // AEnv: compiler-internal, never reaches the interpreter
      throw new UnsupportedOperationException(s"interp: unexpected ${other.productPrefix}")
  }

  /** Per-endpoint SERVICE dispatch for variable endpoints (the test-oracle
    * twin of Compiler.compileServiceVarJoin): one call per distinct IRI the
    * sibling binds, solutions extended with the endpoint var; with SILENT a
    * non-IRI value contributes the bare {ep→value} solution (≈ failed call). */
  private def serviceVarJoin(outer: Seq[Binding], svc: AService,
      env: Env): Seq[Binding] = {
    val (ev, child, silent) = svc match {
      case AService(V(v), c, s) => (v, c, s)
      case _ => throw new IllegalStateException("constant endpoint in var dispatch")
    }
    val svcRows: Seq[Binding] = outer.flatMap(_.get(ev)).distinct.flatMap {
      case i @ Iri(_) =>
        // the dispatched endpoint is a JOIN CONSTRAINT, not an overwrite: if
        // the service child itself binds the endpoint var (it is in the
        // child's scope), a remote row survives only when its own binding
        // equals the endpoint that produced it — mirroring the engine, which
        // inner-joins the per-endpoint solutions on ?ep
        eval(AService(T(i), child, silent), env).flatMap(b =>
          if (b.get(ev).forall(_ == (i: Term))) Some(b + (ev -> (i: Term)))
          else None)
      case t if silent => Seq(Map(ev -> t))
      case t => throw new UnsupportedOperationException(
        s"SERVICE ?$ev bound to non-IRI term: $t")
    }
    outer.flatMap(lr => svcRows.flatMap(rr => merge(lr, rr)))
  }

  // ---- query forms --------------------------------------------------------

  /** SELECT solutions for a parsed query (dataset clause applied). */
  def select(pq: graft.parser.ParsedQuery, ds: Dataset, ctx: ExprEval.Ctx,
      service: Option[ServiceClient] = None): Seq[Binding] = {
    val restricted = ds.restricted(
      pq.defaultGraphs.map(Iri(_): Term), pq.namedGraphs.map(Iri(_): Term))
    eval(graft.engine.Rewriter.rewrite(pq.algebra), Env(restricted, ctx, service))
  }

  def ask(pq: graft.parser.ParsedQuery, ds: Dataset, ctx: ExprEval.Ctx,
      service: Option[ServiceClient] = None): Boolean =
    select(pq, ds, ctx, service).nonEmpty

  /** CONSTRUCT graph: instantiate templates per solution (bag), fresh blank
    * nodes per solution row, invalid triples dropped, result is a set. */
  def construct(pq: graft.parser.ParsedQuery, ds: Dataset, ctx: ExprEval.Ctx,
      service: Option[ServiceClient] = None): Set[Triple] = {
    val sols = select(pq, ds, ctx, service)
    sols.zipWithIndex.flatMap { case (row, i) =>
      pq.constructTemplates.flatMap { case (s, p, o) =>
        def res(n: Node): Option[Term] = n match {
          case T(BNode(b)) => Some(BNode(s"${b}_r$i"))
          case T(t) => Some(t)
          case V(v) => row.get(v)
          case DefaultGraph => None
        }
        (res(s), res(p), res(o)) match {
          case (Some(sv), Some(pv: Iri), Some(ov)) if !sv.isInstanceOf[Lit] =>
            Some((sv, pv, ov))
          case _ => None // unbound / literal subject / non-IRI predicate
        }
      }
    }.toSet
  }
}
