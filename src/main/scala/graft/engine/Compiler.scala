package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.algebra._
import graft.model._
import graft.store.RdfStore

/** Materialized-term view as a typed case class (field names/order match
  * [[graft.model.TermRow.schema]] so Dataset encoders and terms-table structs are
  * interchangeable).
  */
final case class TV(kind: Option[Int], lex: Option[String], dt: Option[String],
    lang: Option[String], num: Option[Double])

object TV {
  def of(t: Term): TV = t match {
    case null => null
    case BNode(l) => TV(Some(TermRow.KIND_BLANK), Some(l), None, None, None)
    case Iri(v) => TV(Some(TermRow.KIND_IRI), Some(v), None, None, None)
    case lit @ Lit(l, dt, lang) =>
      TV(Some(TermRow.KIND_LITERAL), Some(l), Option(dt),
        Option(lang).filter(_.nonEmpty), Term.numericValue(lit))
  }

  /** Struct Row (kind, lex, dt, lang, num) → Term; null-safe. */
  def toTerm(r: Row): Term = {
    if (r == null || r.isNullAt(0)) null
    else r.getInt(0) match {
      case TermRow.KIND_BLANK => BNode(r.getString(1))
      case TermRow.KIND_IRI => Iri(r.getString(1))
      case _ => Lit(r.getString(1), r.getString(2), r.getString(3))
    }
  }
}

/** Per-variable physical representation inside a compiled solution DataFrame. */
sealed trait Rep
case object IdRep extends Rep   // Long column of packed term ids
case object TermRep extends Rep // struct column (kind, lex, dt, lang, num)

/** A compiled solution mapping: one column per in-scope variable; NULL = unbound.
  *
  *  - `reps`: each var's physical representation
  *  - `certain`: necessarily-bound vars (equi-join fast path)
  *  - `nums`: vars carrying a `__n_<var>` numeric companion column
  *  - `prof`: what statistics prove about the vars ([[Profile]]). It has no
  *    default: every construction states it, `Profile.none` where nothing is
  *    known, and operators derive it through the transfer functions that
  *    [[Profile]] documents next to its rules.
  *  - `sortCols`: a pending ORDER BY, as materialized hidden `__sort_*`
  *    columns + asc flags. The result edge re-applies the sort after
  *    late-materialization joins (which destroy row order) and after
  *    projection (which may drop the sort variables themselves). Reset by
  *    order-destroying operators.
  */
final case class Sol(df: DataFrame, reps: Map[String, Rep], certain: Set[String],
    nums: Set[String], prof: Profile, sortCols: Seq[(String, Boolean)] = Nil) {
  def vars: Set[String] = reps.keySet
  def numCol(v: String): String = "__n_" + v
  def decCol(v: String): String = "__d_" + v

  /** The distinct tuples of `vs` (plus the raw columns `extra`), companions
    * dropped: a row subset of a projection, so the facts of `vs` carry over. */
  def distinctOf(vs: Seq[String], extra: Seq[String] = Nil): Sol =
    Sol(df.select((vs ++ extra).map(c => col(s"`$c`")): _*).dropDuplicates(),
      reps.filter(kv => vs.contains(kv._1)), certain intersect vs.toSet, Set.empty,
      prof.restrict(vs.toSet).withoutCompanions)
}

object Sol {
  val FAM_INT = 1
  val FAM_DEC = 2
  val FAM_DBL = 3

  /** Id columns `vs`, each necessarily bound, with no statistics facts. */
  def ofIds(df: DataFrame, vs: Seq[String]): Sol =
    Sol(df, vs.map(_ -> (IdRep: Rep)).toMap, vs.toSet, Set.empty, Profile.none)
}

/** Compiles SPARQL algebra to DataFrame transformations over an [[RdfStore]].
  *
  * Architectural stance (SURVEY.md §7.0): stay in dictionary-id space as long as
  * possible (the Spark analogue of the reference's `IDQueryPlan` family,
  * kasei/kineo `Sources/Kineo/SPARQL/IDQueryPlan.swift:11-81`), materialize term
  * structs only at expression/result edges (`MaterializedQueryPlan.swift:11-61`),
  * and let Catalyst pick physical join strategies.
  */
/** Pluggable SERVICE endpoint client (driver-side; the default engine has none —
  * tests register mocks, deployments register an HTTP SPARQL-protocol client).
  * Serializable because expression-UDF closures capture the owning Compiler. */
trait ServiceClient extends Serializable {
  def execute(endpoint: String, pattern: Algebra, vars: Seq[String]): Seq[Map[String, Term]]
}

final class Compiler(val store: RdfStore, val ctx: ExprEval.Ctx,
    val serviceClient: Option[ServiceClient] = None) extends Serializable {
  import graft.engine.{EvalError => EvalError}
  private val spark = store.spark
  import spark.implicits._

  private val scheme = store.scheme

  // ---- id → view decoding ---------------------------------------------------

  /** Native Catalyst decode (codegen-friendly; see graft.functions.DecodeInlineTerm). */
  private def decodeInlineUdf(c: Column): Column =
    graft.functions.DecodeInlineTerm(c, scheme)

  /** Dictionary side of a materialization join — broadcast when the whole
    * dictionary is provably small (one count per store), so late
    * materialization never shuffles the big solution side. */
  private def dictSide(df: DataFrame): DataFrame =
    if (store.termsBroadcastable) broadcast(df) else df

  /** Ensure variable `v` has a materialized view column; returns (sol, viewCol).
    * All-inline vars decode in place (no dictionary join).
    */
  def withView(sol: Sol, v: String): (Sol, Column) = sol.reps.get(v) match {
    case Some(TermRep) => (sol, col(bt(v)))
    case Some(IdRep) =>
      val tcol = "__t_" + v
      if (sol.df.columns.contains(tcol)) (sol, col(bt(tcol)))
      else if (sol.prof.inl.contains(v)) {
        val df = sol.df.withColumn(tcol, decodeInlineUdf(col(bt(v))))
        (sol.copy(df = df), col(bt(tcol)))
      } else {
        val t = dictSide(store.terms.select(col("id").as("__tid"),
          struct(col("kind"), col("lex"), col("dt"), col("lang"), col("num")).as("__tv")))
        val joined = sol.df.join(t, col(bt(v)) === col("__tid"), "left")
          .withColumn(tcol,
            when(col("__tid").isNotNull, col("__tv")).otherwise(decodeInlineUdf(col(bt(v)))))
          .drop("__tid", "__tv")
        (sol.copy(df = joined), col(bt(tcol)))
      }
    case None => // variable not in scope: all-null view
      (sol, lit(null).cast(TermRow.schema))
  }

  def withViews(sol: Sol, vs: Seq[String]): (Sol, Seq[Column]) =
    vs.foldLeft((sol, Seq.empty[Column])) { case ((s, acc), v) =>
      val (s2, c) = withView(s, v); (s2, acc :+ c)
    }

  /** Convert a variable to TermRep (for mixed-representation joins/unions). */
  private def toTermRep(sol: Sol, v: String): Sol = sol.reps(v) match {
    case TermRep => sol
    case IdRep =>
      val (s2, vc) = withView(sol, v)
      val df = s2.df.withColumn(v, vc).drop("__t_" + v)
      s2.copy(df = df, reps = s2.reps + (v -> TermRep), nums = s2.nums - v)
  }

  /** Convert a variable to IdRep (mixed-representation joins, small side).
    *
    * Inline-encodable terms (ints, dates, short strings, template IRIs) convert
    * in a single UDF; only the leftovers pay a dictionary join — and that join
    * runs over THIS (small) side, not the big id-space side. Terms absent from
    * the store become NULL ids: under the plain `===` equality this method is
    * gated on (certain-certain joins only), null matches nothing — exactly the
    * semantics of a term no store quad contains.
    */
  private[engine] def toIdRep(sol: Sol, v: String): Sol = sol.reps(v) match {
    case IdRep => sol
    case TermRep =>
      val converted: DataFrame = sol.prof.consts.get(v) match {
        case Some(ts) =>
          // VALUES fast path: terms known at compile time → resolve ids
          // driver-side (store.idOf caches); no scan, no join in the plan
          val m: Map[Term, Long] =
            ts.flatMap(t => store.idOf(t).map(t -> _)).toMap
          val lookUdf = udf { (r: Row) => Option(r).map(TV.toTerm).flatMap(m.get) }
          sol.df.withColumn(v, lookUdf(col(bt(v))))
        case None =>
          val schemeL = scheme
          val inlUdf = udf { (r: Row) =>
            if (r == null) None else schemeL.tryInline(TV.toTerm(r)).map(Long.box)
          }
          val df0 = sol.df.withColumn("__iid", inlUdf(col(bt(v))))
          val d = dictSide(store.terms.select(
            struct(col("kind"), col("lex"), col("dt"), col("lang"), col("num")).as("__dt"),
            col("id").as("__did")))
          df0.join(d, col(bt(v)) <=> col("__dt") && col("__iid").isNull, "left")
            .withColumn(v, coalesce(col("__iid"), col("__did")))
            .drop("__iid", "__dt", "__did")
      }
      // ids re-derived from terms prove no inline encoding; the companion is gone
      sol.copy(df = converted, reps = sol.reps + (v -> IdRep), nums = sol.nums - v,
        prof = sol.prof.copy(inl = sol.prof.inl - v, numAll = sol.prof.numAll - v))
  }

  private def bt(c: String) = s"`$c`"

  // ---- expression compilation ----------------------------------------------

  /** Compile an expression to a term-struct Column (null = error/unbound). Bare
    * variables pass their view through unchanged (the numeric fast path would lose
    * non-numeric terms: the companion column is null for dates/strings).
    */
  def exprColumn(sol0: Sol, e: Expr): (Sol, Column) = e match {
    case EVar(n) => withView(sol0, n)
    case _ => exprColumnComputed(sol0, e)
  }

  /** The companion-column fast path stamps xsd:double, which is only correct
    * when every participating numeric var is double-family (FAM_DBL) — an
    * integer-family var must take the native typed path instead. */
  private def allDblFamily(sol: Sol, e: Expr): Boolean = {
    // ≥1 var is required: on a constant-only expression the old vacuous
    // forall stamped xsd:double onto integer constants (BIND(2 AS ?x) became
    // "2.0"^^xsd:double and failed term-equality joins — caught by the W3C
    // bind suite); integer/decimal constants belong to fastDec instead
    val fv = Expr.freeVars(e)
    fv.nonEmpty &&
      fv.forall(v => sol.nums.contains(v) && sol.prof.fam.get(v).contains(Sol.FAM_DBL))
  }

  /** Pure-column DOUBLE value of an expression when every participating var is
    * double-family — the precondition that makes stamping xsd:double correct. */
  private def fastNumChecked(sol: Sol, e: Expr): Option[Column] =
    if (allDblFamily(sol, e)) fastNum(sol, e) else None

  /** Term view of the numeric column `c`, typed `dt` (null stays unbound). */
  private def numView(c: Column, dt: String = Term.xsdDouble): Column = when(c.isNotNull,
    struct(lit(TermRow.KIND_LITERAL).as("kind"), c.cast(StringType).as("lex"),
      lit(dt).as("dt"), lit(null).cast(StringType).as("lang"), c.cast(DoubleType).as("num")))
    .otherwise(lit(null).cast(TermRow.schema))
  private def intView(c: Column): Column = numView(c, Term.xsdInteger)

  private def exprColumnComputed(sol0: Sol, e: Expr): (Sol, Column) =
    fastNumChecked(sol0, e) match {
    case Some(c) => (sol0, numView(c)) // numeric fast path: the view struct natively
    case None =>
      val fv = Expr.freeVars(e).toSeq.sorted
      val (sol1, views) = withViews(sol0, fv)
      val viewMap = fv.zip(views).toMap
      NativeExpr.termColumn(e, viewMap.get, ctx.nowEpochUs) match {
        case Some(compiled) =>
          return (sol1.copy(df = compiled.applyTo(sol1.df)), compiled.result)
        case None => ()
      }
      val theCtx = ctx
      if (Expr.hasBnode(e)) {
        // per-row bnode label scope: all expressions of a row share the nonce
        // column, so BNODE("x") co-refers across BINDs of the same solution row
        val (sol, nonceCol, scopeId) = withRowNonce(sol1)
        val exprId = freshId()
        val u = udf { (nonce: Long, vals: Seq[Row]) =>
          val m = fv.zip(vals.map(TV.toTerm)).toMap
          val scope = new ExprEval.BnodeScope(nonce, scopeId, exprId)
          try Option(TV.of(ExprEval.eval(e, m.getOrElse(_, null), theCtx, scope)))
          catch { case _: EvalError => None }
        }.asNondeterministic()
        (sol, u(nonceCol, array(views: _*)))
      } else {
        var u = udf { (vals: Seq[Row]) =>
          val m = fv.zip(vals.map(TV.toTerm)).toMap
          try Option(TV.of(ExprEval.eval(e, m.getOrElse(_, null), theCtx)))
          catch { case _: EvalError => None }
        }
        if (Expr.nondeterministic(e)) u = u.asNondeterministic()
        (sol1, u(array(views: _*)))
      }
  }

  /** Ensure the solution carries a per-row unique nonce column (bnode scoping). */
  /** Per-row nonce column for BNODE scoping. The scope id lives in the column
    * NAME (`__rownonce_<id>`): expressions that share one surviving nonce
    * column share the scope — so BNODE("x") co-refers across BINDs of the same
    * solution row (SPARQL 17.4.2.9) — while a nonce column re-created after a
    * join (which drops it) gets a fresh scope id, so its
    * monotonically_increasing_id values can never alias labels minted under an
    * earlier scope for DIFFERENT rows. */
  private def withRowNonce(sol: Sol): (Sol, Column, Int) =
    sol.df.columns.find(_.startsWith("__rownonce_")) match {
      case Some(c) => (sol, col(bt(c)), c.stripPrefix("__rownonce_").toInt)
      case None =>
        val id = freshId()
        val name = s"__rownonce_$id"
        (sol.copy(df = sol.df.withColumn(name, monotonically_increasing_id())),
          col(bt(name)), id)
    }

  /** Compile an expression to a Boolean EBV Column (null → row dropped by filter). */
  def ebvColumn(sol0: Sol, e: Expr): (Sol, Column) = fastBool(sol0, e) match {
    case Some(c) => (sol0, c)
    case None =>
      val fv = Expr.freeVars(e).toSeq.sorted
      val (sol, views) = withViews(sol0, fv)
      val viewMap = fv.zip(views).toMap
      NativeExpr.ebvColumn(e, viewMap.get, ctx.nowEpochUs) match {
        case Some(compiled) =>
          return (sol.copy(df = compiled.applyTo(sol.df)), compiled.result)
        case None => ()
      }
      val theCtx = ctx
      var u = udf { (vals: Seq[Row]) =>
        val m = fv.zip(vals.map(TV.toTerm)).toMap
        try Option(ExprEval.ebvOrErr(ExprEval.eval(e, m.getOrElse(_, null), theCtx)))
        catch { case _: EvalError => None }
      }
      if (Expr.nondeterministic(e)) u = u.asNondeterministic()
      (sol, u(array(views: _*)))
  }

  /** Pure-column numeric value of an expression, when derivable without a UDF:
    * numeric constants, vars with a numeric companion, arithmetic over those.
    * SQL NULL propagation coincides with SPARQL error propagation here.
    */
  private def fastNum(sol: Sol, e: Expr): Option[Column] = e match {
    case EConst(t) => Term.numericValue(t).map(lit)
    case EVar(n) if sol.nums.contains(n) => Some(col(bt(sol.numCol(n))))
    case EVar(n) if sol.reps.get(n).contains(IdRep) => None
    case ECall(op @ ("+" | "-" | "*" | "/"), Seq(a, b)) =>
      for (ca <- fastNum(sol, a); cb <- fastNum(sol, b)) yield op match {
        case "+" => ca + cb
        case "-" => ca - cb
        case "*" => ca * cb
        case "/" => when(cb === 0.0, lit(null)).otherwise(ca / cb)
      }
    case ECall("neg", Seq(a)) => fastNum(sol, a).map(c => -c)
    case ECall("abs", Seq(a)) => fastNum(sol, a).map(abs)
    case _ => None
  }

  /** Exact-decimal working type (matches the scan companion `__d_*` columns). */
  private val DEC = DecimalType(38, 18)

  /** `try_sum(DISTINCT c)`: overflow → NULL (= SPARQL error → unbound), never
    * an ANSI ARITHMETIC_OVERFLOW abort. `functions.sum_distinct` has no try_
    * variant, so build the TRY-mode Sum aggregate directly. */
  private def trySumDistinct(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{EvalMode, NumericEvalContext}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      Sum(ColumnBridge.expression(c),
        NumericEvalContext(EvalMode.TRY, allowDecimalPrecisionLoss = true))
        .toAggregateExpression(isDistinct = true))
  }

  /** Exactness-preserving decimal arithmetic: try the op on narrowed operands
    * first (DECIMAL(20,10) keeps Spark's result scale high), fall back to the
    * full-range op (scale 6) for values the narrow type can't hold. try_cast
    * turns any overflow into NULL = SPARQL error. */
  private def decArith(op: String, a: Column, b: Column): Column = {
    def apply2(x: Column, y: Column): Column = op match {
      case "+" => try_add(x, y)
      case "-" => try_subtract(x, y)
      case "*" => try_multiply(x, y)
    }
    when(a.isNull || b.isNull, lit(null).cast(DEC)).otherwise(coalesce(
      apply2(a.try_cast(DecimalType(20, 10)), b.try_cast(DecimalType(20, 10)))
        .try_cast(DEC),
      apply2(a, b).try_cast(DEC)))
  }

  /** 18-digit-scale exact decimal division (see NativeExpr.divide); operands
    * beyond DECIMAL(20,10) fall back to full-range division at scale 6. */
  private def decDiv(x: Column, y: Column): Column =
    coalesce(
      try_divide(x.try_cast(DecimalType(20, 10)), y.try_cast(DecimalType(20, 10)))
        .cast(DEC),
      try_divide(x.cast(DEC), y.cast(DEC)).cast(DEC))

  /** Pure-column EXACT numeric value of an expression over the exact-family
    * companions: (DECIMAL(38,18) value, per-row decimal flag). Applies when
    * every variable is integer-family (id payload) or decimal-family (`__d_`
    * companion), so `?price * (1 - ?disc)` compiles to decimal column
    * arithmetic — no term structs, no dictionary join (reference exact
    * accumulators, kasei/kineo MaterializedQueryPlan.swift:2303-2354).
    *
    * The flag tracks SPARQL numeric promotion: integer op integer stays
    * integer, any decimal operand promotes, division always yields decimal
    * (op:numeric-divide). SQL NULL propagation = SPARQL error propagation. */
  private def fastDec(sol: Sol, e: Expr): Option[(Column, Column)] =
    if (exprSize(e) > 16) None // value expr inlines ~6× into view+flag: cap codegen growth
    else fastDecTree(sol, e)

  private def exprSize(e: Expr): Int = e match {
    case ECall(_, args) => 1 + args.map(exprSize).sum
    case _ => 1
  }

  private def fastDecTree(sol: Sol, e: Expr): Option[(Column, Column)] = e match {
    case EConst(Lit(lex, dt, _)) if dt == Term.xsdDecimal =>
      scala.util.Try(new java.math.BigDecimal(lex.trim)).toOption
        .map(bd => (lit(bd).cast(DEC), lit(true)))
    case EConst(Lit(lex, dt, _)) if dt == Term.xsdInteger || dt == Term.xsdInt =>
      scala.util.Try(lex.trim.toLong).toOption
        .map(l => (lit(l).cast(DecimalType(20, 0)), lit(false)))
    case EVar(n) if sol.prof.decs.contains(n) && sol.prof.fam.get(n).contains(Sol.FAM_DEC) =>
      val isdec = sol.reps.get(n) match {
        case Some(IdRep) =>
          shiftright(col(bt(n)), TermId.PAYLOAD_BITS).bitwiseAND(0xFF) ===
            TermId.TAG_DECIMAL
        case _ => col(bt(n)).getField("dt") === Term.xsdDecimal
      }
      Some((col(bt(sol.decCol(n))), isdec))
    case EVar(n) if sol.reps.get(n).contains(IdRep) &&
        sol.prof.fam.get(n).contains(Sol.FAM_INT) =>
      Some(((col(bt(n)).bitwiseAND(TermId.PAYLOAD_MASK) - TermId.BIAS)
        .cast(DecimalType(20, 0)), lit(false)))
    case ECall(op @ ("+" | "-" | "*"), Seq(a, b)) =>
      for ((ca, ia) <- fastDecTree(sol, a); (cb, ib) <- fastDecTree(sol, b))
        yield (decArith(op, ca, cb), ia || ib)
    case ECall("/", Seq(a, b)) =>
      for ((ca, _) <- fastDecTree(sol, a); (cb, _) <- fastDecTree(sol, b))
        yield (when(cb === 0, lit(null).cast(DEC)).otherwise(decDiv(ca, cb)),
          lit(true))
    case ECall("neg", Seq(a)) => fastDecTree(sol, a).map { case (c, i) => (-c, i) }
    case ECall("abs", Seq(a)) => fastDecTree(sol, a).map { case (c, i) => (abs(c), i) }
    case _ => None
  }

  /** Pure-column boolean EBV, when derivable without a UDF. SQL 3-valued logic
    * matches SPARQL's error handling for these shapes (see AND/OR truth tables in
    * reference Expression.swift:484-507: false&&error=false, true||error=true,
    * error otherwise → NULL drops the row, same as error).
    */
  private def fastBool(sol: Sol, e: Expr): Option[Column] = e match {
    // Companion-column comparison is only VALUE-complete when every
    // participating var is all-numeric (numAll): a var with non-numeric values
    // has a NULL companion on those rows, which would wrongly drop them —
    // '='/'!=' fall back to RDFterm-equal for IRIs/bnodes, '<' compares
    // strings — so any such var must take the general path instead.
    case ECall(op @ ("<" | "<=" | ">" | ">=" | "=" | "!="), Seq(a, b))
        if Expr.freeVars(e).forall(v =>
          !sol.nums.contains(v) || sol.prof.numAll.contains(v)) =>
      for (ca <- fastNum(sol, a); cb <- fastNum(sol, b)) yield op match {
        case "<" => ca < cb
        case "<=" => ca <= cb
        case ">" => ca > cb
        case ">=" => ca >= cb
        case "=" => ca === cb
        case "!=" => ca =!= cb
      }
    case ECall("&&", Seq(a, b)) =>
      for (ca <- fastBool(sol, a); cb <- fastBool(sol, b)) yield ca && cb
    case ECall("||", Seq(a, b)) =>
      for (ca <- fastBool(sol, a); cb <- fastBool(sol, b)) yield ca || cb
    case ECall("!", Seq(a)) => fastBool(sol, a).map(c => !c)
    case _ => None
  }

  // ---- quad patterns --------------------------------------------------------

  /** Compile one quad pattern to a scan (reference `QuadPlan`/`IDQuadPlan`,
    * MaterializedQueryPlan.swift:169-182 / IDQueryPlan.swift:11-81). Bound terms
    * become pushed-down Long equality filters; repeated variables become
    * column-equality filters.
    */
  def compilePattern(qp: QuadPattern): Sol = {
    var df = store.quads
    // graph handling
    qp.g match {
      case DefaultGraph =>
        if (store.defaultGraphs.toSet != store.graphIds.toSet)
          df = df.filter(col("g").isin(store.defaultGraphs: _*))
      case V(_) => // GRAPH ?g ranges over the dataset's *named* graphs
        for (named <- store.namedGraphs)
          df = df.filter(col("g").isin(named: _*))
      case _ => ()
    }
    // bound terms → id filters (a term with no id in this store → empty scan)
    val boundPos = qp.nodes.collect { case (T(t), pos) => (pos, t) }
    for ((pos, t) <- boundPos) {
      store.idOf(t) match {
        case Some(id) => df = df.filter(col(pos) === id)
        case None => df = df.filter(lit(false))
      }
    }
    // variables → renamed columns; repeated variable → equality filter
    val varPos: Seq[(String, String)] = qp.nodes.collect { case (V(n), pos) => (n, pos) }
    val firstPos = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((n, pos) <- varPos) {
      if (firstPos.contains(n)) df = df.filter(col(firstPos(n)) === col(pos))
      else firstPos(n) = pos
    }
    // bind-join domain restriction: a small fully-bound VALUES table joined
    // with this BGP pushes its value-id sets down into the scan (reference
    // bind join; at 100 TB the isin reaches the parquet scan as a pushed
    // filter and prunes row groups — the join itself still runs afterwards,
    // so multi-column tables stay exact)
    for ((n, pos) <- firstPos; ids <- domRestrict.value.get(n))
      df = if (ids.isEmpty) df.filter(lit(false))
           else df.filter(col(pos).isin(ids: _*))
    val nums = firstPos.collect { case (n, "o") => n }.toSet
    // type-profile fast-path flags: s/p/g vars inline when the whole store is;
    // o vars per bound-predicate profile
    val oProfile: Option[graft.store.PredProfile] = qp.p match {
      case T(t) => store.idOf(t).flatMap(store.predProfiles.get)
      case _ => None
    }
    val inl = firstPos.collect {
      case (n, pos) if pos != "o" && store.spgAllInline => n
      case (n, "o") if oProfile.exists(_.allInline) => n
    }.toSet
    val numAll = firstPos.collect {
      case (n, "o") if oProfile.exists(_.allNumeric) => n
    }.toSet
    val fam: Map[String, Int] = firstPos.collect {
      case (n, "o") if oProfile.exists(p => p.allNumeric && p.oTags.nonEmpty) =>
        val prof = oProfile.get
        val tags = prof.oTags
        if (tags == Set(TermId.TAG_INTEGER)) Some(n -> Sol.FAM_INT)
        else if (tags.contains(TermId.TAG_DOUBLE) &&
          tags.subsetOf(Set(TermId.TAG_INTEGER, TermId.TAG_DOUBLE, TermId.TAG_FLOAT)))
          Some(n -> Sol.FAM_DBL)
        else if (tags.contains(TermId.TAG_DECIMAL) && prof.decExact &&
          tags.subsetOf(Set(TermId.TAG_INTEGER, TermId.TAG_DECIMAL)))
          Some(n -> Sol.FAM_DEC)
        else None
    }.flatten.toMap
    // decimal-family o vars additionally carry the exact-decimal companion —
    // but only when some downstream aggregate/arithmetic can consume it
    val decVars = fam.collect { case (n, Sol.FAM_DEC) => n }.toSet.filter(decNeeded)
    val outCols = firstPos.toSeq.map { case (n, pos) => col(pos).as(n) } ++
      firstPos.toSeq.collect { case (n, "o") => col("onum").as("__n_" + n) } ++
      firstPos.toSeq.collect {
        case (n, "o") if decVars.contains(n) => col("odec").as("__d_" + n)
      }
    val out = df.select(outCols: _*)
    // exact cardinality upper bound: a bound-predicate scan returns at most
    // that predicate's quad count (further bound terms only shrink it)
    val card: Option[Long] = qp.p match {
      case T(t) => store.idOf(t).flatMap(store.predProfiles.get).map(_.count)
      case _ => None
    }
    val subj = firstPos.collect { case (n, "s") => n }.toSet
    Sol(out, firstPos.keys.map(_ -> (IdRep: Rep)).toMap, firstPos.keySet.toSet, nums,
      Profile(inl, numAll, fam, decVars,
        // functional predicate → the subject var binds at most one row here
        multOne = if (oProfile.exists(_.funcS)) subj else Set.empty,
        bucketS = if (store.bucketedS) subj else Set.empty, card = card))
  }

  /** BGP join-order heuristic: bound-position selectivity weights from the
    * reference cost model (QueryPlanCost.swift:231-248 — unbound s×7.5, p×2.5,
    * o×5, g×10), then greedy connected joins to avoid cartesian products.
    * Join *implementation* is delegated to Catalyst/AQE.
    */
  /** Store size estimate for costing unbound-predicate scans. */
  private lazy val totalQuadsEst: Double =
    if (store.predProfiles.nonEmpty) store.predProfiles.values.map(_.count.toDouble).sum
    else 1e6

  /** Statistics-backed scan cost of one pattern: exact per-predicate counts
    * when available, the reference's static bound-position weights otherwise
    * (QueryPlanCost.swift:231-248). Shared by BGP join ordering and UNION
    * branch ranking. */
  private def patternCost(qp: QuadPattern): Double = {
    def unbound(n: Node) = n.isInstanceOf[V]
    val base: Double = qp.p match {
      case T(t) => store.idOf(t).flatMap(store.predProfiles.get)
        .map(_.count.toDouble).getOrElse(totalQuadsEst * 0.1)
      case _ => totalQuadsEst
    }
    var c = base
    if (!unbound(qp.s)) c *= 0.001
    if (!unbound(qp.o)) c *= 0.01
    if (!unbound(qp.g) && qp.g != DefaultGraph) c *= 0.5
    c
  }

  /** Per-pattern cardinality estimate + per-var selectivity domains for the
    * join-order DP. Domain of a var = how many distinct values it can take in
    * this pattern's output: distinct-subject/object counts from the ANALYZE
    * pass when the predicate is bound and profiled (distS/distO,
    * `store.PredProfile`), positional fractions of the count otherwise. */
  private def patternStats(qp: QuadPattern): (Double, Map[String, Double]) = {
    val prof = qp.p match {
      case T(t) => store.idOf(t).flatMap(store.predProfiles.get)
      case _ => None
    }
    val base = prof.map(_.count.toDouble).getOrElse(qp.p match {
      case T(_) => totalQuadsEst * 0.1 // bound but unprofiled predicate
      case _ => totalQuadsEst
    })
    val dS = prof.map(p => math.max(1.0, p.distS.toDouble)).getOrElse(base * 0.5)
    val dO = prof.map(p =>
      if (p.distO > 0) p.distO.toDouble else base * 0.5).getOrElse(base * 0.5)
    var card = base
    qp.s match { case V(_) => () case _ => card /= dS }
    qp.o match { case V(_) => () case _ => card /= dO }
    if (!qp.g.isInstanceOf[V] && qp.g != DefaultGraph) card *= 0.5
    card = math.max(card, 1e-3)
    // var domains, capped by the pattern's own output cardinality; a var
    // appearing in several positions (e.g. ?x ?p ?x) takes the tightest
    val doms = scala.collection.mutable.Map.empty[String, Double]
    def put(n: Node, d: Double): Unit = n match {
      case V(name) =>
        val dd = math.max(1.0, math.min(d, card))
        doms(name) = math.min(doms.getOrElse(name, Double.MaxValue), dd)
      case _ => ()
    }
    put(qp.s, dS)
    put(qp.p, math.max(1.0, store.predProfiles.size.toDouble))
    put(qp.o, dO)
    put(qp.g, 16.0)
    (card, doms.toMap)
  }

  /** Selinger-style left-deep join-order DP over the BGP's patterns, costed
    * from per-predicate count + distinct-subject/object statistics: the
    * candidate-plan enumeration the reference performs in its planner
    * (up to 16 candidates per node + IDP over BGPs,
    * QueryPlanner.swift:113,399-408, IDQueryPlanner.swift:199-215),
    * re-expressed as an exact DP — feasible because statistics make cost
    * estimation cheap. Join estimate: |A ⋈ B| = |A|·|B| / Π_v max(domA(v),
    * domB(v)); cost = Σ intermediate cardinalities, so cartesian extensions
    * price themselves out unless both sides are provably tiny. O(2ⁿ·n²);
    * beyond 12 patterns the caller falls back to greedy. */
  private def orderPatternsDP(patterns: Seq[QuadPattern]): Seq[QuadPattern] =
    bgpEstimate(patterns)._1

  /** Planner diagnostics + DP core: the chosen left-deep join order and the
    * DP's estimated output cardinality for the whole BGP (surfaced by
    * `GraftEngine.explain`, the reference's plan-cost display). */
  def bgpEstimate(patterns: Seq[QuadPattern]): (Seq[QuadPattern], Double) = {
    val n = patterns.length
    if (n == 1) return (patterns, patternStats(patterns.head)._1)
    if (n > 12 || store.predProfiles.isEmpty)
      return (patterns, patterns.map(patternStats(_)._1).product.min(1e18))
    val stats = patterns.map(patternStats)
    final case class St(cost: Double, card: Double, doms: Map[String, Double],
      order: List[Int])
    val best = new Array[St](1 << n)
    for (i <- 0 until n)
      best(1 << i) = St(stats(i)._1, stats(i)._1, stats(i)._2, List(i))
    var mask = 1
    while (mask < (1 << n)) {
      val s = best(mask)
      if (s != null) {
        var j = 0
        while (j < n) {
          if ((mask & (1 << j)) == 0) {
            val (jc, jd) = stats(j)
            val shared = s.doms.keySet intersect jd.keySet
            val sel = shared.foldLeft(1.0)((acc, v) =>
              acc / math.max(1.0, math.max(s.doms(v), jd(v))))
            val outCard = math.max(s.card * jc * sel, 1e-3)
            val cost = s.cost + outCard
            val m2 = mask | (1 << j)
            if (best(m2) == null || cost < best(m2).cost) {
              val doms = (s.doms.keySet ++ jd.keySet).iterator.map { v =>
                val d = (s.doms.get(v), jd.get(v)) match {
                  case (Some(a), Some(b)) => math.min(a, b) // join restricts
                  case (Some(a), None) => a
                  case (None, Some(b)) => b
                  case _ => outCard
                }
                v -> math.max(1.0, math.min(d, outCard))
              }.toMap
              best(m2) = St(cost, outCard, doms, j :: s.order)
            }
          }
          j += 1
        }
      }
      mask += 1
    }
    val fin = best((1 << n) - 1)
    (fin.order.reverse.map(patterns), fin.card)
  }

  /** Scan-cost estimate of a whole branch (sum of its pattern scans — joins
    * only shrink below the sum, so the sum ranks branches safely). Drives
    * UNION branch ordering; NOT a cardinality bound. */
  private def estCost(a: Algebra): Double = a match {
    case BGP(ps) => ps.map(patternCost).sum
    case APath(s, _, o, g) => // fixpoint over the path's step patterns: ×10
      patternCost(QuadPattern(s, V("__p"), o, g)) * 10
    case AJoin(l, r) => estCost(l) + estCost(r)
    case ALeftJoin(l, r, _) => estCost(l) + estCost(r)
    case AMinus(l, r) => estCost(l) + estCost(r)
    case AUnion(l, r) => estCost(l) + estCost(r)
    case AFilter(_, c) => estCost(c)
    case AExtend(c, _, _) => estCost(c)
    case AProject(c, _) => estCost(c)
    case ADistinct(c) => estCost(c)
    case AReduced(c) => estCost(c)
    case ASlice(c, _, _) => estCost(c)
    case AOrderBy(c, _) => estCost(c)
    case AGroup(c, _, _) => estCost(c)
    case AWindow(c, _) => estCost(c)
    case ATable(_, rows) => rows.size.toDouble
    case _ => totalQuadsEst // SERVICE etc.: unknown, rank as expensive
  }

  /** A branch is provably empty when statistics show a bound term has no id
    * in the store or a bound predicate has zero quads — the scan cannot
    * match. Conservative: false means "don't know". */
  private def provablyEmpty(a: Algebra): Boolean = a match {
    case BGP(ps) => ps.exists { qp =>
      qp.nodes.exists { case (T(t), _) => store.idOf(t).isEmpty; case _ => false } ||
        (qp.p match {
          case T(t) => store.predProfiles.nonEmpty &&
            store.idOf(t).exists(id => !store.predProfiles.contains(id))
          case _ => false
        })
    }
    case AJoin(l, r) => provablyEmpty(l) || provablyEmpty(r)
    case AUnion(l, r) => provablyEmpty(l) && provablyEmpty(r)
    case ALeftJoin(l, _, _) => provablyEmpty(l)
    case AMinus(l, _) => provablyEmpty(l)
    case AFilter(_, c) => provablyEmpty(c)
    case AExtend(c, _, _) => provablyEmpty(c)
    case AProject(c, _) => provablyEmpty(c)
    case ADistinct(c) => provablyEmpty(c)
    case AReduced(c) => provablyEmpty(c)
    case ASlice(c, _, lim) => lim == 0 || provablyEmpty(c)
    case AOrderBy(c, _) => provablyEmpty(c)
    case AWindow(c, _) => provablyEmpty(c)
    case ATable(_, rows) => rows.isEmpty
    case _ => false // AGroup emits a row on empty input; SERVICE unknown
  }

  /** Extend a sol with never-bound vars (an eliminated UNION branch's
    * exclusive variables): null term columns, all other metadata intact. */
  private def padUnbound(sol: Sol, extraVars: Set[String]): Sol = {
    val add = (extraVars -- sol.reps.keySet).toSeq.sorted
    if (add.isEmpty) sol
    else sol.copy(
      df = sol.df.withColumns(add.map(v => v -> lit(null).cast(TermRow.schema)).toMap),
      reps = sol.reps ++ add.map(_ -> (TermRep: Rep)))
  }

  /** Empty solution over `vars` (both UNION branches provably empty): a
    * zero-row LocalRelation, so downstream unions/joins optimize away via
    * PropagateEmptyRelation. */
  private def emptyTermSol(vars: Seq[String]): Sol = {
    val schema = StructType(vars.map(v => StructField(v, TermRow.schema, nullable = true)))
    val df = store.spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    Sol(df, vars.map(_ -> (TermRep: Rep)).toMap, Set.empty, Set.empty, Profile(card = Some(0L)))
  }

  /** True when compileBGP executes the DP order (explain gates its join-order
    * display on this, so it never shows an order that isn't the executed one). */
  def bgpUsesDP(patterns: Seq[QuadPattern]): Boolean =
    patterns.length >= 3 && patterns.length <= 12 && store.predProfiles.nonEmpty

  def compileBGP(patterns: Seq[QuadPattern]): Sol = {
    require(patterns.nonEmpty, "empty BGP")
    if (bgpUsesDP(patterns)) {
      // exact left-deep DP from statistics (reference candidate enumeration)
      val ordered = orderPatternsDP(patterns)
      ordered.tail.foldLeft(compilePattern(ordered.head))((sol, qp) =>
        joinSols(sol, compilePattern(qp), "inner"))
    } else {
      // greedy fallback: cheapest scan first, then any connected pattern
      val cost = patternCost _
      val remaining = scala.collection.mutable.ListBuffer(patterns.sortBy(cost): _*)
      var sol = compilePattern(remaining.remove(0))
      while (remaining.nonEmpty) {
        val idx = remaining.indexWhere(p => p.vars.exists(sol.vars.contains))
        val next = remaining.remove(if (idx >= 0) idx else 0)
        sol = joinSols(sol, compilePattern(next), "inner")
      }
      sol
    }
  }

  // ---- joins ----------------------------------------------------------------

  /** SPARQL-compatible join. Shared vars that are necessarily bound on both sides
    * join as plain equi-keys; possibly-unbound shared vars get the null-tolerant
    * compatibility condition + coalesce (reference hashJoin's unbound side-table,
    * MaterializedQueryPlan.swift:207-361).
    */
  def joinSols(l0: Sol, r0: Sol, kind: String,
      extraFilter: Option[(Sol, Sol) => (Sol, Sol, Column)] = None): Sol = {
    var l = l0; var r = r0
    val shared = (l.vars intersect r.vars).toSeq.sorted
    // align representations on shared vars. Preferred direction: convert the
    // TermRep side to ids and keep the (usually much bigger) id-space side
    // untouched — legal when the var is certain on both sides (plain `===`
    // equality; null ids for store-absent terms match nothing) and the
    // TermRep side's bindings don't have to survive unmatched (it's not the
    // preserved side of an outer/anti join). Otherwise fall back to
    // coercing both sides to term structs.
    for (v <- shared if l.reps(v) != r.reps(v)) {
      val bothCertain = l.certain.contains(v) && r0.certain.contains(v)
      val idSafe = bothCertain && (kind match {
        case "inner" | "left_semi" => true
        case "left_outer" | "left_anti" => l.reps(v) == IdRep // convert right only
        case _ => false
      })
      if (idSafe) {
        if (l.reps(v) == TermRep) l = toIdRep(l, v) else r = toIdRep(r, v)
      } else { l = toTermRep(l, v); r = toTermRep(r, v) }
    }

    // rename ALL right columns — toDF renames in ONE analysis pass (a
    // withColumnRenamed fold re-analyzes the plan per column: quadratic)
    val rdf0 = r.df.toDF(r.df.columns.map("__r_" + _).toIndexedSeq: _*)

    val (lx, rx, extra) = extraFilter match {
      case Some(f) =>
        val (l2, r2, cond) = f(l, r.copy(df = rdf0)); (l2, r2, Some(cond))
      case None => (l, r.copy(df = rdf0), None)
    }
    l = lx; r = rx
    val rdf = r.df

    val certainShared = shared.filter(v => l.certain.contains(v) && r0.certain.contains(v))
    val looseShared = shared.filterNot(certainShared.contains)

    val conds: Seq[Column] =
      certainShared.map(v => col(bt(v)) === col(bt("__r_" + v))) ++
        looseShared.map(v =>
          (col(bt(v)) <=> col(bt("__r_" + v))) || col(bt(v)).isNull || col(bt("__r_" + v)).isNull) ++
        extra.toSeq
    // statistics-driven broadcast: per-predicate counts give EXACT row-count
    // upper bounds for pattern scans, so small sides can be declared
    // broadcastable instead of waiting for AQE to discover it (cached-table
    // size stats reflect the whole store, not the filtered scan). ~30 B/row
    // in id space → 200k rows ≈ 6 MB.
    val bcastRows = 200000L
    def small(c: Option[Long]) = c.exists(_ <= bcastRows)
    // bucket-aligned join: both sides carry the same bucketed-scan subject var
    // as a certain equi-key, so Catalyst plans a co-located merge join with no
    // exchange and no sort — strictly cheaper than materializing a broadcast.
    // Leave such joins unhinted.
    val bucketAligned = certainShared.exists(v =>
      l.prof.bucketS.contains(v) && r0.prof.bucketS.contains(v))
    val rdfH = if (small(r.prof.card) && !bucketAligned) broadcast(rdf) else rdf
    val ldfH =
      if (small(l.prof.card) && !small(r.prof.card) && !bucketAligned) {
        if (kind == "inner") broadcast(l.df)
        // OPTIONAL cannot broadcast its left (the preserved side must stream),
        // but Spark ≥3.5 can hash-BUILD the left of a left-outer shuffled hash
        // join (SPARK-36612). Hinting the provably-small left flips the build
        // side: the huge right is probed, not sorted — the cost-based
        // OPTIONAL placement the reference gets from candidate enumeration
        // (QueryPlanner.swift:399-408).
        else if (kind == "left_outer") l.df.hint("shuffle_hash")
        else l.df
      } else l.df
    val joined =
      if (conds.isEmpty) {
        // CartesianProduct schedules |left| × |right| partition-product tasks —
        // with 32-partition cached scans that is 1024 tasks of pure overhead
        // for small outputs. Broadcast a provably-small side (nested-loop with
        // |big| tasks); otherwise cap the partition product. A genuinely
        // huge×huge cartesian is unrunnable at any partitioning anyway.
        if (small(r.prof.card))
          (if (kind == "inner") l.df.crossJoin(broadcast(rdf))
           else l.df.join(broadcast(rdf), lit(true), kind))
        else {
          // Cap the product via the right side only; coalesce the left only
          // when its exact bound is known and modest. An unknown-card left
          // (join/group-derived intermediate) keeps its parallelism rather
          // than being collapsed to 8 tasks on no evidence.
          val lc = if (l.prof.card.exists(_ <= 1000000L)) l.df.coalesce(8) else l.df
          if (kind == "inner") lc.crossJoin(rdf.coalesce(4))
          else lc.join(rdf.coalesce(4), lit(true), kind)
        }
      } else ldfH.join(rdfH, conds.reduce(_ && _), kind)

    if (kind == "left_semi" || kind == "left_anti") // output ⊆ left rows
      return Sol(joined, l.reps, l.certain, l.nums, l.prof)

    // merge shared columns, surface right-only vars — all merge columns read
    // only `joined` attributes (independent of one another), so they land in a
    // single withColumns projection: one analysis pass instead of one per var
    val rOnly = (r.vars -- l.vars).toSeq
    val merge = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    for (v <- looseShared) {
      merge(v) = coalesce(col(bt(v)), col(bt("__r_" + v)))
      if (l.nums.contains(v) && r.nums.contains(v))
        merge(l.numCol(v)) = coalesce(col(bt(l.numCol(v))), col(bt("__r_" + r.numCol(v))))
    }
    for (v <- rOnly) {
      merge(v) = col(bt("__r_" + v))
      if (r.nums.contains(v)) merge("__n_" + v) = col(bt("__r___n_" + v))
    }
    // the output's decimal companions are Profile.join's `decs`: the right
    // side supplies those it carries, coalesced with a loose-shared left one
    val prof = Profile.join(l, r0, kind, certainShared, looseShared, cartesian = conds.isEmpty)
    for (v <- prof.decs if r.prof.decs(v) && !(l.prof.decs(v) && certainShared.contains(v)))
      merge(l.decCol(v)) = if (l.prof.decs(v)) coalesce(col(bt(l.decCol(v))), col(bt("__r___d_" + v)))
        else col(bt("__r___d_" + v))
    val out = (if (merge.isEmpty) joined else joined.withColumns(merge.toMap))
      .drop(rdf.columns.filter(_.startsWith("__r_")).toSeq: _*)

    val reps = l.reps ++ rOnly.map(v => v -> r.reps(v))
    val certain = if (kind == "inner") l.certain ++ r0.certain else l.certain
    val nums = l.nums ++ rOnly.filter(r.nums.contains)
    Sol(out.select((reps.keySet.toSeq.sorted.map(v => col(bt(v))) ++
      nums.toSeq.sorted.map(v => col(bt("__n_" + v))) ++
      prof.decs.toSeq.sorted.map(v => col(bt("__d_" + v)))): _*), reps, certain, nums, prof)
  }

  // ---- main compile ---------------------------------------------------------

  /** Per-query set of variables whose `__d_` exact-decimal companion can be
    * consumed downstream (None = unknown → build all, e.g. direct
    * [[compilePattern]] calls from tests). Computed once at the outermost
    * [[compile]] and read by scans/extends: a companion no aggregate or
    * arithmetic expression ever consumes would only widen every join,
    * projection and window between the scan and the result edge (the round-4
    * regression pattern — e.g. `q_fk_join` carrying an unused `__d_qty`
    * DECIMAL(38,18) through its 60k-row join). DynamicVariable because
    * compilers are cached and shared across queries. */
  private val decNeedsVar = new scala.util.DynamicVariable[Option[Set[String]]](None)
  private def decNeeded(v: String): Boolean = decNeedsVar.value.forall(_.contains(v))

  /** Bind-join domain restrictions in flight: var → allowed ids. Set around
    * compiling a BGP that joins a small fully-bound VALUES table; consumed by
    * [[compilePattern]] as isin filters on the scan. */
  private val domRestrict =
    new scala.util.DynamicVariable[Map[String, Seq[Long]]](Map.empty)

  /** Per-variable value-id domains of a VALUES table, for columns that are
    * bound in EVERY row (a row with an unbound cell joins compatibly with any
    * value, so its column cannot restrict). Terms absent from the store map to
    * no id — they can never match a stored term, which the empty/shrunken id
    * set encodes exactly. Capped to small tables: the isin literal list is
    * driver-built and must stay broadcast-sized. */
  private def tableDomains(t: ATable): Map[String, Seq[Long]] = {
    if (t.rows.isEmpty || t.rows.size > 1024) return Map.empty
    t.vars.zipWithIndex.collect {
      case (v, i) if t.rows.forall(_(i).isDefined) =>
        v -> t.rows.flatMap(r => store.idOf(r(i).get)).distinct
    }.toMap
  }

  def compile(a: Algebra): Sol =
    if (decNeedsVar.value.isDefined) compile0(a)
    else {
      // Deterministic hidden names per top-level compile: the fresh-name
      // counter restarts at each entry so compiling the same algebra twice
      // yields byte-identical plans — and byte-identical generated code, so
      // Spark's codegen class cache (and the JVM's JIT output) is reused
      // instead of recompiled on every run of a repeated query. Hidden
      // columns never outlive their own plan (dropped before the result
      // edge), and bnode scope ids only need uniqueness within one result
      // set, so cross-query reuse of the ids is safe.
      pathCounter = 0
      decNeedsVar.withValue(Some(Compiler.decNeeds(a)))(compile0(a))
    }

  private def compile0(a: Algebra): Sol = a match {
    case AEnv(key, _, _) => envRegistry(key) // EXISTS correlation splice
    case BGP(ps) => compileBGP(ps)
    case APath(s, p, o, g) => compilePath(s, p, o, g)
    // bind join (reference BindJoinPlan): a small fully-bound VALUES side
    // seeds the BGP's scans with isin domain restrictions before the join
    case AJoin(t: ATable, b: BGP) if tableDomains(t).nonEmpty =>
      val right = domRestrict.withValue(domRestrict.value ++ tableDomains(t))(compileBGP(b.patterns))
      joinSols(compile(t), right, "inner")
    case AJoin(b: BGP, t: ATable) if tableDomains(t).nonEmpty =>
      val left = domRestrict.withValue(domRestrict.value ++ tableDomains(t))(compileBGP(b.patterns))
      joinSols(left, compile(t), "inner")
    // SERVICE ?ep { … } joined with a pattern that binds ?ep: evaluate the
    // sibling first, dispatch the service call per distinct endpoint value,
    // union the per-endpoint results with ?ep bound, then join. BEYOND the
    // reference, which refuses variable endpoints outright
    // (QueryPlanner.swift:819).
    case AJoin(l, r @ AService(V(ev), _, _))
        if !l.isInstanceOf[AService] && Algebra.inscope(l).contains(ev) =>
      compileServiceVarJoin(l, r)
    case AJoin(l @ AService(V(ev), _, _), r)
        if !r.isInstanceOf[AService] && Algebra.inscope(r).contains(ev) =>
      compileServiceVarJoin(r, l)
    case AJoin(l, r) => joinSols(compile(l), compile(r), "inner")

    case ALeftJoin(l, r, None) => joinSols(compile(l), compile(r), "left_outer")
    case ALeftJoin(l, r, Some(e)) => compileLeftJoinFilter(compile(l), compile(r), e)

    case AMinus(l, r) => compileMinus(compile(l), compile(r))

    case AUnion(l, r) =>
      // statistics-driven branch handling (the reference gets this from
      // candidate enumeration, QueryPlanner.swift:399-408): a branch whose
      // bound terms/predicates provably match nothing is eliminated outright
      // (its exclusive vars stay in scope as unbound columns); otherwise the
      // cheaper branch compiles first so LIMIT-style consumers reach its
      // partitions before the expensive one's.
      val (emptyL, emptyR) = (provablyEmpty(l), provablyEmpty(r))
      if (emptyL && emptyR)
        emptyTermSol((Algebra.inscope(l) ++ Algebra.inscope(r)).toSeq.sorted)
      else if (emptyL) padUnbound(compile(r), Algebra.inscope(l))
      else if (emptyR) padUnbound(compile(l), Algebra.inscope(r))
      else {
        val (cl, cr) = (estCost(l), estCost(r))
        if (cr * 2 < cl) unionSols(compile(r), compile(l))
        else unionSols(compile(l), compile(r))
      }

    case AFilter(e, c) => compileFilter(e, compile(c))

    case AExtend(c, v, e) =>
      e match {
        case EExists(p, neg) => existsFlag(compile(c), p, v, neg)
        case _ if Expr.hasExists(e) =>
          // EXISTS nested inside a BIND expression (IF(EXISTS…), EXISTS||…):
          // same flag-rewrite device as the general FILTER case — each
          // EXISTS becomes a boolean flag var, the expression compiles over
          // the flags, the flags are dropped after the extend
          val (s, rewritten, flags) = flagExists(compile(c), e)
          val (s2, ec) = exprColumn(s, rewritten)
          stripVars(bind(s2, v, Map(v -> ec)), flags)
        case _ =>
          val sol = compile(c)
          fastNumChecked(sol, e) match {
            case Some(nc) if !e.isInstanceOf[EVar] =>
              // double-family computed value: bind the numeric companion next
              // to the view so downstream aggregation/filtering stays columnar
              // (a typed SUM over this var is one sum(__n_v), not the generic
              // 6-aggregate struct path with a per-row lexical parse)
              bind(sol, v, Map(v -> numView(nc), sol.numCol(v) -> nc), Some(Sol.FAM_DBL))
            case _ => fastDec(sol, e) match {
              case Some((dc, isdec)) if !e.isInstanceOf[EVar] =>
                // exact-family computed value: the term view (decimal or
                // integer per row) AND the `__d_` companion both build from
                // the same decimal column, so downstream SUM/AVG compiles to
                // one sum(DECIMAL) — no term structs, no dictionary join
                val view = when(dc.isNull, lit(null).cast(TermRow.schema))
                  .when(isdec, graft.engine.NativeExpr.decTerm(dc))
                  .otherwise(graft.engine.NativeExpr.intTerm(dc.try_cast(LongType)))
                val base = Map(v -> view, ("__n_" + v) -> dc.cast(DoubleType))
                val cols = if (decNeeded(v)) base + (sol.decCol(v) -> dc) else base
                bind(sol, v, cols, Some(Sol.FAM_DEC))
              case _ =>
                val (s2, ec) = exprColumn(sol, e)
                bind(s2, v, Map(v -> ec))
            }
          }
      }

    case AProject(c, vs) =>
      val sol = compile(c)
      val keep = vs.filter(sol.reps.contains)
      val cols = keep.map(v => col(bt(v))) ++
        keep.filter(sol.nums.contains).map(v => col(bt(sol.numCol(v)))) ++
        keep.filter(sol.prof.decs.contains).map(v => col(bt(sol.decCol(v)))) ++
        sol.sortCols.map { case (n, _) => col(bt(n)) } // projection keeps the order
      Sol(sol.df.select(cols: _*), sol.reps.filter(kv => keep.contains(kv._1)),
        sol.certain intersect vs.toSet, sol.nums intersect keep.toSet,
        sol.prof.restrict(keep.toSet), sol.sortCols)

    case ADistinct(c) => compileDistinct(dropCompanions(compile(c)))

    // REDUCED: any dedup degree is legal (reference treats it as DISTINCT,
    // QueryPlanner.swift — but its iterator pays no shuffle). We still emit
    // exact-DISTINCT output (the oracle demands it) and pick the plan by
    // scale using the exact cardinality bound from statistics:
    //  - card ≤ cap: partition-local hash dedup, then a single-task merge
    //    dedup — NO Exchange anywhere. coalesce(1) folds the upstream into
    //    the merge task, which is acceptable only because card bounds the
    //    total work that task can see (hence the gate).
    //  - unknown/large card: dropDuplicates. Its partial HashAggregate
    //    already dedups map-side, so the Exchange moves only per-partition
    //    distinct sets — the scale-correct REDUCED at 100 TB.
    case AReduced(c) =>
      val sol = dropCompanions(compile(c))
      if (sol.sortCols.nonEmpty || !sol.prof.card.exists(_ <= Compiler.ReducedLocalCap))
        compileDistinct(sol)
      else {
        val enc = org.apache.spark.sql.Encoders.row(sol.df.schema)
        def localDedup(df: DataFrame): DataFrame = df.mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet.empty[Row]
          it.filter(seen.add) // card ≤ cap bounds the set
        }(enc)
        sol.copy(df = localDedup(localDedup(sol.df).coalesce(1)))
      }

    case ASlice(c, off, lim) =>
      val sol = compile(c)
      var df = sol.df
      // A pending ORDER BY (e.g. DISTINCT between the sort and the slice
      // destroyed physical order via dropDuplicates) must be re-applied
      // BEFORE offset/limit pick rows, or the slice selects an arbitrary
      // subset that merely LOOKS ordered after the result-edge re-sort.
      if (sol.sortCols.nonEmpty)
        df = df.orderBy(sol.sortCols.map { case (n, asc) =>
          if (asc) col(bt(n)).asc_nulls_first else col(bt(n)).desc_nulls_last }: _*)
      if (off > 0) df = df.offset(off.toInt)
      if (lim >= 0) df = df.limit(lim.toInt)
      sol.copy(df = df)

    case AOrderBy(c, keys) =>
      val sol0 = compile(c)
      var sol = sol0
      // materialize sort components as hidden columns: plain column refs
      // survive downstream joins/projections, so the result edge can restore
      // the order after late materialization
      val named = keys.flatMap { k =>
        val (s2, comps) = sortComponents(sol, k.e)
        sol = s2
        comps.map(cc => (cc, k.asc))
      }.zipWithIndex.map { case ((cc, asc), i) =>
        (s"__sort_${freshId()}_$i", cc, asc)
      }
      val df = if (named.isEmpty) sol.df
        else sol.df.withColumns(named.map { case (n, cc, _) => n -> cc }.toMap)
      val ordered = df.orderBy(named.map { case (n, _, asc) =>
        if (asc) col(bt(n)).asc_nulls_first else col(bt(n)).desc_nulls_last }: _*)
      sol.copy(df = ordered, sortCols = named.map { case (n, _, asc) => (n, asc) })

    // COUNT-statistics shortcut (reference: Diomede answers COUNT star queries
    // from Characteristic Sets statically, DiomedeQuadStore.swift:15-97): a
    // group-less COUNT(*) over one all-variable / bound-p pattern is a stat lookup
    case AGroup(BGP(Seq(qp)), Seq(), Seq(AggSpec(out, "count", None, false, _)))
        if qp.g == DefaultGraph && store.defaultGraphs.toSet == store.graphIds.toSet &&
          qp.s.isInstanceOf[V] && qp.o.isInstanceOf[V] &&
          qp.vars.size == (Seq(qp.s, qp.p, qp.o).count(_.isInstanceOf[V]) + 0) &&
          statCount(qp).isDefined =>
      val n = statCount(qp).get
      compile(ATable(Seq(out), Seq(Seq(Some(Term.int(n))))))

    // Characteristic-sets star-COUNT shortcut (reference parity: Diomede also
    // answers star-shaped COUNT(?v) / COUNT(DISTINCT ?s) statically from its
    // characteristic sets, DiomedeQuadStore.swift:15-97): a group-less COUNT
    // over a subject-star of bound predicates is a sum over the sets whose
    // predicate set covers the star — LocalRelation-only plan, zero scans.
    case AGroup(BGP(pats), Seq(), Seq(agg))
        if pats.nonEmpty && starStatCount(pats, agg).isDefined =>
      compile(ATable(Seq(agg.out),
        Seq(Seq(Some(Term.int(starStatCount(pats, agg).get))))))

    case AGroup(c, keys, aggs) =>
      var sol = compile(c)
      // EXISTS inside an aggregate argument — SUM(IF(EXISTS{…},1,0)) —
      // materializes as a per-row boolean flag var over the pre-group rows
      // (the same BIND(EXISTS) device the filter path uses, substitution
      // semantics included), and the aggregate runs over the flag. Without
      // this the raw EExists reached exprColumn and errored to unbound on
      // every row (r12). Flag columns need no strip: compileGroup projects
      // keys + aggregate outputs only.
      val aggs2 = aggs.map { a =>
        a.e match {
          case Some(e) if Expr.hasExists(e) =>
            val (s2, rewritten, _) = flagExists(sol, e)
            sol = s2
            a.copy(e = Some(rewritten))
          case _ => a
        }
      }
      compileGroup(sol, keys, aggs2)

    case AWindow(c, fns) => compileWindow(compile(c), fns)

    case ATable(vs, rows) =>
      val schema = StructType(vs.map(v => StructField(v, TermRow.schema, nullable = true)))
      val data = rows.map(r => Row.fromSeq(r.map(_.map(TermRow.toRow).orNull)))
      // small VALUES become a LocalRelation (no RDD job, size-estimable for
      // broadcast planning, constant-foldable — and the statistics COUNT
      // shortcuts compile to a scan-free LocalRelation-only plan); genuinely
      // large inline tables still distribute
      val df =
        if (rows.size <= 10000) {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(data.toSeq.asJava, schema)
        } else
          spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 1), schema)
      val consts =
        if (rows.size > 1000) Map.empty[String, Seq[Term]]
        else vs.zipWithIndex.map { case (v, i) =>
          v -> rows.flatMap(r => r.lift(i).flatten).distinct
        }.toMap
      Sol(df, vs.map(_ -> (TermRep: Rep)).toMap, Algebra.certain(ATable(vs, rows)),
        Set.empty, Profile(consts = consts, card = Some(rows.size.toLong)))

    case AService(endpoint, child, silent) =>
      val ep = endpoint match {
        case T(Iri(iri)) => iri
        case _ => throw new UnsupportedOperationException(
          "SERVICE with a variable endpoint is only supported when a sibling " +
            "join pattern binds the endpoint variable (per-endpoint dispatch)")
      }
      serviceClient match {
        case Some(client) =>
          val vars = Algebra.inscope(child).toSeq.sorted
          try {
            val rows = client.execute(ep, child, vars)
            compile(ATable(vars, rows.map(m => vars.map(m.get))))
          } catch {
            // SPARQL 1.1 Federated Query 2.2: SILENT turns a service failure
            // into a single EMPTY solution (join identity) — not zero rows
            case _: Exception if silent => compile(ATable(Seq.empty, Seq(Seq.empty)))
          }
        case None =>
          if (silent) compile(ATable(Seq.empty, Seq(Seq.empty)))
          else throw new UnsupportedOperationException(s"no SERVICE client for <$ep>")
      }
  }

  /** SERVICE ?ep dispatch (beyond the reference, which restricts SERVICE to
    * constant URLs — QueryPlanner.swift:819): compile the sibling pattern,
    * read the DISTINCT endpoint terms of `?ep` from it (driver-side —
    * endpoints are a configuration-sized handful, capped at
    * [[Compiler.ServiceEndpointCapKey]]), execute the service child once per
    * endpoint IRI, union the per-endpoint solutions with `?ep` bound to the
    * calling endpoint, and join back to the sibling. SILENT applies PER
    * CALL: a failed call — or a bound endpoint value that is not an IRI —
    * contributes the single empty solution (join identity) for that
    * endpoint; without SILENT either case throws. */
  private def compileServiceVarJoin(outer: Algebra, svc: AService): Sol = {
    val (epVar, child, silent) = svc match {
      case AService(V(v), c, s) => (v, c, s)
      case _ => throw new IllegalStateException("constant-endpoint SERVICE routed to var dispatch")
    }
    // NOTE on the job-free-compile invariant: SERVICE ?ep is the ONE
    // sanctioned exception — dispatch requires the distinct endpoint set at
    // plan time (a configuration-sized handful, capped below), so compiling
    // a variable-endpoint SERVICE runs a bounded Spark job. The sibling is
    // persisted first so that job and the final join-back share one
    // computation of the sibling pattern instead of executing it twice.
    val outerSol0 = compile(outer)
    val outerSol = outerSol0.copy(
      df = graft.pipeline.ScratchCache.persist(outerSol0.df))
    val cap = spark.conf.get(Compiler.ServiceEndpointCapKey,
      Compiler.DefaultServiceEndpointCap.toString).toInt
    val eps = distinctVarTerms(outerSol, epVar, cap + 1)
    if (eps.size > cap)
      throw new UnsupportedOperationException(
        s"SERVICE ?$epVar: more than $cap distinct endpoints " +
          s"(raise ${Compiler.ServiceEndpointCapKey} if intended)")
    def bindEp(t: Term): Sol = compile(ATable(Seq(epVar), Seq(Seq(Some(t)))))
    val perEp: Seq[Sol] = eps.map {
      case Iri(iri) =>
        // constant-endpoint compile (shares the SILENT-per-call semantics);
        // bind ?ep to the endpoint that produced each solution
        joinSols(compile(AService(T(Iri(iri)), child, silent)), bindEp(Iri(iri)), "inner")
      case other if silent => bindEp(other) // non-IRI ≈ failed call: empty solution
      case other => throw new UnsupportedOperationException(
        s"SERVICE ?$epVar bound to non-IRI term: $other")
    }
    val svcAll = perEp.reduceOption(unionSols).getOrElse {
      // no endpoints bound → no service solutions (keep the full schema so
      // the join still resolves every child variable)
      val vars = (Algebra.inscope(child) + epVar).toSeq.sorted
      compile(ATable(vars, Seq.empty))
    }
    joinSols(outerSol, svcAll, "inner")
  }

  /** DISTINCT terms of `v` in `sol`, decoded driver-side (capped by the
    * caller — used only for endpoint dispatch where the value set is tiny). */
  private def distinctVarTerms(sol: Sol, v: String, limit: Int): Seq[Term] = {
    val rows = sol.df.select(col(bt(v))).filter(col(bt(v)).isNotNull)
      .distinct().limit(limit).collect()
    sol.reps(v) match {
      case IdRep => rows.map(r => termOfId(r.getLong(0))).toSeq
      case TermRep => rows.map(r => TermRow.fromRow(r.getStruct(0))).toSeq
    }
  }

  /** DISTINCT/REDUCED: dedup on the solution variables only. A pending ORDER
    * BY (hidden sort columns) must neither join the dedup key nor be lost —
    * SPARQL applies DISTINCT after ORDER BY and keeps the ordering. Takes the
    * compiled (companion-dropped) child so callers never compile twice. */
  private def compileDistinct(sol: Sol): Sol = {
    if (sol.sortCols.isEmpty) sol.copy(df = sol.df.dropDuplicates())
    else sol.copy(df = sol.df.dropDuplicates(sol.reps.keySet.toSeq))
  }

  /** Exact static count for a star-shaped group-less COUNT over the default
    * graph, from characteristic sets (Neumann & Moerkotte; the reference's
    * Diomede shortcut, DiomedeQuadStore.swift:15-97). NEVER an estimate:
    * shapes the statistics can't prove exactly return None and stay dynamic.
    *
    *  - COUNT(DISTINCT ?s) = Σ subjects(S) over sets S ⊇ P — exact always
    *    (a subject matches the star iff its predicate set covers P).
    *  - COUNT(*) / COUNT(?v) for an always-bound pattern var = the same sum,
    *    exact iff every queried predicate is single-valued within every
    *    matching set (occ == subjects there): each matching subject then
    *    contributes exactly one solution row. A multi-valued predicate in
    *    any matching set makes the row count Σ_s Π m_i(s), which per-set
    *    totals cannot reproduce — refused, not estimated.
    *  - single-pattern extras from the predicate profile: COUNT(?v)
    *    non-distinct = quad count; COUNT(DISTINCT ?s/?o) = distS/distO. */
  private def starStatCount(pats: Seq[QuadPattern], agg: AggSpec): Option[Long] = {
    if (agg.fn != "count") return None
    if (store.defaultGraphs.toSet != store.graphIds.toSet) return None
    if (!pats.forall(_.g == DefaultGraph)) return None
    // shape: one shared subject var, bound predicates with known ids,
    // pairwise-distinct object vars none of which repeats the subject var
    val subj = pats.head.s match { case v: V => v; case _ => return None }
    if (!pats.forall(_.s == subj)) return None
    val objVars = pats.map(_.o).collect { case V(n) => n }
    if (objVars.size != pats.size) return None
    if ((objVars :+ subj.name).distinct.size != pats.size + 1) return None
    val pids = pats.map(_.p).map {
      case T(t) => store.idOf(t).getOrElse(return None)
      case _ => return None
    }
    if (pids.distinct.size != pids.size) return None
    // counted expression must be bound in EVERY solution: * or a pattern var
    agg.e match {
      case None | Some(EVar(_)) => ()
      case _ => return None
    }
    agg.e.foreach { case EVar(v) =>
      if (v != subj.name && !objVars.contains(v)) return None
    case _ => return None }
    val profile = store.predProfiles.get(pids.head)
    if (pats.size == 1) {
      // profile-only answers (exact regardless of multi-valuedness)
      if (!agg.distinct) return profile.map(_.count)
      agg.e match {
        case Some(EVar(v)) if v == subj.name =>
          return profile.filter(_.distS > 0).map(_.distS)
        case Some(EVar(v)) if v == objVars.head =>
          return profile.filter(_.distO > 0).map(_.distO)
        case _ => return None
      }
    }
    // PERSISTED or explicitly analyzed stats only: compile must never
    // launch a Spark job as a side effect (the job-free-compile invariant),
    // so it never runs the characteristic-set ANALYZE itself. ANALYZE is
    // paid once, at StorePersist.save.
    val sets = store.charSetStats.getOrElse(return None)
    val pset = pids.toSet
    val supers = sets.filter(cs => pset.subsetOf(cs.preds.toSet))
    val nSubj = supers.map(_.subjects).sum
    if (agg.distinct) agg.e match {
      case Some(EVar(v)) if v == subj.name => Some(nSubj)
      case _ => None // COUNT(DISTINCT ?o_i) is not derivable from set totals
    } else {
      val singleValued = supers.forall(cs => pids.forall { p =>
        cs.occ(cs.preds.indexOf(p)) == cs.subjects
      })
      if (singleValued) Some(nSubj) else None
    }
  }

  /** Exact count for a single quad pattern from per-predicate statistics (only
    * when every variable is distinct — no correlation — and p is bound or all). */
  private def statCount(qp: QuadPattern): Option[Long] = qp.p match {
    case T(t) if qp.s.isInstanceOf[V] && qp.o.isInstanceOf[V] &&
        qp.s != qp.o =>
      store.idOf(t).flatMap(store.predProfiles.get).map(_.count)
    case V(_) if qp.s.isInstanceOf[V] && qp.o.isInstanceOf[V] &&
        Seq(qp.s, qp.p, qp.o).distinct.size == 3 && store.predProfiles.nonEmpty =>
      Some(store.predProfiles.values.map(_.count).sum)
    case _ => None
  }

  private def dropCompanions(sol: Sol): Sol = {
    val scratch = sol.df.columns.filter(c =>
      c.startsWith("__ne_") || c.startsWith("__rownonce")).toSeq
    sol.copy(df = sol.df.drop(sol.nums.toSeq.map("__n_" + _) ++
        sol.prof.decs.toSeq.map("__d_" + _) ++ scratch: _*),
      nums = Set.empty, prof = sol.prof.withoutCompanions)
  }

  // ---- filter (incl. EXISTS rewrite) ---------------------------------------

  private def compileFilter(e: Expr, sol: Sol): Sol = e match {
    case EExists(p, neg) =>
      joinSols(sol, compileExistsPattern(sol, p), if (neg) "left_anti" else "left_semi")
    case ECall("&&", Seq(a, b)) if Expr.hasExists(e) =>
      compileFilter(b, compileFilter(a, sol))
    case ECall("!", Seq(EExists(p, neg))) =>
      joinSols(sol, compileExistsPattern(sol, p), if (neg) "left_semi" else "left_anti")
    case _ if Expr.hasExists(e) =>
      // general shape — EXISTS under ||, a doubled !, a comparison: no join
      // kind expresses it directly, and the expression evaluators reject raw
      // EXISTS (the r11 self-review caught the old fallthrough erroring every
      // row to false). Materialize each EXISTS node as a boolean flag var
      // (the BIND(EXISTS) device, substitution semantics included), rewrite
      // the expression over the flags, filter, then drop the flags.
      val (s, rewritten, flags) = flagExists(sol, e)
      stripVars(compileFilter(rewritten, s), flags)
    case _ =>
      val (s2, c) = ebvColumn(sol, e)
      s2.copy(df = s2.df.filter(c === true))
  }

  /** Rewrite each EXISTS node of `e` to a boolean flag var bound on `sol`
    * (the BIND(EXISTS) device, substitution semantics included): the flagged
    * sol, the expression over the flags, and the flag vars. */
  private def flagExists(sol: Sol, e: Expr): (Sol, Expr, Seq[String]) = {
    var s = sol
    val flags = scala.collection.mutable.ListBuffer[String]()
    def repl(x: Expr): Expr = x match {
      case EExists(p, neg) =>
        val fv = "__exf_" + freshId()
        s = existsFlag(s, p, fv, neg)
        flags += fv
        EVar(fv)
      case ECall(fn, args) => ECall(fn, args.map(repl))
      case other => other
    }
    val rewritten = repl(e)
    (s, rewritten, flags.toSeq)
  }

  /** Remove hidden helper vars (EXISTS flags) from a Sol entirely. */
  private def stripVars(sol: Sol, vs: Seq[String]): Sol =
    sol.copy(df = sol.df.drop(vs.flatMap(v => Seq(v, "__n_" + v, "__d_" + v, "__t_" + v)): _*),
      reps = sol.reps -- vs, certain = sol.certain -- vs, nums = sol.nums -- vs,
      prof = sol.prof.without(vs))

  /** Bind the new TermRep var `v` from `cols`: its view, plus its companions
    * when it is numeric of family `fam`. Added columns: every fact holds. */
  private def bind(sol: Sol, v: String, cols: Map[String, Column],
      fam: Option[Int] = None): Sol =
    Sol(sol.df.withColumns(cols), sol.reps + (v -> TermRep), sol.certain,
      if (fam.isDefined) sol.nums + v else sol.nums,
      fam.fold(sol.prof)(f => sol.prof.numeric(v, f, dec = cols.contains(sol.decCol(v)))))

  /** Compile an EXISTS pattern with SUBSTITUTION semantics (SPARQL 1.1
    * §18.6). The semi/anti join correlates the outer solution with the
    * pattern's IN-SCOPE vars for free; what it cannot see are outer vars the
    * pattern references only in NESTED scopes — a nested NOT EXISTS, a
    * filter-only occurrence — because those compile before the outer rows
    * exist (r11: the subset-by-exclusion double-negation shape returned every
    * pair). For those, the outer solutions' distinct correlation tuples are
    * registered as an [[AEnv]] splice and joined at the pattern's leaves via
    * [[injectEnv]], so nested semi/anti joins see the correlated vars in
    * scope. Correlation tuples are distinct-projected — cost is bounded by
    * the outer's distinct correlated values, not its row count — and the
    * common uncorrelated case compiles exactly as before. */
  private def compileExistsPattern(outer: Sol, p: Algebra): Sol = {
    val deep = Algebra.deepVars(p)
    // freeDeep, not deepVars--inscope: an outer var can be in-scope in one
    // join operand yet referenced in a nested scope of the OTHER operand —
    // the in-scope semi-join never reaches that occurrence (r12).
    val corrOnly = Algebra.freeDeep(p) intersect outer.vars.toSet
    if (corrOnly.isEmpty) compile(p)
    else {
      val corrVars = (deep intersect outer.vars.toSet).toSeq.sorted
      val corr = outer.distinctOf(corrVars)
      val key = freshId()
      envRegistry(key) = corr
      try compile(injectEnv(p,
        AEnv(key, corrVars.toSet, corr.certain)))
      finally envRegistry.remove(key)
    }
  }

  /** Join the correlation env at the pattern's evaluation leaves: descend
    * through operators whose LEFT/child evaluation feeds nested filters
    * (filter, extend, left-join preserved side, minus minuend, both union
    * branches, join left); splice a join everywhere else.
    *
    * Join-shaped operators ALSO descend their RIGHT operand when it
    * references env vars in nested-only positions (a nested EXISTS pattern,
    * or a filter var outside the operand's in-scope set) — §18.6
    * substitution must reach those; in-scope occurrences need no injection
    * because the join itself constrains them, and the gate keeps the common
    * uncorrelated-right plan byte-identical. Correctness of the two-sided
    * splice: env tuples are distinct-projected, and with env columns on both
    * sides the join keys include them, so each combined row surfaces exactly
    * once per env tuple — the same multiset substitution produces.
    *
    * MINUS's right side stays UNinjected by design: substitution makes outer
    * values CONSTANTS inside the pattern, while an env join would make them
    * BINDINGS and flip §8.3.3's domain-disjointness rule (dom(μ)∩dom(μ')=∅
    * keeps the row). Nested-only refs in a MINUS right operand therefore
    * remain uncorrelated — a pinned semantic, mirrored exactly by
    * `RefInterp.evalSeeded`. */
  private def injectEnv(p: Algebra, env: AEnv): Algebra = p match {
    case AFilter(e, c) => AFilter(e, injectEnv(c, env))
    case AExtend(c, v, e) => AExtend(injectEnv(c, env), v, e)
    case ALeftJoin(l, r, e) =>
      ALeftJoin(injectEnv(l, env), injectRight(r, env), e)
    case AMinus(l, r) => AMinus(injectEnv(l, env), r)
    case AUnion(l, r) => AUnion(injectEnv(l, env), injectEnv(r, env))
    case AJoin(l, r) => AJoin(injectEnv(l, env), injectRight(r, env))
    case other => AJoin(env, other)
  }

  /** Right operand of a join-shaped operator under [[injectEnv]]: descend
    * only when nested-only env references exist (see injectEnv scaladoc). */
  private def injectRight(r: Algebra, env: AEnv): Algebra =
    if ((Algebra.freeDeep(r) intersect env.envVars).nonEmpty)
      injectEnv(r, env)
    else r

  /** Tag each row with a `monotonically_increasing_id` var `idc` and pin the
    * frame so the tag is computed exactly ONCE — a branch recompute after a shuffle
    * may renumber, and the tagged-row devices (OPTIONAL+EXISTS-filter,
    * BIND(EXISTS)) join two branches of the same tagged frame. Lazy
    * `localCheckpoint` truncates lineage into executor-local blocks
    * (reclaimed by the ContextCleaner when the plan is GC'd — no
    * CacheManager accumulation across an engine session) but is NOT
    * fault-tolerant: executor loss mid-query aborts the query instead of
    * recomputing. That trade (fail > silently-renumbered wrong answer) is
    * right for interactive use; for long cluster runs, configure a RELIABLE
    * checkpoint dir (`sc.setCheckpointDir`) and these frames checkpoint to
    * that filesystem instead, surviving executor loss. The tag is an IdRep
    * var (a long column IS an id-space column): joinSols's output projection
    * keeps only rep/companion columns, so a bare extra column would be pruned
    * at the first join. */
  private def tagRows(sol: Sol, idc: String): Sol = {
    val df = sol.df.withColumn(idc, monotonically_increasing_id())
    sol.copy(df = if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(false)
      else df.localCheckpoint(false), reps = sol.reps + (idc -> IdRep), certain = sol.certain + idc)
  }

  /** OPTIONAL with filter: LeftJoin(Ω1, Ω2, expr). The SPARQL definition
    * Filter(expr, Join(L,R)) ∪ Diff(L,R,expr) (reference
    * QueryPlanner.swift:480-552; SURVEY.md §7.4 risk 3) is EXACTLY a SQL
    * left-outer join whose condition is compatibility ∧ EBV(expr)=true:
    * matched rows are Filter(expr, Join), preserved rows are Diff (no
    * compatible right row passes expr — an erroring expr passes nothing,
    * which `cond === true` encodes for free). Compiling it as ONE join
    * halves the work of the union-of-two-joins decomposition, which
    * evaluated both inputs twice. EXISTS inside the filter still takes the
    * decomposition: only [[compileFilter]] owns the semi-join machinery,
    * and a join condition can't host it. */
  private def compileLeftJoinFilter(l: Sol, r: Sol, e: Expr): Sol =
    if (Expr.hasExists(e)) {
      // EXISTS can't evaluate inside a join condition (it IS a join), so the
      // Diff side keys on ROW IDENTITY instead: tag each L row, find the rows
      // with a passing partner (compileFilter turns the EXISTS into semi/anti
      // joins over the merged frame), and anti-join the tag set. Rebuilding
      // the L-part from merged rows by value would be unsound: merge() takes
      // the R value for an L-unbound shared var, and compat-matching L rows
      // against merged rows can borrow a witness from a different L row whose
      // bound vars made the filter pass (r11: opt-exists-filter-01 caught the
      // old condOverJoined Diff erroring EXISTS to null → every L row kept).
      val idc = "__ljid_" + freshId()
      val lt = tagRows(l, idc)
      val joined = joinSols(lt, r, "inner")
      val matched = compileFilter(e, joined)
      val diffDf = lt.df
        .join(matched.df.select(col(bt(idc))), Seq(idc), "left_anti")
        .drop(idc)
      // the anti join on the row tag re-keys the preserved rows
      unionSols(stripVars(matched, Seq(idc)), l.copy(df = diffDf, prof = l.prof.rekeyed))
    } else
      joinSols(l, r, "left_outer", extraFilter = Some { (ls, rs) =>
        condOverJoined(ls, rs, e)
      })

  /** Build an EBV condition usable inside a join condition, where right-side
    * columns are prefixed __r_. Falls back to a UDF over both sides' views.
    */
  private def condOverJoined(l: Sol, r: Sol, e: Expr): (Sol, Sol, Column) = {
    val fv = Expr.freeVars(e).toSeq.sorted
    var ls = l; var rs = r
    // right side: columns already renamed with __r_ prefix
    def rightView(bare: String): Column = rs.reps(bare) match {
      case TermRep => col(bt("__r_" + bare))
      case IdRep =>
        val tcol = "__r___t_" + bare
        if (!rs.df.columns.contains(tcol)) {
          val t = dictSide(store.terms.select(col("id").as("__tid2"),
            struct(col("kind"), col("lex"), col("dt"), col("lang"), col("num")).as("__tv2")))
          val joined = rs.df.join(t, col(bt("__r_" + bare)) === col("__tid2"), "left")
            .withColumn(tcol,
              when(col("__tid2").isNotNull, col("__tv2"))
                .otherwise(decodeInlineUdf(col(bt("__r_" + bare)))))
            .drop("__tid2", "__tv2")
          rs = rs.copy(df = joined)
        }
        col(bt(tcol))
    }
    val views: Seq[Column] = fv.map { v =>
      val lv: Option[Column] =
        if (ls.reps.contains(v)) Some { val (s2, c) = withView(ls, v); ls = s2; c }
        else None
      val rv: Option[Column] = if (rs.reps.contains(v)) Some(rightView(v)) else None
      (lv, rv) match {
        // a var in scope on BOTH sides evaluates over the MERGED solution:
        // μ(v) = μ1(v) if bound else μ2(v) (compatible rows agree when both
        // bound, so the coalesce is exact merge semantics — reading only the
        // left column returned null for a left-unbound shared var even when
        // the right row bound it)
        case (Some(a), Some(b)) => coalesce(a, b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => lit(null).cast(TermRow.schema)
      }
    }
    // shallow conditions (the common OPTIONAL-filter shape) compile natively
    // inline — a join condition can't host temp columns, so only small trees
    val viewMap = fv.zip(views).toMap
    NativeExpr.ebvColumnInline(e, viewMap.get, ctx.nowEpochUs) match {
      case Some(c) => return (ls, rs, c === true)
      case None => ()
    }
    val theCtx = ctx
    val eLocal = e
    val fvLocal = fv
    val u = udf { (vals: Seq[Row]) =>
      val m = fvLocal.zip(vals.map(TV.toTerm)).toMap
      try Option(ExprEval.ebvOrErr(ExprEval.eval(eLocal, m.getOrElse(_, null), theCtx)))
      catch { case _: EvalError => None }
    }
    (ls, rs, u(array(views: _*)) === true)
  }

  /** MINUS (reference MinusPlan, MaterializedQueryPlan.swift:539-572): remove an
    * LHS row if some RHS row is compatible AND shares at least one bound var.
    */
  private def compileMinus(l: Sol, r: Sol): Sol = {
    val shared = (l.vars intersect r.vars).toSeq.sorted
    if (shared.isEmpty) return l
    val allCertain = shared.forall(v => l.certain.contains(v) && r.certain.contains(v))
    if (allCertain) joinSols(l, r, "left_anti")
    else {
      var ll = l; var rr = r
      val converted = shared.filter(v => ll.reps(v) != rr.reps(v))
      for (v <- converted) { ll = toTermRep(ll, v); rr = toTermRep(rr, v) }
      val rdf = rr.df.toDF(rr.df.columns.map("__r_" + _).toIndexedSeq: _*)
      val compat = shared.map(v =>
        (col(bt(v)) <=> col(bt("__r_" + v))) || col(bt(v)).isNull || col(bt("__r_" + v)).isNull)
        .reduce(_ && _)
      val overlap = shared.map(v => col(bt(v)).isNotNull && col(bt("__r_" + v)).isNotNull)
        .reduce(_ || _)
      // a subset of the left rows, no longer laid out by a converted var's id
      Sol(ll.df.join(rdf, compat && overlap, "left_anti"), ll.reps, ll.certain,
        ll.nums, ll.prof.subset.copy(bucketS = ll.prof.bucketS -- converted))
    }
  }

  /** BIND(EXISTS{...} AS ?v): boolean variable from the pattern's
    * per-row (non-)match (reference ExistsPlan,
    * MaterializedQueryPlan.swift:1617-1660, recast as set-based joins).
    *
    * Takes the pattern ALGEBRA, not a compiled Sol: the pattern compiles
    * through [[compileExistsPattern]], so substitution-semantics correlation
    * (outer vars referenced only in nested scopes) applies here exactly as
    * in FILTER EXISTS — and the membership test runs through [[joinSols]]'
    * compatibility machinery, so a possibly-unbound shared var matches any
    * pattern row (the r11 self-review caught the old strict `===` key join
    * returning false where the evaluators' compat semantics say true). Row
    * multiplicity is exact via the tagged-row device: semi-join the tagged
    * outer against the pattern, then flag membership of the tag set. */
  private def existsFlag(l: Sol, pat: Algebra, outVar: String, negated: Boolean): Sol = {
    // the flag is there to select rows (a FILTER on it is a row subset), so
    // the output carries the facts of a subset of `l`
    val flag = "__ex_" + outVar
    if ((Algebra.deepVars(pat) intersect l.vars.toSet).isEmpty) {
      // fully uncorrelated: the flag is the pattern's (non-)emptiness.
      // Deferred into the plan as a broadcast 0/1-row marker joined to every
      // row — compile() must not launch Spark jobs (callers may explain)
      val marker = broadcast(compile(pat).df.select(lit(true).as(flag)).limit(1))
      val base = l.df.join(marker, lit(true), "left_outer")
        .withColumns(Map(flag -> coalesce(col(bt(flag)), lit(false))))
      // the marker has at most one row: no left row is multiplied
      return boolVarFromFlag(Sol(base, l.reps, l.certain, l.nums, l.prof.subset),
        flag, outVar, negated)
    }
    val idc = "__exid_" + freshId()
    val lt = tagRows(l, idc)
    val matched = joinSols(lt, compileExistsPattern(lt, pat), "left_semi")
    val joined = lt.df.join(
        matched.df.select(col(bt(idc)).as("__exm")).dropDuplicates(),
        col(bt(idc)) === col("__exm"), "left_outer")
      .withColumn(flag, col("__exm").isNotNull)
      .drop("__exm", idc)
    // one flag per tag (the matches are distinct): rows are not multiplied,
    // but the join on the tag re-keys the frame
    boolVarFromFlag(Sol(joined, l.reps, l.certain, l.nums, l.prof.subset.rekeyed),
      flag, outVar, negated)
  }

  private def boolVarFromFlag(sol: Sol, flag: String, outVar: String, negated: Boolean): Sol = {
    val b = if (negated) !col(bt(flag)) else col(bt(flag))
    val df = sol.df.withColumn(outVar, struct(
      lit(TermRow.KIND_LITERAL).as("kind"),
      when(b, "true").otherwise("false").as("lex"),
      lit(Term.xsdBoolean).as("dt"),
      lit(null).cast(StringType).as("lang"),
      lit(null).cast(DoubleType).as("num"))).drop(flag)
    Sol(df, sol.reps + (outVar -> TermRep), sol.certain + outVar, sol.nums, sol.prof)
  }

  // ---- union ---------------------------------------------------------------

  def unionSols(l0: Sol, r0: Sol): Sol = {
    var l = l0; var r = r0
    val both = l.vars intersect r.vars
    for (v <- both if l.reps(v) != r.reps(v)) { l = toTermRep(l, v); r = toTermRep(r, v) }
    val allVars = (l.vars ++ r.vars).toSeq.sorted
    val sharedNums = allVars.filter(v =>
      (l.nums.contains(v) || !l.vars.contains(v)) && (r.nums.contains(v) || !r.vars.contains(v)) &&
      (l.nums.contains(v) || r.nums.contains(v)))
    def pad(s: Sol): DataFrame = {
      val cols = allVars.map { v =>
        if (s.reps.contains(v)) col(bt(v))
        else if (l.reps.getOrElse(v, r.reps(v)) == TermRep) lit(null).cast(TermRow.schema).as(v)
        else lit(null).cast(LongType).as(v)
      } ++ sharedNums.map { v =>
        if (s.nums.contains(v)) col(bt("__n_" + v)) else lit(null).cast(DoubleType).as("__n_" + v)
      }
      s.df.select(cols: _*)
    }
    val reps = allVars.map(v => v -> l.reps.getOrElse(v, r.reps(v))).toMap
    Sol(pad(l).unionByName(pad(r)), reps, l.certain intersect r.certain,
      sharedNums.toSet, Profile.union(l, r, sharedNums.toSet))
  }

  // ---- order by -------------------------------------------------------------

  /** SPARQL total-order sort key components for an expression:
    * (kindRank, num, lex, dt, lang) — unbound < blank < IRI < literal via
    * kindRank + nulls-first; numeric literals by value before other literals.
    *
    * Fast paths (store type profiles): an all-inline variable sorts by its raw id
    * (tag order == blank < IRI < literal, biased payloads == value order — see
    * [[graft.model.TermId]]); an all-numeric variable sorts by its companion.
    */
  private def sortComponents(sol0: Sol, e: Expr): (Sol, Seq[Column]) = e match {
    case EVar(n) if sol0.prof.inl.contains(n) && sol0.reps.get(n).contains(IdRep) =>
      (sol0, Seq(col(bt(n))))
    case EVar(n) if sol0.prof.numAll.contains(n) && sol0.nums.contains(n) =>
      (sol0, Seq(col(bt(sol0.numCol(n)))))
    case _ =>
      val (sol, v) = exprColumn(sol0, e)
      val rank = when(v.isNull, lit(null).cast(IntegerType)).otherwise(v.getField("kind"))
      (sol, Seq(rank, v.getField("num"), v.getField("lex"), v.getField("dt"),
        v.getField("lang")))
  }

  // ---- aggregates: one definition for GROUP BY and window frames ------------

  import Compiler.{AggDef, AggIn}

  /** The input of aggregate `a` in the cheapest mode the [[Profile]] proves
    * correct:
    *  - "id": the raw id, for MIN/MAX/SAMPLE of an all-inline var (id order
    *    is term order) and for COUNT of any id var (the id is non-null
    *    exactly when the var is bound, and ids are term identity)
    *  - "int": a FAM_INT var's id payload Long, for exact xsd:integer SUM/AVG
    *  - "num": a FAM_DBL var's numeric companion, or a computed value of
    *    double-family vars ([[fastNumChecked]]), for SUM/AVG of doubles
    *  - "dec": an exact DECIMAL(38,18) value, a FAM_DEC var's companion or a
    *    computed one ([[fastDec]]), with a per-row flag for integer/decimal
    *    promotion
    *  - "view": the term struct, for the generic typed aggregation
    * COUNT(*) counts a literal. COUNT(DISTINCT *) counts the distinct
    * solutions of the group (§18.5.1.2): a struct of every visible var, term
    * identity per column, and never NULL because a struct is non-null even
    * when every field is. */
  private def aggInput(sol: Sol, a: AggSpec): (Sol, AggIn) = {
    val sumAvg = a.fn == "sum" || a.fn == "avg"
    def isId(n: String) = sol.reps.get(n).contains(IdRep)
    def fam(n: String) = sol.prof.fam.get(n)
    a.e match {
      case None =>
        val vs = sol.vars.toSeq.sorted.map(v => col(bt(v)))
        (sol, AggIn(if (!a.distinct) lit(1)
          else struct((if (vs.isEmpty) Seq(lit(1)) else vs): _*), "id"))
      case Some(EVar(n)) if isId(n) && (a.fn == "count" ||
          sol.prof.inl.contains(n) && Seq("min", "max", "sample").contains(a.fn)) =>
        (sol, AggIn(col(bt(n)), "id"))
      case Some(EVar(n)) if sumAvg && isId(n) && fam(n).contains(Sol.FAM_INT) =>
        (sol, AggIn(col(bt(n)).bitwiseAND(TermId.PAYLOAD_MASK) - TermId.BIAS, "int"))
      case Some(EVar(n)) if sumAvg && sol.nums.contains(n) &&
          sol.prof.numAll.contains(n) && fam(n).contains(Sol.FAM_DBL) =>
        (sol, AggIn(col(bt(sol.numCol(n))), "num"))
      case Some(e) =>
        val num = if (sumAvg && !e.isInstanceOf[EVar]) fastNumChecked(sol, e) else None
        (num, if (sumAvg) fastDec(sol, e) else None) match {
          case (Some(c), _) => (sol, AggIn(c, "num"))
          // no term structs, no dictionary join (reference exact
          // accumulators, MaterializedQueryPlan.swift:2303-2354)
          case (_, Some((d, isdec))) =>
            (sol, AggIn(struct(d.as("d"), isdec.as("isdec")), "dec"))
          case _ => val (s2, c) = exprColumn(sol, e); (s2, AggIn(c, "view"))
        }
    }
  }

  /** The Spark aggregate functions and result term of aggregate `a` over an
    * input in `mode` (see [[aggInput]]). Exact accumulators run in TRY mode:
    * a Long or DECIMAL(38,18) overflow is a SPARQL error, so the value goes
    * unbound instead of aborting the query. SUM and AVG of no numeric value
    * are `"0"^^xsd:integer` in every mode (§18.5.1.3).
    *
    * SAMPLE and GROUP_CONCAT are defined here for GROUP BY: the least input,
    * and the lexically sorted concat. A window keeps its own two, in frame
    * order: `first(ignoreNulls)`, and the concat without a sort. */
  private def aggDef(a: AggSpec, mode: String): AggDef = {
    import graft.engine.{NativeExpr => NE}
    val avg = a.fn == "avg"
    val zero = intView(lit(0L))
    def cnt(c: Column) = if (a.distinct) count_distinct(c) else count(c)
    def trySum(c: Column) = if (a.distinct) trySumDistinct(c) else try_sum(c)
    def termSort(v: Column) = when(v.isNotNull, struct(v.getField("kind"),
      v.getField("num"), v.getField("lex"), v.getField("dt"), v.getField("lang")))
    // one aggregate function whose partials merge by applying it again
    def again(f: Column => Column, id: Boolean) =
      AggDef(in => Seq(f(in)), _.head, Some(f), idOut = id)
    (a.fn, mode) match {
      case ("count", _) => AggDef(in => Seq(cnt(in)), v => intView(v(0)),
        if (a.distinct) None else Some((p: Column) => sum(p))) // count_distinct partials don't merge
      case ("sum" | "avg", "int") =>
        // a distinct sum accumulates in DECIMAL(38,0), so a total outside
        // Long range is caught by the try_cast
        AggDef(in => Seq(trySum(if (a.distinct) in.cast(DecimalType(38, 0)) else in),
          cnt(in)),
          v => when(v(1) === 0, zero).otherwise(
            if (avg) NE.decTerm(decDiv(v(0), v(1))) else intView(v(0).try_cast(LongType))))
      case ("sum" | "avg", "num") =>
        AggDef(in => Seq(if (a.distinct) sum_distinct(in) else sum(in), cnt(in)),
          v => when(v(1) === 0, zero).otherwise(numView(if (avg) v(0) / v(1) else v(0))))
      case ("sum" | "avg", "dec") =>
        // an all-integer input stays xsd:integer (a total outside Long range
        // is an error); any decimal promotes to exact xsd:decimal
        AggDef(in => Seq(trySum(in.getField("d")), cnt(in.getField("d")),
          max(in.getField("isdec").cast(IntegerType))),
          v => when(v(1) === 0, zero).otherwise(
            if (avg) NE.decTerm(decDiv(v(0), v(1)))
            else when(v(2) === 0, intView(v(0).try_cast(LongType))).otherwise(NE.decTerm(v(0)))))
      case ("sum" | "avg", _) =>
        // generic typed aggregation over term structs: per-family partial
        // sums, the promoted family and a non-numeric poison flag (reference
        // typed accumulators, MaterializedQueryPlan.swift:2303-2354)
        AggDef(in => {
          val rank = NE.famRank(in)
          val dblV = when(rank.isNotNull, in.getField("num"))
          Seq(
            trySum(when(rank === 0, NE.longVal(in))), // exact integer sum
            trySum(when(rank <= 1, NE.decVal(in))), // exact decimal sum
            if (a.distinct) sum_distinct(dblV) else sum(dblV), // double sum
            // numeric count: AVG(DISTINCT) divides by the distinct values
            if (a.distinct) count_distinct(dblV) else count(when(rank.isNotNull, lit(1))),
            max(rank),
            max(when(in.isNotNull && rank.isNull, 1).otherwise(0)))
        }, v => {
          def per(x: Column) = if (avg) decDiv(x, v(3)) else x
          def dbl = if (avg) v(2) / v(3) else v(2)
          when(v(5) === 1, lit(null).cast(TermRow.schema))
            .when(v(3) === 0, zero)
            .when(v(4) === 0, if (avg) NE.decTerm(per(v(0))) else intView(v(0)))
            .when(v(4) === 1, NE.decTerm(per(v(1))))
            .when(v(4) === 2, NE.fltTerm(dbl.cast(FloatType)))
            .otherwise(numView(dbl))
        })
      case ("min" | "sample", "id") => again(v => min(v), id = true)
      case ("max", "id") => again(v => max(v), id = true)
      // min_by/max_by skip null-ordering rows, so an all-null salt partial
      // cannot shadow a bound one
      case ("min" | "sample", _) => again(v => min_by(v, termSort(v)), id = false)
      case ("max", _) => again(v => max_by(v, termSort(v)), id = false)
      case ("group_concat", _) =>
        // the one sort runs after the merge, where the single-phase plan has it
        AggDef(in => Seq(if (a.distinct) collect_set(in.getField("lex"))
            else collect_list(in.getField("lex"))),
          v => strTerm(concat_ws(a.sep, array_sort(v(0)))),
          Some { p =>
            val merged = flatten(collect_list(p))
            if (a.distinct) array_distinct(merged) else merged
          })
      case (other, _) => throw new IllegalArgumentException(s"aggregate: $other")
    }
  }

  /** The xsd:string term with lexical form `c` (non-null). */
  private def strTerm(c: Column): Column = struct(lit(TermRow.KIND_LITERAL).as("kind"),
    c.as("lex"), lit(Term.xsdString).as("dt"), lit(null).cast(StringType).as("lang"),
    lit(null).cast(DoubleType).as("num"))

  /** Hot-group gate for holistic aggregates: a GROUP_CONCAT's collect state
    * holds a group's every row on one reducer, which Spark's partial
    * (map-side) aggregation cannot absorb. When statistics do not bound the
    * input at or below the hot-group cap ([[Compiler.HotGroupCapKey]]), a
    * single group could own that many elements, so the caller takes
    * [[saltedAgg]]. Unknown cardinality counts as above the cap: the salted
    * plan's extra exchange is a bounded cost, an unsalted hot group an
    * unbounded single-reducer collect. */
  private def hotGroup(sol: Sol): Boolean = {
    val cap = spark.conf.get(Compiler.HotGroupCapKey, Compiler.DefaultHotGroupCap.toString)
    sol.prof.card.forall(_ > cap.toLong)
  }

  /** The two-phase salted aggregation ([[graft.pipeline.Skew]]'s device):
    * phase 1 aggregates each part per (keys, salt), bounding any reducer's
    * collect state to about 1/salts of the hottest group; phase 2 merges the
    * per-salt partials per key into `__agg_out_<i>_0`. The result does not
    * depend on the salt because every merge is exact. The salt is
    * `spreadSalt`, not `saltOf`: a duplicate-producing BGP makes a hot group
    * of byte-identical rows, which a content salt would put back on one
    * reducer (see the Skew scaladoc for the retry argument). */
  private def saltedAgg(pre: DataFrame, keys: Seq[Column],
      parts: Seq[(Column, Column => Column)]): DataFrame = {
    val salt = "__graft_salt"
    val phase1 = parts.zipWithIndex.map { case ((c, _), i) => c.as(s"__agg_p_$i") }
    val merged = parts.zipWithIndex.map { case ((_, m), i) =>
      m(col(s"__agg_p_$i")).as(s"__agg_out_${i}_0") }
    pre.withColumn(salt, graft.pipeline.Skew.spreadSalt(pre, Compiler.HotGroupSalts))
      .groupBy((keys :+ col(salt)): _*).agg(phase1.head, phase1.tail: _*)
      .groupBy(keys: _*).agg(merged.head, merged.tail: _*)
  }

  // ---- grouping -------------------------------------------------------------

  private def compileGroup(sol0: Sol, keys: Seq[String], aggs: Seq[AggSpec]): Sol = {
    var sol = sol0
    val ins = aggs.map { a => val (s2, in) = aggInput(sol, a); sol = s2; in }
    val defs = aggs.zip(ins).map { case (a, in) => aggDef(a, in.mode) }
    val parts = defs.zipWithIndex.map { case (d, i) => d.parts(col(s"__agg_in_$i")) }
    val keptKeys = keys.filter(sol.reps.contains)
    val keyCols = keptKeys.map(v => col(bt(v)))
    val pre = sol.df.select((keyCols ++
      ins.zipWithIndex.map { case (in, i) => in.col.as(s"__agg_in_$i") }): _*)
    // keys declared but none materialized (all provably unbound): keep the
    // grouping KEYED via a constant, so that empty input yields zero groups,
    // not the global aggregation's one row (r11 fuzzer caught that)
    val gks = if (keys.nonEmpty && keyCols.isEmpty) Seq(lit(1).as("__gk_const")) else keyCols
    // a hot GROUP_CONCAT compiles the whole GROUP BY as the salted plan, when
    // every aggregate has an exact merge (sum/avg are algebraic: their
    // partial aggregation already absorbs hot keys)
    val salted = keys.nonEmpty && aggs.exists(_.fn == "group_concat") &&
      defs.forall(_.merge.isDefined) && hotGroup(sol)
    val grouped =
      if (salted) saltedAgg(pre, gks, parts.zip(defs).map { case (p, d) => (p.head, d.merge.get) })
      // GROUP BY with no aggregates (SELECT of group keys only): one row per
      // distinct key tuple; Dataset.agg demands an aggregate, and
      // dropDuplicates IS the group-keys projection (nulls group together)
      else if (aggs.isEmpty) pre.dropDuplicates()
      else {
        val aggCols = parts.zipWithIndex.flatMap { case (ps, i) =>
          ps.zipWithIndex.map { case (c, j) => c.as(s"__agg_out_${i}_$j") } }
        pre.groupBy(gks: _*).agg(aggCols.head, aggCols.tail: _*)
      }
    // the result terms, in one projection (one analysis pass)
    val results = aggs.zip(defs).zipWithIndex.map { case ((a, d), i) =>
      d.result(parts(i).indices.map(j => col(s"__agg_out_${i}_$j"))).as(a.out) }
    val idOuts = aggs.zip(defs).collect { case (a, d) if d.idOut => a.out }.toSet
    // the keys keep their value facts (each output row is one input key
    // tuple) but not their companions, which `pre` did not select; the
    // aggregate exchange re-keys the frame; a keyed grouping has at most as
    // many groups as input rows, a key-less one exactly one row
    val prof = sol.prof.restrict(keptKeys.toSet).withoutCompanions.rekeyed
    Sol(grouped.select((keyCols ++ results): _*),
      keptKeys.map(v => v -> sol.reps(v)).toMap ++
        aggs.map(a => a.out -> (if (idOuts.contains(a.out)) IdRep else TermRep: Rep)),
      // sum/avg can poison (non-numeric input → unbound result), so only
      // count/group_concat outputs are necessarily bound
      (sol.certain intersect keptKeys.toSet) ++
        aggs.filter(a => a.fn == "count" || a.fn == "group_concat").map(_.out),
      Set.empty,
      prof.copy(inl = prof.inl ++ idOuts, card = if (keys.isEmpty) Some(1L) else prof.card))
  }

  // ---- windows --------------------------------------------------------------

  private def compileWindow(sol0: Sol, fns: Seq[WinSpec]): Sol = {
    import org.apache.spark.sql.expressions.Window
    var sol = sol0
    for (spec <- fns) {
      // build partition/order columns
      val partCols = spec.partBy.filter(sol.reps.contains).map(v => col(bt(v)))
      var ordComps: Seq[(Seq[Column], Boolean)] = Seq.empty
      for (k <- spec.ordBy) {
        val (s2, comps) = sortComponents(sol, k.e)
        sol = s2
        ordComps = ordComps :+ (comps, k.asc)
      }
      val ordCols: Seq[Column] = ordComps.flatMap { case (comps, asc) =>
        comps.map(cc => if (asc) cc.asc_nulls_first else cc.desc_nulls_last)
      }
      val wBase = if (partCols.isEmpty) Window.partitionBy(lit(1)) else Window.partitionBy(partCols: _*)
      val w = if (ordCols.isEmpty) wBase else wBase.orderBy(ordCols: _*)

      // Whole-partition GROUP_CONCAT past the hot-group gate: a window
      // operator puts the hot partition's every row and its collect state on
      // one task. A whole-partition frame is a per-key aggregate joined back
      // to the rows, so it takes GROUP BY's salted plan. All-ASC order keys
      // only: the merge sorts by the key components, which is the
      // asc_nulls_first frame order; a DESC key has no struct-sort equivalent.
      if (spec.fn == "group_concat" && spec.e.isDefined &&
          spec.frame.forall(_ == (Long.MinValue, Long.MaxValue)) && !spec.range &&
          ordComps.forall(_._2) && hotGroup(sol)) {
        sol = saltedWindowConcat(sol, spec, ordComps)
      } else {
      val framed =
        if (spec.range) {
          // RANGE frame (Spark-native extension; the reference throws,
          // MaterializedQueryPlan.swift:849-852): value-based bounds need ONE
          // numeric order key — order the frame window by the key's numeric
          // value directly so rangeBetween sees a single numeric column.
          require(spec.ordBy.size == 1,
            "RANGE frame requires exactly one ORDER BY key")
          val k = spec.ordBy.head
          val numOrd = k.e match {
            case EVar(n) if sol.nums.contains(n) => col(bt(sol.numCol(n)))
            case e =>
              val (s2, c) = exprColumn(sol, e); sol = s2; c.getField("num")
          }
          val wr = wBase.orderBy(if (k.asc) numOrd.asc_nulls_first
            else numOrd.desc_nulls_last)
          spec.frame match {
            case Some((lo, hi)) => wr.rangeBetween(lo, hi)
            case None =>
              wr.rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          }
        } else spec.frame match {
        case Some((lo, hi)) => w.rowsBetween(lo, hi)
        case None => w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      }
      def view(): Column = { val (s2, c) = exprColumn(sol, spec.e.get); sol = s2; c }
      val (outCol, idOut): (Column, Boolean) = spec.fn match {
        case "rank" => (intView(rank().over(w)), false)
        case "dense_rank" => (intView(dense_rank().over(w)), false)
        case "row_number" => (intView(row_number().over(w)), false)
        case "ntile" =>
          // peer-group NTILE (reference MaterializedQueryPlan.swift:892-926):
          // tiles are assigned over *distinct* sort keys (all peers share a tile),
          // earlier tiles larger by at most one — floor((d-1)·n/D)+1
          val d = dense_rank().over(w).cast(LongType)
          val dMax = max(d).over(wBase)
          val n = lit(spec.arg.toLong)
          (intView((floor((d - 1) * n / dMax) + 1).cast(LongType)), false)
        case "sample" => (first(view(), ignoreNulls = true).over(framed), false)
        case "group_concat" =>
          (strTerm(concat_ws(spec.sep, collect_list(view().getField("lex")).over(framed))),
            false)
        case "count" | "sum" | "avg" | "min" | "max" =>
          // GROUP BY's definition, applied over the frame
          val a = AggSpec(spec.out, spec.fn, spec.e)
          val (s2, in) = aggInput(sol, a)
          sol = s2
          val d = aggDef(a, in.mode)
          (d.result(d.parts(in.col).map(_.over(framed))), d.idOut)
        case other => throw new IllegalArgumentException(s"window fn: $other")
      }
      // a window adds a column and changes no existing var, so the value
      // facts and card survive (losing them forced the NEXT window's order
      // keys and the final projection onto a dictionary decode join, which
      // re-keyed the frame into a fresh Exchange for the second window of
      // q_sparql_window); the window's own exchange replaced the layout, and
      // it destroys the order
      val prof = sol.prof.rekeyed
      sol = sol.copy(df = sol.df.withColumn(spec.out, outCol),
        reps = sol.reps + (spec.out -> (if (idOut) IdRep else TermRep)),
        prof = if (idOut) prof.copy(inl = prof.inl + spec.out) else prof, sortCols = Nil)
      }
    }
    sol
  }

  /** Whole-partition windowed GROUP_CONCAT as [[saltedAgg]] over the
    * partition keys (see the gate in [[compileWindow]]). Each element is a
    * struct of the order key components and then the lex, so the merge's
    * array_sort is the frame order (under a total order, ties are identical
    * elements); the result joins back to the rows null-safely on the
    * partition keys (a broadcast single row for an unpartitioned window). */
  private def saltedWindowConcat(sol0: Sol, spec: WinSpec,
      ordComps: Seq[(Seq[Column], Boolean)]): Sol = {
    val (sol, in) = exprColumn(sol0, spec.e.get)
    val partVars = spec.partBy.filter(sol.reps.contains)
    val keys = partVars.indices.map(i => col(s"__wk_$i"))
    val elem = struct((ordComps.flatMap(_._1).zipWithIndex.map { case (c, i) =>
      c.as(s"__wo_$i") } :+ in.getField("lex").as("__lex")): _*)
    val base = sol.df
    val keyed = base.select(partVars.zipWithIndex.map { case (v, i) =>
      col(bt(v)).as(s"__wk_$i") } :+ when(in.getField("lex").isNotNull, elem).as("__we"): _*)
    val aggDf = saltedAgg(keyed, keys, Seq((collect_list(col("__we")),
        (p: Column) => flatten(collect_list(p)))))
      .select(keys :+ strTerm(concat_ws(spec.sep, transform(
        array_sort(col("__agg_out_0_0")), x => x.getField("__lex")))).as(spec.out): _*)
    val joined =
      if (partVars.isEmpty) base.crossJoin(broadcast(aggDf))
      else {
        val cond = partVars.zipWithIndex.map { case (v, i) =>
          base(bt(v)) <=> aggDf(s"__wk_$i") }.reduce(_ && _)
        base.join(aggDf, cond, "left")
          .drop(partVars.indices.map(i => s"__wk_$i"): _*)
      }
    // the join back adds a column and matches each row at most once (one
    // aggregate row per key): as in the non-salted branch of compileWindow
    sol.copy(df = joined, reps = sol.reps + (spec.out -> TermRep),
      prof = sol.prof.rekeyed, sortCols = Nil)
  }

  // ---- property paths -------------------------------------------------------

  /** Compile a property-path pattern. Link/inverse/sequence/alternative expand
    * statically (reference rewriter QueryRewriting.swift:278-293); negated sets are
    * filtered scans; + and * take [[closure]] (a driver BFS over small bounded
    * edge sets, else the superstep loop: the W3C ALP visited-set algorithm the
    * reference uses, MaterializedQueryPlan.swift:1707-1723); ? is the
    * zero-length match unioned with one step.
    */
  def compilePath(s: Node, path: PathE, o: Node, g: Node): Sol = path match {
    case PLink(iri) => compilePattern(QuadPattern(s, N.iri(iri), o, g))
    case PInv(p) => compilePath(o, p, s, g)
    case PSeq(a, b) =>
      val mid = V("__pathmid_" + freshId())
      // stripVars keeps the endpoints' facts: losing them forced dictionary
      // decode joins at the result edge of q_path_seq
      stripVars(
        joinSols(compilePath(s, a, mid, g), compilePath(mid, b, o, g), "inner"),
        Seq(mid.name))
    case PAlt(a, b) => unionSols(compilePath(s, a, o, g), compilePath(s, b, o, g))
    case PNeg(fwd, rev) =>
      def npsScan(subj: Node, obj: Node, iris: Seq[String]): Sol = {
        val ids = iris.flatMap(i => store.idOf(Iri(i)))
        val base = compilePattern(QuadPattern(subj, V("__p_" + freshId()), obj, g))
        val pVar = base.reps.keys.find(_.startsWith("__p_")).get
        val f = if (ids.isEmpty) base.df else base.df.filter(!col(bt(pVar)).isin(ids: _*))
        stripVars(base.copy(df = f), Seq(pVar))
      }
      val fwdSol: Option[Sol] =
        if (fwd.nonEmpty || rev.isEmpty) Some(npsScan(s, o, fwd)) else None
      val revSol: Option[Sol] = if (rev.nonEmpty) Some(npsScan(o, s, rev)) else None
      (fwdSol, revSol) match {
        case (Some(a), Some(b)) => unionSols(a, b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => throw new IllegalArgumentException("empty NPS")
      }
    case PPlus(p) => g match {
      case V(gv) => perNamedGraph(gv, gn => closure(s, p, o, gn, includeZero = false))
      case _ => closure(s, p, o, g, includeZero = false)
    }
    case PStar(p) =>
      // a constant endpoint with NO dictionary id is absent from the graph:
      // no edge can reach it, so the ONLY possible solution is the
      // zero-length one (ALP includes the start term unconditionally) —
      // and the id-space closure could not represent that row anyway
      def absent(n: Node): Boolean = n match {
        case T(t) => store.idOf(t).isEmpty
        case _ => false
      }
      def starLeg(gn: Node): Sol =
        if (absent(s) || absent(o)) zeroLength(s, o, gn)
        else closure(s, p, o, gn, includeZero = true)
      g match {
        case V(gv) => perNamedGraph(gv, starLeg)
        case _ => starLeg(g)
      }
    case PZeroOne(p) =>
      def zoLeg(gn: Node): Sol = {
        val one = compilePath(s, p, o, gn)
        val u = unionSols(zeroLength(s, o, gn), one)
        u.copy(df = u.df.dropDuplicates()) // a row subset: every fact holds
      }
      g match {
        case V(gv) => perNamedGraph(gv, zoLeg)
        case _ => zoLeg(g)
      }
  }

  private var pathCounter = 0
  /** Compiled-relation splices for [[AEnv]] (EXISTS correlation); keyed by
    * freshId, registered for the duration of one compileExistsPattern call. */
  private val envRegistry = scala.collection.mutable.Map.empty[Int, Sol]
  private def freshId(): Int = { pathCounter += 1; pathCounter }

  /** Edge pairs (__ca, __cb) for an inner path, as a 2-column DataFrame of
    * ids, plus the statistics upper bound on the edge count. RESERVED column
    * names — a user variable literally named `a`/`b` must not collide when
    * the closure binds endpoints. */
  private def pathEdges(p: PathE, g: Node): (DataFrame, Option[Long]) = {
    val a = V("__pa"); val b = V("__pb")
    val sol = compilePath(a, p, b, g)
    (sol.df.select(col("__pa").as("__ca"), col("__pb").as("__cb")).dropDuplicates(),
      sol.prof.card)
  }

  /** All graph terms (for zero-length path over unbound endpoints — reference
    * semantics: zero-step binds every graph term, MemoryQuadStore.swift:79-88). */
  private def graphTerms(g: Node): DataFrame = {
    var q = store.quads
    g match {
      case T(t) => q = q.filter(col("g") === store.idOf(t).getOrElse(-1L))
      case DefaultGraph =>
        // r13 fuzzer find: the default graph may be a strict subset of the
        // store's graphs (FROM-restricted datasets) — zero-length path terms
        // must come from the DEFAULT graphs only, not the whole store
        if (store.defaultGraphs.toSet != store.graphIds.toSet)
          q = q.filter(col("g").isin(store.defaultGraphs: _*))
      case V(_) =>
        // unreachable: closures/zero-length under GRAPH ?g dispatch per
        // named graph (perNamedGraph) before reaching here
        for (named <- store.namedGraphs)
          q = q.filter(col("g").isin(named: _*))
    }
    q.select(col("s").as("t")).union(q.select(col("o").as("t"))).dropDuplicates()
  }

  /** Term of a graph id (driver-side; graphs are few): inline ids decode via
    * the scheme, dictionary ids via one tiny terms lookup. */
  private def termOfId(id: Long): Term =
    if (store.scheme.isInlineTag(TermId.tag(id))) store.scheme.decodeInline(id)
    else TermRow.fromRow(store.terms.filter(col("id") === id)
      .select(struct(col("kind"), col("lex"), col("dt"), col("lang"), col("num")))
      .collect().head.getStruct(0))

  /** GRAPH ?gv dispatch for path closures and zero-length matches (r13
    * fuzzer find: the closure previously ran over the UNION of all graphs
    * and never bound ?gv — cross-graph edges could chain, and per-graph
    * solution multiplicity was lost). SPARQL semantics: evaluate the path
    * WITHIN each named graph, binding ?gv to that graph's name — graphs are
    * a driver-known handful, so this unions |named| per-graph plans, each
    * with the graph var as a constant id column (or an equality filter when
    * the path's own vars already bind ?gv: GRAPH ?x { ?x p* ?y }). */
  private def perNamedGraph(gv: String, f: Node => Sol): Sol = {
    val gids = store.namedGraphs.getOrElse(store.graphIds)
    if (gids.isEmpty) { // empty store: no named graphs, no solutions
      val sol = f(DefaultGraph)
      sol.copy(df = sol.df.filter(lit(false)).withColumn(gv, lit(-1L)),
        reps = sol.reps + (gv -> IdRep), certain = sol.certain + gv)
    } else gids.map { gid =>
      val sol = f(T(termOfId(gid)))
      sol.reps.get(gv) match {
        case Some(IdRep) => sol.copy(df = sol.df.filter(col(bt(gv)) === gid))
        case Some(_) =>
          // a term-space gv column only arises from the absent-constant
          // zero-length device — a term with NO id can never name a graph
          sol.copy(df = sol.df.filter(lit(false)))
        case None =>
          sol.copy(df = sol.df.withColumn(gv, lit(gid)),
            reps = sol.reps + (gv -> IdRep), certain = sol.certain + gv)
      }
    }.reduce(unionSols)
  }

  /** One-row solution binding `v` to the constant term `t`, even when the
    * term has no dictionary id (absent from the graph): SPARQL 1.1 §18.4's
    * ALP procedure puts the start term in the result set UNCONDITIONALLY
    * (`R := R ∪ {x}` before any step), so `?x p* <notInGraph>` must yield
    * x = <notInGraph>. With no id available the row is emitted in STRUCT
    * space (TermRep) — mixed-rep joins/unions convert as needed. */
  private def constRow(v: String, t: Term): Sol = store.idOf(t) match {
    case Some(id) =>
      Sol.ofIds(spark.range(1).select(lit(id).as(v)), Seq(v))
    case None =>
      val schema = StructType(Seq(StructField(v, TermRow.schema, nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(TermRow.toRow(t))), 1), schema)
      Sol(df, Map(v -> TermRep), Set(v), Set.empty,
        Profile(consts = Map(v -> Seq(t)), card = Some(1L)))
  }

  private def zeroLength(s: Node, o: Node, g: Node): Sol = (s, o) match {
    case (V(sn), V(on)) =>
      val t = graphTerms(g)
      Sol.ofIds(t.select(col("t").as(sn), col("t").as(on)), Seq(sn, on))
    case (V(sn), T(t)) => constRow(sn, t)
    case (T(t), V(on)) => constRow(on, t)
    case (T(t1), T(t2)) =>
      // term equality decides the zero-length match; graph membership is
      // irrelevant (ALP includes the start node before any step)
      val df = spark.range(1).select(lit(1).as("__one"))
      Sol.ofIds(if (t1 == t2) df.select() else df.select().filter(lit(false)), Nil)
  }

  /** Closure pairs (__ca, __cb) for p+ / p*, the W3C ALP visited-set walk
    * of the reference (MaterializedQueryPlan.swift:1707-1723, 2036-2068).
    * The walk starts from the bound endpoint, on reversed edges for a bound
    * object, and from every vertex for var-var (quadratic in its output, as
    * in the reference). A bound endpoint over a statistics-bounded edge set
    * takes a driver BFS; otherwise the superstep loop runs until quiescent.
    */
  private def closure(s: Node, p: PathE, o: Node, g: Node, includeZero: Boolean): Sol = {
    val (edges, edgeCard) = pathEdges(p, g)
    // the broadcast cap: any broadcast would ship an edge set this small
    // through the driver anyway. Only a statistics bound earns the driver
    // path — compile() must not collect an edge set of unknown size
    val broadcastSmall = edgeCard.exists(_ <= 200000L)
    def arc(r: Row, reverse: Boolean): (Long, Long) =
      if (reverse) (r.getLong(1), r.getLong(0)) else (r.getLong(0), r.getLong(1))

    // (seed, reached) pairs: one edge-collect job and a LocalRelation result
    def localBfs(seed: Long, reverse: Boolean): DataFrame = {
      import spark.implicits._
      val adj = edges.collect().map(arc(_, reverse)).groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var frontier = Seq(seed)
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(adj.getOrElse(_, Array.emptyLongArray)).filter(seen.add)
      seen.toSeq.map(seed -> _).toDF("__ca", "__cb")
    }

    // (seed, reached) pairs of the superstep loop
    def loop(seed: Option[Long], reverse: Boolean): DataFrame = {
      import graft.graph.Supersteps
      val adj = Supersteps.adjacency(edges.rdd.map(arc(_, reverse)),
        spark.sessionState.conf.numShufflePartitions, undirected = false)
      // state (reached, fresh): the seeds that reach the vertex, and those
      // that reached it in the last superstep, as sorted id arrays; a seed
      // starts fresh at itself without reaching itself (p+ needs one step).
      // A message is (reached, heard): the vertex sends itself `reached`
      // and its out-neighbours `fresh`
      val none = Array.emptyLongArray
      val reach = Supersteps.run[Long, (Array[Long], Array[Long]),
          (Array[Long], Array[Long])](adj, active = Some(_._2.nonEmpty))(
        v => (none, if (seed.forall(_ == v)) Array(v) else none),
        { case (v, (reached, fresh), out) =>
          (if (reached.isEmpty) Iterator.empty else Iterator(v -> (reached, none))) ++
            (if (fresh.isEmpty) Iterator.empty else out.iterator.map(_ -> (none, fresh))) },
        { case ((r1, h1), (r2, h2)) =>
          (Compiler.mergeIds(r1, r2, union = true), Compiler.mergeIds(h1, h2, union = true)) },
        (_, m) => m.fold((none, none)) { case (reached, heard) =>
          val fresh = Compiler.mergeIds(heard, reached, union = false)
          (Compiler.mergeIds(reached, fresh, union = true), fresh) })
      spark.createDataFrame(reach.flatMap { case (v, (reached, _)) =>
        reached.iterator.map(a => (a, v)) }).toDF("__ca", "__cb")
    }

    val bound = (s, o) match {
      case (T(t), _) => Some((t, false))
      case (_, T(t)) => Some((t, true))
      case _ => None
    }
    val pairs: DataFrame = bound match {
      case Some((t, reverse)) =>
        val seed = store.idOf(t).getOrElse(Long.MinValue)
        val walk = if (broadcastSmall) localBfs(seed, reverse) else loop(Some(seed), reverse)
        if (reverse) walk.select(col("__cb").as("__ca"), col("__ca").as("__cb")) else walk
      case None => loop(None, reverse = false)
    }

    val withZero: DataFrame =
      if (!includeZero) pairs
      else (s, o) match {
        case (T(t), _) =>
          val sid = store.idOf(t)
          sid.map(id => pairs.union(spark.range(1).select(lit(id).as("__ca"), lit(id).as("__cb"))))
            .getOrElse(pairs).dropDuplicates()
        case (_, T(t)) =>
          val oid = store.idOf(t)
          oid.map(id => pairs.union(spark.range(1).select(lit(id).as("__ca"), lit(id).as("__cb"))))
            .getOrElse(pairs).dropDuplicates()
        case _ =>
          pairs.union(graphTerms(g).select(col("t").as("__ca"), col("t").as("__cb"))).dropDuplicates()
      }

    // bind endpoints
    (s, o) match {
      case (V(sn), V(on)) if sn == on =>
        // same var on both ends (?x p+ ?x): only cyclic pairs survive
        Sol.ofIds(withZero.filter(col("__ca") === col("__cb")).select(col("__ca").as(sn)),
          Seq(sn))
      case _ =>
        var df = withZero
        var vars = Seq.empty[String]
        s match {
          case T(t) => df = df.filter(col("__ca") === store.idOf(t).getOrElse(Long.MinValue)).drop("__ca")
          case V(n) => df = df.withColumnRenamed("__ca", n); vars :+= n
          case DefaultGraph => ()
        }
        o match {
          case T(t) => df = df.filter(col("__cb") === store.idOf(t).getOrElse(Long.MinValue)).drop("__cb")
          case V(n) => df = df.withColumnRenamed("__cb", n); vars :+= n
          case DefaultGraph => ()
        }
        Sol.ofIds(df, vars)
    }
  }
}

object Compiler {
  /** a ∪ b (`union`) or a ∖ b of two sorted, distinct id arrays. */
  private def mergeIds(a: Array[Long], b: Array[Long], union: Boolean): Array[Long] = {
    if (b.isEmpty || a.isEmpty && !union) return a
    if (a.isEmpty) return b
    val out = Array.newBuilder[Long]
    var (i, j) = (0, 0)
    while (i < a.length || j < b.length) {
      if (j == b.length || (i < a.length && a(i) < b(j))) { out += a(i); i += 1 }
      else if (i == a.length || b(j) < a(i)) { if (union) out += b(j); j += 1 }
      else { if (union) out += a(i); i += 1; j += 1 }
    }
    out.result()
  }

  /** Max exact-cardinality bound for which REDUCED takes the no-Exchange
    * local-dedup + single-task-merge plan; larger/unknown inputs use
    * dropDuplicates (map-side partial dedup, Exchange of shrunk sets). */
  val ReducedLocalCap = 1000000L

  /** Hot-group gate for the two-phase salted GROUP_CONCAT plan: when the
    * aggregation input is NOT statistically bounded at or below this many
    * rows, a single group could concentrate that many collect-list elements
    * on one reducer, so the compiler pre-spreads per (key, salt) and merges
    * per key. Configured per session via the Spark runtime conf (no mutable
    * compiler statics): `spark.conf.set(HotGroupCapKey, 0)` forces the
    * salted plan everywhere — the forced-gate EngineSpec test does exactly
    * that, which is safe because the salted plan computes exactly the
    * single-phase result (all admitted merges are exact). */
  val HotGroupCapKey = "spark.graft.hotGroupCap"
  val DefaultHotGroupCap: Long = 2000000L

  /** Salt fan-out of the two-phase hot-group plan (≈ executor-core count:
    * the hottest group's collect state splits over this many reducers). */
  val HotGroupSalts: Int = 32

  /** An aggregate's input column and its input mode (`Compiler.aggInput`). */
  private final case class AggIn(col: Column, mode: String)

  /** One SPARQL aggregate as Spark aggregate functions (`Compiler.aggDef`),
    * written once for both callers: `compileGroup` applies `parts(in)` in
    * `.agg`, `compileWindow` applies the same columns `.over(frame)`, and
    * `result` turns their values into the result term. `merge` merges a
    * one-part aggregate's per-salt partials in `saltedAgg` where that merge is
    * exact; `idOut`: the result is an id column, not a term struct. */
  private final case class AggDef(parts: Column => Seq[Column],
      result: Seq[Column] => Column, merge: Option[Column => Column] = None,
      idOut: Boolean = false)

  /** Cap on distinct endpoint values for SERVICE ?ep dispatch: each endpoint
    * is one driver-side HTTP round-trip, so the planner refuses unbounded
    * fan-out rather than silently issuing thousands of calls. */
  val ServiceEndpointCapKey = "spark.graft.serviceEndpointCap"
  val DefaultServiceEndpointCap: Int = 64

  /** Variables whose exact-decimal `__d_` companion can actually be consumed
    * somewhere in the query: free vars of SUM/AVG arguments (group and
    * window — the `dec` aggregation fast path) and any var appearing inside
    * an arithmetic expression (the [[Compiler.fastDecTree]] shapes — this
    * also keeps the companions a computed-decimal BIND needs to build its
    * view). Everything else skips companion creation at the scan: the column
    * would only widen rows through every operator in between. Conservative in
    * one direction only — over-inclusion costs a spare column; omission just
    * falls back to the generic typed path (still correct). */
  def decNeeds(root: Algebra): Set[String] = {
    val need = scala.collection.mutable.Set[String]()
    def expr(e: Expr, inArith: Boolean): Unit = e match {
      case EVar(n) => if (inArith) need += n
      case EConst(_) => ()
      case ECall(fn, args) =>
        val arith = fn match {
          case "+" | "-" | "*" | "/" | "neg" | "abs" => true
          case _ => false
        }
        args.foreach(expr(_, inArith || arith))
      case EExists(p, _) => walk(p)
    }
    def aggArg(fn: String, eo: Option[Expr]): Unit = eo.foreach { e =>
      if (fn == "sum" || fn == "avg") need ++= Expr.freeVars(e)
      expr(e, inArith = false)
    }
    def walk(a: Algebra): Unit = a match {
      case BGP(_) | ATable(_, _) | APath(_, _, _, _) => ()
      case AJoin(l, r) => walk(l); walk(r)
      case ALeftJoin(l, r, eo) => walk(l); walk(r); eo.foreach(expr(_, inArith = false))
      case AMinus(l, r) => walk(l); walk(r)
      case AUnion(l, r) => walk(l); walk(r)
      case AFilter(e, c) => expr(e, inArith = false); walk(c)
      case AExtend(c, _, e) => expr(e, inArith = false); walk(c)
      case AProject(c, _) => walk(c)
      case ADistinct(c) => walk(c)
      case AReduced(c) => walk(c)
      case ASlice(c, _, _) => walk(c)
      case AOrderBy(c, ks) => ks.foreach(k => expr(k.e, inArith = false)); walk(c)
      case AGroup(c, _, aggs) => aggs.foreach(s => aggArg(s.fn, s.e)); walk(c)
      case AWindow(c, fns) =>
        fns.foreach { w =>
          aggArg(w.fn, w.e)
          w.ordBy.foreach(k => expr(k.e, inArith = false))
        }
        walk(c)
      case AService(_, c, _) => walk(c)
    }
    walk(root)
    need.toSet
  }
}
