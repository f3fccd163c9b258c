package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.algebra._
import graft.model._

/** Result-edge helpers: materialize solution variables to term structs, or cast them
  * to native relational values (the shape the DuckDB oracle produces). Query forms
  * ASK / CONSTRUCT / DESCRIBE (reference form dispatch
  * kasei/kineo `Sources/Kineo/SPARQL/QueryPlanner.swift:1169-1202`).
  */
object Results {

  /** Re-apply a pending ORDER BY after late-materialization joins (which
    * destroy row order); the hidden sort columns survive projection. */
  private def restoreOrder(sol: Sol): Sol =
    if (sol.sortCols.isEmpty) sol
    else sol.copy(df = sol.df.orderBy(sol.sortCols.map { case (n, asc) =>
      if (asc) col(s"`$n`").asc_nulls_first else col(s"`$n`").desc_nulls_last }: _*))

  /** Materialize every variable as a term-view struct column. */
  def materialize(c: Compiler, sol0: Sol): DataFrame = {
    var sol = sol0
    val vs = sol.vars.toSeq.sorted
    val cols = vs.map { v =>
      val (s2, vc) = c.withView(sol, v)
      sol = s2
      (v, vc)
    }
    restoreOrder(sol).df.select(cols.map { case (v, vc) => vc.as(v) }: _*)
  }

  /** Cast variables to native Spark types. Supported casts: long, double, string,
    * timestamp, date, boolean, int. Uses the numeric companion / view lex.
    */
  def native(c: Compiler, sol0: Sol, casts: Seq[(String, String)]): DataFrame = {
    var sol = sol0
    val cols: Seq[Column] = casts.map { case (v, ty) =>
      if (ty == "double" && sol.nums.contains(v)) col("__n_" + v).as(v)
      else {
        val (s2, vc) = c.withView(sol, v)
        sol = s2
        val out = ty match {
          case "long" => vc.getField("lex").cast(LongType)
          case "int" => vc.getField("lex").cast(IntegerType)
          case "double" => vc.getField("num").cast(DoubleType)
          case "string" => vc.getField("lex")
          case "boolean" => vc.getField("lex") === "true"
          case "timestamp" => to_timestamp(regexp_replace(vc.getField("lex"), "Z$", ""))
          case "date" => vc.getField("lex").cast(DateType)
          // representation-robust decimal compare: exact decimal → round(4) →
          // DOUBLE. The engine still aggregates exactly; only the comparison
          // representation changes (decimal scale normalization differs
          // between parquet readers, so a raw DECIMAL hash is fragile).
          // Scale 12 on the intermediate cast so values whose lexical scale
          // exceeds 4 are rounded once (a narrower cast would round twice:
          // first HALF_UP to the cast scale, then round(,4)). Exact while the
          // scale-4 integer representation fits in 2^53 — far beyond any SF
          // the battery runs at.
          case "decr4" =>
            round(vc.getField("lex").cast(DecimalType(38, 12)), 4).cast(DoubleType)
          // exact-DECIMAL comparison as a canonical string: trailing fraction
          // zeros (and a bare trailing point) stripped on BOTH sides, so the
          // compare is representation-stable at any scale — this keeps the
          // exact-decimal output path oracle-covered without depending on how
          // a parquet reader normalizes DECIMAL scale.
          case "decstr" =>
            regexp_replace(regexp_replace(vc.getField("lex"),
              "(\\.\\d*?)0+$", "$1"), "\\.$", "")
          case other => throw new IllegalArgumentException(s"cast: $other")
        }
        out.as(v)
      }
    }
    restoreOrder(sol).df.select(cols: _*)
  }

  /** ASK → single-row DataFrame with one boolean column. */
  def ask(sol: Sol, name: String = "ask"): DataFrame = {
    val spark = sol.df.sparkSession
    val nonEmpty = !sol.df.isEmpty
    spark.range(1).select(lit(nonEmpty).as(name))
  }

  /** CONSTRUCT: instantiate templates over bindings, drop non-ground triples,
    * dedup (reference QueryPlanner.swift:1181-1199). Output: lexical s/p/o strings.
    *
    * Scale shape: each template first dedups the solution on its *variable*
    * columns in their native representation (id-space Longs for scan-born vars) —
    * the dictionary join and lexical materialization run over the already-distinct
    * set, so the big shuffle carries 8-byte ids, not strings. The final
    * cross-template lexical dedup only sees output-sized input.
    */
  /** Template blank nodes must instantiate FRESH per solution row (SPARQL
    * 16.2: the template's bnodes are scoped to one solution — the same label
    * co-refers WITHIN a row, never across rows). A hidden per-row id seeds
    * the fresh labels; templates without bnodes skip it entirely (their
    * per-template native-rep dedup is the scale path and must not be
    * defeated by a unique rowid). */
  private def templateBNode(n: Node): Boolean = n match {
    case T(_: BNode) => true
    case _ => false
  }

  /** The distinct bindings one template instantiates: its vars, plus the
    * `__cbrow` row id when it mints blank nodes. */
  private def templateRows(sol: Sol, s: Node, p: Node, o: Node): Sol =
    sol.distinctOf(Seq(s, p, o).collect { case V(v) if sol.reps.contains(v) => v }.distinct,
      if (Seq(s, p, o).exists(templateBNode)) Seq("__cbrow") else Nil)

  def construct(c: Compiler, sol0a: Sol, templates: Seq[(Node, Node, Node)]): DataFrame = {
    val anyB = templates.exists { case (s, p, o) => Seq(s, p, o).exists(templateBNode) }
    val sol0 = if (!anyB) sol0a
      else sol0a.copy(df = sol0a.df.withColumn("__cbrow", monotonically_increasing_id()))
    val dfs = templates.map { case (s, p, o) =>
      // dedup in native rep first (id-space when the var came from a scan);
      // a bnode template carries the rowid, so every solution row survives
      // (each must mint its own bnodes)
      var sol = templateRows(sol0, s, p, o)
      // (lexical form, term kind): the kind drives RDF triple validity —
      // a literal subject or non-IRI predicate instantiation is dropped,
      // not emitted (SPARQL 1.1 §16.2: invalid RDF triples are excluded)
      def colOf(n: Node): (Column, Column) = n match {
        case T(BNode(b)) =>
          (concat(lit(b + "_r"), col("__cbrow")), lit(TermRow.KIND_BLANK))
        case T(t) => (lit(t.lex), lit(t match {
          case _: Iri => TermRow.KIND_IRI
          case _: BNode => TermRow.KIND_BLANK
          case _ => TermRow.KIND_LITERAL
        }))
        case V(v) if sol.reps.contains(v) =>
          val (s2, vc) = c.withView(sol, v)
          sol = s2
          (vc.getField("lex"), vc.getField("kind"))
        case _ => (lit(null).cast(StringType), lit(null).cast(IntegerType))
      }
      val ((cs, ks), (cp, kp), (co, _)) = (colOf(s), colOf(p), colOf(o))
      sol.df.select(cs.as("subject"), cp.as("predicate"), co.as("object"),
          ks.as("__ks"), kp.as("__kp"))
        .filter(col("subject").isNotNull && col("predicate").isNotNull &&
          col("object").isNotNull &&
          col("__ks") =!= TermRow.KIND_LITERAL && col("__kp") === TermRow.KIND_IRI)
        .drop("__ks", "__kp")
    }
    dfs.reduce(_ unionByName _).dropDuplicates()
  }

  /** CONSTRUCT in term space: one term-struct column per position — the
    * lossless form (kind/datatype/lang preserved) used by the W3C conformance
    * compare; [[construct]] above is the lexical driver-contract form. Same
    * scale shape: per-template dedup in native rep before materialization.
    */
  def constructTerms(c: Compiler, sol0a: Sol,
      templates: Seq[(Node, Node, Node)]): DataFrame = {
    val anyB = templates.exists { case (s, p, o) => Seq(s, p, o).exists(templateBNode) }
    val sol0 = if (!anyB) sol0a
      else sol0a.copy(df = sol0a.df.withColumn("__cbrow", monotonically_increasing_id()))
    val dfs = templates.map { case (s, p, o) =>
      var sol = templateRows(sol0, s, p, o)
      def colOf(n: Node): Column = n match {
        case T(BNode(b)) => struct(
          lit(TermRow.KIND_BLANK).as("kind"),
          concat(lit(b + "_r"), col("__cbrow")).as("lex"),
          lit(null).cast(StringType).as("dt"),
          lit(null).cast(StringType).as("lang"),
          lit(null).cast(DoubleType).as("num"))
        case T(t) => NativeExpr.constTerm(t)
        case V(v) if sol.reps.contains(v) =>
          val (s2, vc) = c.withView(sol, v)
          sol = s2
          vc
        case _ => lit(null).cast(TermRow.schema)
      }
      val (cs, cp, co) = (colOf(s), colOf(p), colOf(o))
      sol.df.select(cs.as("s"), cp.as("p"), co.as("o"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull &&
          // RDF triple validity (SPARQL 1.1 §16.2): drop literal subjects
          // and non-IRI predicates rather than emit invalid RDF
          col("s").getField("kind") =!= TermRow.KIND_LITERAL &&
          col("p").getField("kind") === TermRow.KIND_IRI)
    }
    dfs.reduce(_ unionByName _).dropDuplicates()
  }

  /** DESCRIBE: all quads whose subject is one of the described terms — vars
    * and constants alike, unioned into ONE distinct target-id set before a
    * single semi-join against the store (reference describes a list of
    * targets, SimpleQueryEvaluation.swift:1305-1319). */
  def describe(c: Compiler, sol: Sol, vs: Seq[String]): DataFrame = {
    val present = vs.filter(sol.reps.contains)
    // TermRep targets (constant lists, VALUES, computed BINDs) convert through
    // the compiler's distributed term→id path (inline UDF + dictionary join on
    // the target side) — no driver-side collect, so a high-cardinality
    // DESCRIBE ?x target set cannot OOM the driver.
    // ONE evaluation of the solution for ALL target vars: fold each var to
    // id representation, then explode the id columns into a single target
    // frame — a DESCRIBE ?x ?y list no longer re-runs the WHERE pattern per
    // variable.
    val q =
      if (present.isEmpty) c.store.quads.filter(lit(false))
      else {
        val idSol = present.foldLeft(sol)((s, v) => c.toIdRep(s, v))
        val ids0 = idSol.df
          .select(explode(array(present.map(v => col(s"`$v`")): _*)).as("__tid"))
          .filter(col("__tid").isNotNull)
          .dropDuplicates()
        // The target id set is tiny whenever statistics bound the solution
        // (DESCRIBE <iri>, VALUES, a stats-bounded BGP): broadcast it, or the
        // semi-join sort-merge-shuffles the ENTIRE store to probe a handful
        // of ids — a full-dataset shuffle at 100 TB. Unbounded targets keep
        // the shuffle path (broadcasting them could OOM the driver).
        val ids = if (sol.prof.card.exists(_ * vs.size <= 1000000L)) broadcast(ids0)
          else ids0
        c.store.quads.join(ids, c.store.quads("s") === ids("__tid"), "left_semi")
      }
    val dsol = Sol.ofIds(q.select(col("s").as("ds"), col("p").as("dp"), col("o").as("dobj")),
      Seq("ds", "dp", "dobj"))
    materialize(c, dsol).select(
      col("ds").getField("lex").as("subject"),
      col("dp").getField("lex").as("predicate"),
      col("dobj").getField("lex").as("object"))
  }
}
