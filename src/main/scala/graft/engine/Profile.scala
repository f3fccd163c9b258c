package graft.engine

import graft.model.Term

/** What statistics prove about a [[Sol]]'s variables: the compiler's static
  * analysis of the solution, carried next to the DataFrame the way the
  * reference's plans carry `necessarilyBound` (kasei/kineo
  * `QueryPlan.swift:147-206`). Each fact is a sound claim or absent; an absent
  * fact only sends the operators down a slower generic path (for example a
  * dictionary-decode join instead of an in-place inline decode).
  *
  * Value facts describe the values a variable takes. They survive any added
  * column and, except a FAM_DBL `fam` ([[subset]]), any row subset (filter,
  * semi/anti join, slice, distinct):
  *  - `inl`: every id is inline-encoded, so the raw id sorts in SPARQL term
  *    order and decodes without a dictionary join
  *  - `numAll`: the `__n_<var>` numeric companion is populated for every
  *    bound value, so numeric sorts and aggregates can read it alone
  *  - `fam`: numeric family from predicate statistics. [[Sol.FAM_INT]]: every
  *    bound value is an inline xsd:integer (exact long aggregation from the id
  *    payload); [[Sol.FAM_DBL]]: an int/float/double mix promoting to
  *    xsd:double (companion-exact); [[Sol.FAM_DEC]]: integers and exactly
  *    representable decimals. FAM_DBL is the one claim a row subset can
  *    falsify: a filter that keeps only integers still aggregates to
  *    xsd:double
  *  - `decs`: the var carries a `__d_<var>` exact-decimal companion,
  *    DECIMAL(38,18) (set only when statistics prove every value fits)
  *  - `consts`: the var's full value set is a small compile-time constant
  *    (VALUES), which lets mixed-representation joins resolve its ids while
  *    compiling
  *  - `multOne`: each value is bound in at most one row (functional-predicate
  *    statistics), so an equi-join on the var cannot multiply the other
  *    side's rows and `card` survives it
  *
  * `bucketS` is a claim about the physical layout: the frame is
  * hash-partitioned (and sorted) on these vars, carried from the subject of
  * a bucketed scan, so an equi-join of two such sols on one is co-located and
  * must not be broadcast-hinted away. It survives only where no exchange
  * re-keys the frame ([[rekeyed]]).
  *
  * `card` is an exact upper bound on the row count (bound-predicate scan
  * counts). It drives broadcast hints and survives only where rows cannot
  * multiply.
  */
final case class Profile(
    inl: Set[String] = Set.empty,
    numAll: Set[String] = Set.empty,
    fam: Map[String, Int] = Map.empty,
    decs: Set[String] = Set.empty,
    consts: Map[String, Seq[Term]] = Map.empty,
    multOne: Set[String] = Set.empty,
    bucketS: Set[String] = Set.empty,
    card: Option[Long] = None) {

  /** The facts of the vars `keep` admits; the rows are unchanged. */
  def restrict(keep: String => Boolean): Profile = Profile(inl.filter(keep),
    numAll.filter(keep), fam.filter(kv => keep(kv._1)), decs.filter(keep),
    consts.filter(kv => keep(kv._1)), multOne.filter(keep), bucketS.filter(keep), card)

  def without(vs: Iterable[String]): Profile = {
    val gone = vs.toSet
    restrict(v => !gone(v))
  }

  /** After an exchange re-keys the frame (window, group, a join on a row tag). */
  def rekeyed: Profile = copy(bucketS = Set.empty)

  /** Over a subset of the rows: every fact but a FAM_DBL family, the one a
    * subset can falsify. MINUS and the EXISTS flags apply it; `compileFilter`
    * and the semi/anti join still keep FAM_DBL (a known fault). */
  def subset: Profile = copy(fam = fam.filter(_._2 != Sol.FAM_DBL))

  /** After the `__n_`/`__d_` companion columns are dropped. */
  def withoutCompanions: Profile = copy(numAll = Set.empty, decs = Set.empty)

  /** `v` newly bound to numeric values of family `f`, every one of which has
    * its `__n_` companion (and its `__d_` companion when `dec`). */
  def numeric(v: String, f: Int, dec: Boolean): Profile =
    copy(numAll = numAll + v, fam = fam + (v -> f), decs = if (dec) decs + v else decs)
}

object Profile {
  val none: Profile = Profile()

  /** Facts of an inner or left-outer join of `l` and `r`: `certainShared`
    * vars are plain equi-keys (equal on matched rows), `looseShared` vars are
    * compatible-or-unbound and coalesced, `cartesian` when nothing is shared.
    * `l.nums` and `r.nums` name the companions the join output carries. */
  def join(l: Sol, r: Sol, kind: String, certainShared: Seq[String],
      looseShared: Seq[String], cartesian: Boolean): Profile = {
    val (lp, rp) = (l.prof, r.prof)
    val inner = kind == "inner"
    val rOnly = r.vars -- l.vars
    // an equal-valued (certain) shared var takes either side's inl; a
    // coalesced (loose) one needs both; a one-side var keeps its own
    val inl = (l.vars ++ r.vars).filter { v =>
      if (certainShared.contains(v)) lp.inl(v) || rp.inl(v)
      else if (looseShared.contains(v)) lp.inl(v) && rp.inl(v)
      else if (rOnly(v)) rp.inl(v)
      else lp.inl(v)
    }
    val numAll = lp.numAll.filter(l.nums) ++ rOnly.filter(v => rp.numAll(v) && r.nums(v))
    val fam = lp.fam.filter { case (v, f) => !r.vars(v) || rp.fam.get(v).contains(f) } ++
      rp.fam.filter(kv => rOnly(kv._1))
    // decimal companions stay valid where the value provably survives: left's
    // own vars (minus loose-shared coalesces the right side must also cover),
    // right-only vars, and inner-join certain-shared vars covered by either
    // side; joinSols builds exactly these columns
    val decs = (lp.decs -- looseShared.filterNot(rp.decs)) ++ rOnly.filter(rp.decs) ++
      (if (inner) certainShared.filter(rp.decs) else Nil)
    // if some certain equi-key binds ≤1 row on a side, that side cannot
    // multiply the other: the other side's exact bound survives. This keeps a
    // filtered star intermediate provably small enough to broadcast into the
    // next fact-predicate scan (bind-join with cost input)
    val matchOneR = certainShared.exists(rp.multOne)
    val matchOneL = certainShared.exists(lp.multOne)
    val card =
      if (cartesian && inner) // exact product bound
        // overflow-safe: a*b can wrap negative exactly when the double guard
        // rounds 2^63 up to "fits", and a negative card would then look tiny
        for (a <- lp.card; b <- rp.card; if a == 0L || b <= Long.MaxValue / a)
          yield a * b
      else if (inner)
        ((if (matchOneR) lp.card else None) ++ (if (matchOneL) rp.card else None)).minOption
      else if (matchOneR) lp.card // left_outer: the preserved side is not multiplied
      else None
    // a side's single-row vars stay single-row when the other side matches
    // each of its rows at most once — and only where that side binds them
    val multOne = (if (matchOneR) lp.multOne.filter(l.certain) else Set.empty[String]) ++
      (if (matchOneL && inner) rp.multOne.filter(r.certain) else Set.empty[String])
    Profile(inl, numAll, fam, decs, Map.empty, multOne,
      // the join output keeps the left side's hash partitioning; a coalesced
      // loose-shared var is a new column, which the partitioning is not on
      (lp.bucketS ++ (rp.bucketS -- l.vars)) -- looseShared, card)
  }

  /** Facts of the bag union of `l` and `r`, whose output carries the
    * companions `nums`: a value fact holds where it holds on every branch
    * that binds the var (a branch without it leaves the var unbound). */
  def union(l: Sol, r: Sol, nums: Set[String]): Profile = {
    def binding(v: String) = Seq(l, r).filter(_.vars(v))
    def everywhere(v: String, f: Profile => Set[String]) = binding(v).forall(s => f(s.prof)(v))
    val vars = l.vars ++ r.vars
    Profile(
      inl = vars.filter(everywhere(_, _.inl)),
      numAll = nums.filter(everywhere(_, _.numAll)),
      fam = vars.flatMap { v =>
        binding(v).map(_.prof.fam.get(v)).distinct match {
          case Seq(Some(f)) => Some(v -> f)
          case _ => None
        }
      }.toMap,
      card = for (a <- l.prof.card; b <- r.prof.card) yield a + b)
  }
}
