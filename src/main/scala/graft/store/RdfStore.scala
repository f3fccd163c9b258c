package graft.store

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.model._

/** A dictionary-encoded RDF quad store backed by two DataFrames.
  *
  *  - `quads(s, p, o, g: Long, onum: Double)` — one row per quad, all positions
  *    encoded as packed 64-bit ids ([[graft.model.TermId]]); `onum` denormalizes the
  *    numeric value of the object (when the object is a numeric literal) so value
  *    filters and aggregations run columnar-ly without a dictionary join.
  *  - `terms(id, kind, lex, dt, lang, num)` — dictionary rows for ids whose terms
  *    could not be inlined in the id itself.
  *
  * Spark-side equivalent of the reference's store protocol (kasei/kineo
  * `Sources/Kineo/QuadStore/QuadStore.swift:62-88` — id-space scans + late
  * materialization via `term(from:)`): here "late materialization" is a left join
  * against `terms` at the edge of the plan.
  */
final case class RdfStore(
    quads: DataFrame,
    terms: DataFrame,
    scheme: IriScheme,
    defaultGraphs: Seq[Long],
    /** predicate id → type profile + cardinality. Drives the compiler's id-order
      * sort / no-dictionary-join fast paths, BGP join ordering, and the COUNT
      * statistics shortcut. */
    predProfiles: Map[Long, PredProfile] = Map.empty,
    /** true when every subject/predicate/graph id in the store is inline. */
    spgAllInline: Boolean = false,
    /** FROM NAMED restriction: None = every graph is named (reference
      * StoreDefaultDataset, Query.swift:196-219). */
    namedGraphs: Option[Seq[Long]] = None,
    /** true when `quads` reads a subject-bucketed table (StorePersist.save
      * bucketBy(s) + per-bucket (s,p) sort): scans report
      * HashPartitioning(s)/sorted output, so same-subject BGP joins plan
      * shuffle-free and sort-free — the Spark analogue of the reference's
      * index-ordered merge joins (IDQueryPlan.swift:183-225). */
    bucketedS: Boolean = false,
    /** Characteristic sets (Neumann & Moerkotte, ICDE'11; reference
      * analogue: Diomede's COUNT-from-characteristic-sets shortcut,
      * kasei/kineo QuadStore/DiomedeQuadStore.swift:15-97): subjects
      * partitioned by their exact predicate set, with the subject count and
      * per-predicate quad totals of each set. Answers star-shaped COUNT
      * queries statically — exactly, never as an estimate (the compiler
      * refuses shapes the stats can't prove). Computed once, when
      * StorePersist.save meets a store without them (`create`, or a base
      * that had none), or by [[analyze]]; loaded from a persisted manifest;
      * and kept by a driver-encoded [[StoreEncoder.append]], which moves each
      * changed subject from its old set to its new one. None = not computed:
      * an in-memory [[StoreEncoder.encode]] and a distributed append leave
      * them to StorePersist.save. */
    charSetStats: Option[Seq[CharSetStat]] = None,
    /** true when a persisted manifest recorded `"charSets":null` — the
      * ANALYZE ran at save time and found the store exceeds the set cap, so
      * the stat is DISABLED: a re-save must not re-run the pass only to
      * re-discover the over-cap. */
    charSetsDisabled: Boolean = false,
    /** The exact graph-id set when known (from the manifest, `encode`,
      * `append`, `RelToRdf.load`); None = [[graphIds]] scans for it.
      * Quad-derived, like [[predProfiles]] and [[charSetStats]]: a copy that
      * changes `quads` must recompute or drop all three. It also witnesses
      * that [[predProfiles]] covers every predicate (every constructor that
      * sets it computed the profiles over the same quads), which lets
      * `append` merge statistics instead of recomputing them. */
    knownGraphIds: Option[Seq[Long]] = None,
    /** Dictionary row count and max id payload when known; None = [[dict]]
      * aggregates the dictionary for them. */
    knownDict: Option[DictStats] = None) {

  def spark: SparkSession = quads.sparkSession

  /** Explicit ANALYZE: compute characteristic sets ([[CharSetStat]]) NOW
    * and attach them, so star COUNTs on this (in-memory / appended) store
    * answer statically. The compiler only consults [[charSetStats]] and
    * never computes them, because query COMPILE must not launch a Spark job
    * as a side effect; this is the user-facing way to opt an un-persisted
    * store in (persisted stores get it at StorePersist.save and keep it
    * across driver-encoded loads) and to re-derive it from scratch (the CLI
    * `analyze` verb). An over-cap result marks the stat disabled so re-saves
    * skip the pass. */
  def analyze(): RdfStore = {
    val computed = RdfStore.computeCharSets(quads)
    copy(charSetStats = computed, charSetsDisabled = computed.isEmpty)
  }

  /** Ids of all named graphs (distinct g values). Small by construction. */
  lazy val graphIds: Seq[Long] = knownGraphIds.getOrElse(
    quads.select("g").distinct().collect().map(_.getLong(0)).toSeq.sorted)

  /** Dictionary size; fresh ids are assigned past its `maxPayload`. */
  lazy val dict: DictStats = knownDict.getOrElse(RdfStore.computeDict(terms))

  /** Dictionary small enough to broadcast into materialization joins. */
  lazy val termsBroadcastable: Boolean = dict.terms <= RdfStore.BroadcastTerms

  /** Live quads, summed from the statistics (exact: the profiles cover every
    * predicate of a store built by this package). */
  def quadCount: Long = predProfiles.valuesIterator.map(_.count).sum

  @transient private lazy val idCache =
    new java.util.concurrent.ConcurrentHashMap[Term, Option[Long]]()

  def idOf(t: Term): Option[Long] =
    scheme.tryInline(t).orElse(idCache.computeIfAbsent(t, t0 => {
      val r = TermRow.toRow(t0)
      terms.filter(col("kind") === r.get(0) && col("lex") === r.get(1) &&
        col("dt") <=> r.get(2) && col("lang") <=> r.get(3))
        .select("id").collect().headOption.map(_.getLong(0))
    }))
}

/** Per-predicate statistics (the ANALYZE output; reference analogue: Diomede's
  * Characteristic Sets, kasei/kineo QuadStore/DiomedeQuadStore.swift:15-97).
  * `oTags`: the distinct id type tags observed in the object position — drives
  * exactly-typed aggregation fast paths (integer vs double family).
  * `decExact`: every numeric object value is captured exactly by the quads'
  * `odec` DECIMAL(38,18) companion — unlocks the exact-decimal aggregation
  * fast path (reference exact decimal accumulators,
  * MaterializedQueryPlan.swift:2303-2354). */
final case class PredProfile(allInline: Boolean, allNumeric: Boolean, count: Long,
    oTags: Set[Int] = Set.empty, decExact: Boolean = false,
    /** Each subject occurs in at most one quad of this predicate (functional
      * property; exact count(distinct s) == count, no estimate). Lets joins
      * propagate exact cardinality bounds: a star join on such predicates'
      * shared subject cannot multiply rows, so the intermediate stays
      * provably small and broadcastable (the reference's cost-model input,
      * QueryPlanCost.swift:55-343, re-expressed as statistics). */
    funcS: Boolean = false,
    /** Distinct subject / object counts for this predicate (0 = unknown, for
      * stores persisted before these stats existed). These are the
      * join-selectivity domains of the Selinger-style BGP join-order DP:
      * |A ⋈_v B| ≈ |A|·|B| / max(dom_A(v), dom_B(v)) — the candidate-plan
      * cost input the reference gets from its planner's enumeration
      * (QueryPlanner.swift:113,399-408; QueryPlanCost.swift:231-248). */
    distS: Long = 0L, distO: Long = 0L)

/** One characteristic set: the subjects whose predicate set is EXACTLY
  * `preds` (sorted ids), how many there are, and — aligned with `preds` —
  * the total quad count each predicate contributes over those subjects.
  * `occ(i) == subjects` proves every member subject carries predicate
  * `preds(i)` exactly once, which is what makes star COUNT(*) answers exact
  * (each matching subject contributes exactly one solution row). */
final case class CharSetStat(preds: Seq[Long], subjects: Long, occ: Seq[Long])

/** Dictionary size: row count and the largest id payload (-1 when empty).
  * Fresh ids are assigned past `maxPayload`. */
final case class DictStats(terms: Long, maxPayload: Long)

/** The quad-derived statistics of one aggregation pass. */
final case class QuadStats(profiles: Map[Long, PredProfile], spgAllInline: Boolean,
    graphIds: Seq[Long])

object RdfStore {
  import TermId._
  private val dictTags = Seq(TAG_BLANK, TAG_IRI, TAG_DECIMAL, TAG_DOUBLE, TAG_FLOAT,
    TAG_STRING, TAG_LANG, TAG_TYPED)

  /** Dictionaries up to this many rows are broadcast into joins
    * (~60 B/term → 500k ≈ 30 MB). */
  val BroadcastTerms = 500000L

  /** Batches of up to this many quads are encoded on the driver
    * ([[StoreEncoder.appendBatch]]); larger ones take the distributed plan.
    * Sized to the driver memory of a broadcast [[BroadcastTerms]]
    * dictionary: a collected N-Triples quad (four term structs) measured
    * 652 B of driver heap after GC (100k quads of five predicates, IRIs,
    * integers, decimals and strings, JDK 17), so 50k quads hold about 33 MB;
    * a whole driver encode of 100k quads peaked at about 1.8 kB per quad. */
  val DriverBatchQuads = 50000

  /** More distinct characteristic sets than this disable the statistic. */
  val MaxCharSets = 4096

  private def isDict(c: org.apache.spark.sql.Column) =
    shiftright(c, PAYLOAD_BITS).bitwiseAND(0xFF).isin(dictTags.map(Integer.valueOf): _*)

  /** One aggregation over the dictionary: its row count and max payload. */
  def computeDict(terms: DataFrame): DictStats = {
    val r = terms.agg(count(lit(1)), max(col("id").bitwiseAND(PAYLOAD_MASK))).head()
    DictStats(r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
  }

  /** One aggregation pass over the quads computing per-predicate type
    * profiles, the global s/p/g inline flag and the graph-id set. Cheap
    * relative to load; at cluster scale this is the ANALYZE step persisted
    * next to the data.
    */
  def computeStats(quads: DataFrame): QuadStats = {
    val hasDec = quads.columns.contains("odec")
    val anyDecNull =
      if (hasDec) max(when(col("onum").isNotNull && col("odec").isNull, 1)
        .otherwise(0))
      else max(lit(1)) // no companion column → never decimal-exact
    val perPred = quads.groupBy("p").agg(
      max(when(isDict(col("o")), 1).otherwise(0)).as("anyDict"),
      max(when(col("onum").isNull, 1).otherwise(0)).as("anyNonNum"),
      max(when(isDict(col("s")) || isDict(col("p")) || isDict(col("g")), 1)
        .otherwise(0)).as("anySpgDict"),
      count(lit(1)).as("n"),
      collect_set(shiftright(col("o"), PAYLOAD_BITS).bitwiseAND(0xFF)).as("otags"),
      anyDecNull.as("anyDecNull"),
      count_distinct(col("s")).as("nDistS"),
      count_distinct(col("o")).as("nDistO"),
      collect_set(col("g")).as("graphs"))
      .collect()
    val m = perPred.map(r =>
      r.getLong(0) -> PredProfile(r.getInt(1) == 0, r.getInt(2) == 0, r.getLong(4),
        r.getSeq[Long](5).map(_.toInt).toSet,
        decExact = r.getInt(2) == 0 && r.getInt(6) == 0,
        funcS = r.getLong(7) == r.getLong(4),
        distS = r.getLong(7), distO = r.getLong(8))).toMap
    QuadStats(m, perPred.forall(_.getInt(3) == 0),
      perPred.flatMap(_.getSeq[Long](9)).distinct.sorted.toSeq)
  }

  /** Characteristic-set ANALYZE pass, one action: group quads by (s, p),
    * then by subject into its sorted predicate set with the aligned
    * per-predicate quad counts; each partition then sums its subjects per
    * set (subject count, element-wise counts), and the collected partial
    * sums are merged. On a subject-bucketed scan neither grouping needs an
    * exchange, so the pass is one Spark job. The set count is bounded by
    * the schema's predicate-combination diversity, not by data volume.
    * None when the store holds more than `maxSets` distinct sets — a
    * pathologically heterogeneous corpus where the stat would be resident
    * dead weight (Neumann & Moerkotte cap it the same way); a partition
    * stops at `maxSets + 1` sets, so such a corpus is never collected. Sets are sorted by predicate ids, so equal
    * stores give equal results. */
  def computeCharSets(quads: DataFrame,
      maxSets: Int = MaxCharSets): Option[Seq[CharSetStat]] = {
    type Acc = scala.collection.mutable.HashMap[Seq[Long], (Long, Array[Long])]
    def add(m: Acc, preds: Seq[Long], n: Long, occ: Array[Long]): Unit =
      m.get(preds) match {
        case Some((n0, occ0)) =>
          m(preds) = (n0 + n, occ0.indices.map(i => occ0(i) + occ(i)).toArray)
        case None => m(preds) = (n, occ)
      }
    val parts = quads.groupBy("s", "p").agg(count(lit(1)).as("c"))
      .groupBy("s").agg(sort_array(collect_list(struct(col("p"), col("c")))).as("pc"))
      .select(col("pc.p"), col("pc.c"))
      .rdd.mapPartitions { it =>
        val m: Acc = new Acc()
        while (it.hasNext && m.size <= maxSets) {
          val r = it.next()
          add(m, r.getSeq[Long](0), 1L, r.getSeq[Long](1).toArray)
        }
        Iterator(m)
      }.collect()
    val all: Acc = new Acc()
    for (m <- parts; (preds, (n, occ)) <- m if all.size <= maxSets) add(all, preds, n, occ)
    if (all.size > maxSets) None
    else Some(all.toSeq.map { case (preds, (n, occ)) => CharSetStat(preds, n, occ.toSeq) }
      .sortBy(_.preds)(Ordering.Implicits.seqOrdering[Seq, Long]))
  }
}

object StoreEncoder {
  import TermId._

  val termsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false) +: TermRow.schema.fields.toSeq)

  private val quadsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq("s", "p", "o", "g").map(StructField(_, LongType)) ++ Seq(
      StructField("onum", DoubleType), StructField("odec", DecimalType(38, 18))))
  }

  private val positions = Seq("s", "p", "o", "g")

  private def termStruct: org.apache.spark.sql.Column =
    struct(col("kind"), col("lex"), col("dt"), col("lang"), col("num"))

  /** A store with no quads and no terms, its statistics known — no job. Its
    * characteristic sets are known too (none), so a driver-encoded append
    * onto it keeps them and `create` saves them without a pass. */
  def empty(spark: SparkSession, scheme: IriScheme): RdfStore = {
    def none(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    RdfStore(none(quadsSchema), none(termsSchema), scheme, Nil, spgAllInline = true,
      charSetStats = Some(Nil), knownGraphIds = Some(Nil),
      knownDict = Some(DictStats(0L, -1L)))
  }

  /** Encode a DataFrame of struct-space quads (columns s,p,o,g of [[TermRow.schema]])
    * into an in-memory [[RdfStore]]: an [[append]] onto the [[empty]] store,
    * without characteristic sets (only [[RdfStore.analyze]] or a save adds
    * them to a store built in memory). */
  def encode(structQuads: DataFrame, scheme: IriScheme): RdfStore =
    append(empty(structQuads.sparkSession, scheme), structQuads)
      .copy(charSetStats = None, charSetsDisabled = false)

  /** Bulk append (the reference's only mutation: `MutableQuadStoreProtocol
    * .load(version:quads:)`, QuadStore.swift:141-144,170-258), batch-sized:
    * RDF graphs are sets, so the batch is deduped within itself and against
    * the store (ids preserve term identity incl. lexical form, so id-tuple
    * dedup IS term dedup). See [[appendBatch]] for the two plans. The
    * returned store reads `store`'s frames, the cached batch quads and the
    * batch's fresh terms.
    */
  def append(store: RdfStore, structQuads: DataFrame): RdfStore = {
    val (appended, batch) = appendBatch(store, structQuads)
    // a store kept in memory reads its batch from the cache, not from rows
    // shipped by the driver with every query
    if (batch.storageLevel == StorageLevel.NONE) batch.persist(StorageLevel.MEMORY_AND_DISK)
    appended
  }

  /** [[append]] for a caller that saves the store at once, also returning
    * the batch's new quads. The distributed plan caches them, and a caller
    * that saves the store and then drops it unpersists them; the driver plan
    * leaves them uncached, since the save reads them once.
    *
    * One bounded collect of `driverQuads + 1` quads (a small file is one
    * split, so one job) picks the plan from the batch's size, as
    * `Dedup.clustersOf` does from its edge count. `driverQuads` lets the
    * tests force both plans over one input (they must give equal stores).
    *
    * '''Up to `driverQuads` quads''' ([[RdfStore.DriverBatchQuads]]): the
    * batch is encoded on the driver with two more jobs.
    *  1. The dictionary probe: the dictionary rows whose `lex` is one of the
    *     batch terms', matched to full terms on the driver. Terms the store
    *     lacks get fresh ids past the dictionary's max payload, in sorted
    *     term order. The dictionary is never shuffled.
    *  1. The store probe ([[probeStore]]): one job over the store's quads
    *     restricted to the batch's subjects and (p, o) pairs, returning only
    *     batch-bounded partials.
    * The fresh terms become a local relation, and the new quads the same
    * rows as a local relation (for the statistics: `odec` is the same
    * `try_cast`, and collecting it starts no job) and as an RDD (for the
    * store, so that no optimizer folds them into a query's plan). The
    * statistics follow from the batch and the probe: each touched
    * predicate's profile and the graph ids are updated exactly, and each
    * changed subject moves from its old characteristic set to its new one.
    * A base whose statistics are not known to be complete recomputes them
    * as the distributed plan does: with no graph ids, every profile; with a
    * touched profile that has a count but no distinct counts (a manifest
    * older than those), the touched ones. A base without characteristic
    * sets appends without them, so StorePersist.save computes them.
    *
    * '''Above it''', the distributed plan:
    *  1. the batch dictionary — every term the batch needs, looked up in
    *     the existing dictionary by one grouping — is materialized once;
    *     terms the store lacks get fresh ids past the current maximum, by a
    *     deterministic numbering of the materialized rows, so every use sees
    *     the same ids;
    *  1. the batch's new quads are encoded against that small frame, deduped
    *     and materialized once;
    *  1. statistics merge: untouched predicates keep their profiles, touched
    *     ones are recomputed in one aggregation over their quads plus the
    *     batch (on a persisted store the predicate filter prunes to their
    *     `p=` directories). A base whose statistics are not known to be
    *     complete gets a full recompute. The appended store carries no
    *     characteristic sets.
    * Its frames are materialized lazily: the first job that reads one (the
    * next step's) computes it, so materializing costs no job of its own.
    */
  def appendBatch(store: RdfStore, structQuads: DataFrame,
      driverQuads: Int = RdfStore.DriverBatchQuads): (RdfStore, DataFrame) = {
    val rows = structQuads.limit(driverQuads + 1).collect()
    if (rows.length <= driverQuads) appendLocal(store, rows)
    else appendDistributed(store, structQuads)
  }

  /** An id-space quad (s, p, o, g); a null id is a null term. */
  private type IdQuad = (java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long)

  /** A term's identity in its struct: (kind, lex, dt, lang); `num` follows
    * from lex and dt. */
  private type TermKey = (Int, String, String, String)

  private def termKey(r: Row, from: Int): TermKey =
    (r.getInt(from), r.getString(from + 1), r.getString(from + 2), r.getString(from + 3))

  private val localSchema: StructType = StructType(Seq("s", "p", "o", "g")
    .map(StructField(_, LongType)) ++ Seq(StructField("onum", DoubleType),
      StructField("olex", StringType)))

  private def appendLocal(store: RdfStore, rows: Array[Row]): (RdfStore, DataFrame) = {
    val spark = store.spark
    // 1. term ids: inline, else the dictionary's, else fresh
    val structs = rows.iterator.flatMap(r => positions.indices.map(r.getStruct))
      .filter(_ != null).map(t => termKey(t, 0) -> t).toMap
    val inline = structs.flatMap { case (k, t) =>
      store.scheme.tryInline(TermRow.fromRow(t)).map(k -> _) }
    val needed = structs.keySet -- inline.keySet
    val stored =
      if (needed.isEmpty || store.dict.terms == 0) Map.empty[TermKey, Long]
      else store.terms.filter(col("lex").isInCollection(needed.map(_._2)))
        .select("id", "kind", "lex", "dt", "lang").collect()
        .map(r => termKey(r, 1) -> r.getLong(0)).filter(kv => needed(kv._1)).toMap
    val firstFresh = store.dict.maxPayload + 1
    val fresh = (needed -- stored.keySet).toSeq
      .sorted(Ordering.by((k: TermKey) => (k._1, k._2, Option(k._3), Option(k._4))))
      .zipWithIndex.map { case (k, i) =>
        k -> make(dictTag(TermRow.fromRow(structs(k))), firstFresh + i) }
    val ids = inline ++ stored ++ fresh
    def id(t: Row): java.lang.Long = if (t == null) null else Long.box(ids(termKey(t, 0)))

    // 2. the batch's distinct quads, each with its object, less those the
    // store holds
    val batch = mutable.LinkedHashMap[IdQuad, Row]()
    for (r <- rows) batch.getOrElseUpdate(
      (id(r.getStruct(0)), id(r.getStruct(1)), id(r.getStruct(2)), id(r.getStruct(3))),
      r.getStruct(2))
    val storeEmpty = store.knownGraphIds.isDefined && store.predProfiles.isEmpty
    val probe = if (storeEmpty || batch.isEmpty) StoreProbe(Set.empty, Map.empty, Set.empty)
      else probeStore(store.quads, batch.keys)
    val newRows = batch.iterator.collect { case (q, o) if !probe.dups(q) =>
      Row(q._1, q._2, q._3, q._4, Option(o).map(_.get(4)).orNull,
        Option(o).map(_.get(1)).orNull) }.toSeq
    def encoded(rows: DataFrame) = rows.select(col("s"), col("p"), col("o"), col("g"),
      col("onum"), col("olex").try_cast(DecimalType(38, 18)).as("odec"))
    // the statistics read the local relation (no job); the store reads the
    // same rows as an RDD, which the optimizer cannot fold into the plans of
    // the queries over an in-memory store
    val added = encoded(spark.createDataFrame(newRows.asJava, localSchema)).collect().toSeq
    val batchQuads = encoded(spark.createDataFrame(spark.sparkContext.parallelize(newRows),
      localSchema))
    val freshTerms = spark.createDataFrame(fresh.map { case (k, i) =>
      Row.fromSeq(i +: structs(k).toSeq) }.asJava, termsSchema)

    // 3. statistics
    val quads = store.quads.unionByName(batchQuads)
    val stats = if (store.knownGraphIds.isEmpty) RdfStore.computeStats(quads) else {
      val touched = added.map(_.getLong(1)).distinct
      if (touched.exists(p => store.predProfiles.get(p).exists(pr => pr.count > 0 && pr.distS == 0)))
        recomputeTouched(store, batchQuads, touched)
      else mergeStats(store, added, probe)
    }
    val (sets, disabled) =
      if (store.charSetsDisabled) (None, true)
      else store.charSetStats match {
        case Some(cs) =>
          val moved = moveSubjects(cs, probe.held, added)
          (moved, moved.isEmpty)
        case None => (None, false)
      }
    val graphs = (store.knownGraphIds.getOrElse(Nil) ++ stats.graphIds).distinct.sorted
    (RdfStore(quads, store.terms.unionByName(freshTerms), store.scheme, graphs,
      stats.profiles, stats.spgAllInline, charSetStats = sets, charSetsDisabled = disabled,
      knownGraphIds = Some(graphs),
      knownDict = Some(DictStats(store.dict.terms + fresh.size,
        if (fresh.nonEmpty) firstFresh + fresh.size - 1 else store.dict.maxPayload))),
      batchQuads)
  }

  /** What the store holds of a batch: the batch quads it holds, each batch
    * subject's quad count per predicate (`held`), and the batch (p, o) pairs
    * it holds. */
  private final case class StoreProbe(dups: Set[IdQuad], held: Map[Long, Map[Long, Long]],
      pairs: Set[(Long, Long)])

  /** The store probe, one job over the quads of the batch's subjects and
    * those of the batch's predicates with one of its objects. Each partition
    * returns only batch-bounded partials, merged here: a common pair such as
    * (rdf:type, C) yields one flag, never its rows. */
  private def probeStore(quads: DataFrame, batch: Iterable[IdQuad]): StoreProbe = {
    val subjects = batch.flatMap(q => Option(q._1)).map(_.longValue).toSet
    val pairs = batch.collect { case (_, p, o, _) if p != null && o != null =>
      (p.longValue, o.longValue) }.toSet
    val bc = quads.sparkSession.sparkContext.broadcast((batch.toSet, subjects, pairs))
    val parts = try quads.filter(col("s").isInCollection(subjects) ||
        col("p").isInCollection(pairs.map(_._1)) && col("o").isInCollection(pairs.map(_._2)))
      .select(positions.map(col): _*).rdd.mapPartitions { it =>
        val (qs, ss, ps) = bc.value
        val (dups, held, found) = (mutable.HashSet[IdQuad](),
          mutable.HashMap[(Long, Long), Long](), mutable.HashSet[(Long, Long)]())
        def id(r: Row, i: Int) = r.get(i).asInstanceOf[java.lang.Long]
        for (r <- it) {
          val q = (id(r, 0), id(r, 1), id(r, 2), id(r, 3))
          if (q._1 != null && q._2 != null && ss(q._1.longValue)) {
            if (qs(q)) dups += q
            val sp = (q._1.longValue, q._2.longValue)
            held(sp) = held.getOrElse(sp, 0L) + 1
          }
          if (q._2 != null && q._3 != null) {
            val po = (q._2.longValue, q._3.longValue)
            if (ps(po)) found += po
          }
        }
        Iterator((dups.toArray, held.toArray, found.toArray))
      }.collect() finally bc.destroy()
    StoreProbe(parts.flatMap(_._1).toSet,
      parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
        .groupMap(_._1._1)(kv => kv._1._2 -> kv._2).view.mapValues(_.toMap).toMap,
      parts.flatMap(_._3).toSet)
  }

  /** The statistics of `store` plus its new quads `added` (rows s, p, o, g,
    * onum, odec), updated exactly: a touched predicate's `distS` counts the
    * batch subjects the store does not hold with it, its `distO` the objects
    * whose (p, o) pair the store does not hold. The graph ids are the
    * batch's. */
  private def mergeStats(store: RdfStore, added: Seq[Row], probe: StoreProbe): QuadStats = {
    def dictAt(r: Row, i: Int) = !r.isNullAt(i) && isDictTag(tag(r.getLong(i)))
    def ids(qs: Seq[Row], i: Int) = qs.filterNot(_.isNullAt(i)).map(_.getLong(i)).toSet
    val profiles = added.groupBy(_.getLong(1)).map { case (p, qs) =>
      val old = store.predProfiles.getOrElse(p,
        PredProfile(allInline = true, allNumeric = true, 0L, decExact = true))
      val n = old.count + qs.size
      val distS = old.distS + ids(qs, 0).count(s => !probe.held.get(s).exists(_.contains(p)))
      val distO = old.distO + ids(qs, 2).count(o => !probe.pairs((p, o)))
      val allNumeric = old.allNumeric && qs.forall(!_.isNullAt(4))
      p -> PredProfile(old.allInline && !qs.exists(dictAt(_, 2)), allNumeric, n,
        old.oTags ++ ids(qs, 2).map(tag),
        decExact = old.decExact && allNumeric && qs.forall(r => r.isNullAt(4) || !r.isNullAt(5)),
        funcS = distS == n, distS = distS, distO = distO)
    }
    QuadStats(store.predProfiles ++ profiles,
      store.spgAllInline && !added.exists(r => dictAt(r, 0) || dictAt(r, 1) || dictAt(r, 3)),
      ids(added, 3).toSeq.sorted)
  }

  /** Characteristic sets `sets` with each subject of the new quads `added`
    * moved from its old set (its per-predicate counts in the store, `held`)
    * to its new one; a set left with no subject goes. None when more than
    * [[RdfStore.MaxCharSets]] sets result, as a full pass would give. */
  private def moveSubjects(sets: Seq[CharSetStat], held: Map[Long, Map[Long, Long]],
      added: Seq[Row]): Option[Seq[CharSetStat]] = {
    val m = mutable.HashMap.from(sets.map(cs => cs.preds -> (cs.subjects, cs.occ)))
    def shift(pc: Map[Long, Long], sign: Long): Unit = if (pc.nonEmpty) {
      val preds = pc.keys.toSeq.sorted
      val (n, occ) = m.getOrElse(preds, (0L, preds.map(_ => 0L)))
      if (n + sign == 0) m -= preds
      else m(preds) = (n + sign, preds.lazyZip(occ).map((p, c) => c + sign * pc(p)))
    }
    for ((s, qs) <- added.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))) {
      val before = held.getOrElse(s, Map.empty[Long, Long])
      shift(before, -1)
      shift(qs.foldLeft(before)((pc, q) =>
        pc.updated(q.getLong(1), pc.getOrElse(q.getLong(1), 0L) + 1)), 1)
    }
    if (m.size > RdfStore.MaxCharSets) None
    else Some(m.toSeq.map { case (preds, (n, occ)) => CharSetStat(preds, n, occ) }
      .sortBy(_.preds)(Ordering.Implicits.seqOrdering[Seq, Long]))
  }

  /** The statistics of `store` plus `batchQuads` with the `touched`
    * predicates' profiles recomputed in one aggregation over their quads plus
    * the batch (on a persisted store the predicate filter prunes to their
    * `p=` directories); untouched predicates keep theirs. */
  private def recomputeTouched(store: RdfStore, batchQuads: DataFrame,
      touched: Seq[Long]): QuadStats =
    if (touched.isEmpty) QuadStats(store.predProfiles, store.spgAllInline, Nil)
    else {
      val t = RdfStore.computeStats(store.quads
        .filter(col("p").isin(touched: _*)).unionByName(batchQuads))
      QuadStats(store.predProfiles ++ t.profiles, store.spgAllInline && t.spgAllInline,
        t.graphIds)
    }

  private def appendDistributed(store: RdfStore,
      structQuads: DataFrame): (RdfStore, DataFrame) = {
    val spark = structQuads.sparkSession
    val scheme = store.scheme
    val inl = udf { (r: org.apache.spark.sql.Row) =>
      if (r == null) None else scheme.tryInline(TermRow.fromRow(r)).map(Long.box)
    }
    val withInline = positions.foldLeft(structQuads)((df, pos) =>
      df.withColumn(pos + "id", inl(col(pos)))).localCheckpoint(eager = false)

    // 1. batch dictionary: (t, id) for each distinct term the batch needs,
    // id null where the store lacks it; one grouping over the batch's terms
    // and the existing dictionary (whose terms are unique)
    val needed = positions.map(pos =>
        withInline.filter(col(pos + "id").isNull && col(pos).isNotNull)
          .select(col(pos).as("t"), lit(null).cast("long").as("id"), lit(true).as("need")))
      .reduce(_ unionByName _)
    val existing = store.terms.select(termStruct.as("t"), col("id"), lit(false).as("need"))
    val looked = needed.unionByName(existing).groupBy("t")
      .agg(max("id").as("id"), max("need").as("need"))
      .filter(col("need")).select("t", "id").localCheckpoint(eager = false)
    // materializes `looked`: per partition (rows, fresh rows); fresh ids
    // continue past the max
    val sizes = looked.rdd.mapPartitions { it =>
      var (n, fresh) = (0L, 0L)
      it.foreach { r => n += 1; if (r.isNullAt(1)) fresh += 1 }
      Iterator((n, fresh))
    }.collect()
    val firstFresh = store.dict.maxPayload + 1
    val offsets = sizes.map(_._2).scanLeft(firstFresh)(_ + _)
    val numbered = looked.rdd.mapPartitionsWithIndex { (i, it) =>
      var next = offsets(i)
      it.map { r =>
        if (!r.isNullAt(1)) r
        else {
          val id = make(dictTag(TermRow.fromRow(r.getStruct(0))), next)
          next += 1
          org.apache.spark.sql.Row(r.get(0), id)
        }
      }
    }
    val batchDict = spark.createDataFrame(numbered, looked.schema)
    val freshCount = offsets.last - firstFresh
    val freshTerms = batchDict.filter(col("id").bitwiseAND(PAYLOAD_MASK) >= firstFresh)
      .select(col("id") +: TermRow.schema.fieldNames.map(f => col("t." + f).as(f)): _*)

    // 2. the batch's new quads, encoded against the batch dictionary
    val d0 = batchDict.select(col("t"), col("id").as("__did"))
    val d = if (sizes.map(_._1).sum <= RdfStore.BroadcastTerms) broadcast(d0) else d0
    val encoded = positions.foldLeft(withInline) { (q, pos) =>
      q.join(d, q(pos) <=> d("t"), "left")
        .withColumn(pos + "id", coalesce(col(pos + "id"), col("__did")))
        .drop("t", "__did")
    }
    val batchQuads = encoded.select(col("sid").as("s"), col("pid").as("p"),
      col("oid").as("o"), col("gid").as("g"), col("o.num").as("onum"),
      // exact-decimal companion: the lexical form parsed at the engine's
      // xsd:decimal working precision; NULL (unparseable / out of range)
      // disables the predicate's decExact flag and with it the fast path
      col("o.lex").try_cast(DecimalType(38, 18)).as("odec"))
      .dropDuplicates("s", "p", "o", "g")
      .join(store.quads.select("s", "p", "o", "g"), Seq("s", "p", "o", "g"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 3. statistics
    val quads = store.quads.unionByName(batchQuads)
    val stats =
      if (store.knownGraphIds.isEmpty) RdfStore.computeStats(quads)
      else if (store.predProfiles.isEmpty) RdfStore.computeStats(batchQuads)
      else recomputeTouched(store, batchQuads, batchQuads.select("p").rdd
        .mapPartitions(_.map(_.getLong(0)).toSet.iterator).collect().distinct.toSeq)
    val graphs = (store.knownGraphIds.getOrElse(Nil) ++ stats.graphIds).distinct.sorted
    (RdfStore(quads, store.terms.unionByName(freshTerms), scheme, graphs, stats.profiles,
      stats.spgAllInline, knownGraphIds = Some(graphs),
      knownDict = Some(DictStats(store.dict.terms + freshCount,
        if (freshCount > 0) offsets.last - 1 else store.dict.maxPayload))), batchQuads)
  }

  /** Assign dictionary ids to distinct struct-space term views. */
  def dictFromViews(dictViews: DataFrame, scheme: IriScheme): DataFrame = {
    val spark = dictViews.sparkSession
    val rdd = dictViews.rdd.zipWithIndex().map { case (r, idx) =>
      val t = TermRow.fromRow(if (r.schema.fields.length == 1) r.getStruct(0) else r)
      org.apache.spark.sql.Row.fromSeq(make(dictTag(t), idx) +: TermRow.toRow(t).toSeq)
    }
    spark.createDataFrame(rdd, termsSchema)
  }
}
