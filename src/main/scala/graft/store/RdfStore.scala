package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
      * refuses shapes the stats can't prove). Loaded from a persisted
      * manifest (the ANALYZE-once contract) or set by [[analyze]]; None =
      * not computed (StorePersist.save computes them). */
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
    * store in (persisted stores get it automatically at StorePersist.save).
    * An over-cap result marks the stat disabled so re-saves skip the pass. */
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
      maxSets: Int = 4096): Option[Seq[CharSetStat]] = {
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

  /** A store with no quads and no terms, its statistics known — no job. */
  def empty(spark: SparkSession, scheme: IriScheme): RdfStore = {
    def none(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    RdfStore(none(quadsSchema), none(termsSchema), scheme, Nil, spgAllInline = true,
      charSetStats = Some(Nil), knownGraphIds = Some(Nil),
      knownDict = Some(DictStats(0L, -1L)))
  }

  /** Encode a DataFrame of struct-space quads (columns s,p,o,g of [[TermRow.schema]])
    * into an [[RdfStore]]: an [[append]] onto the [[empty]] store. */
  def encode(structQuads: DataFrame, scheme: IriScheme): RdfStore =
    append(empty(structQuads.sparkSession, scheme), structQuads)

  /** Bulk append (the reference's only mutation: `MutableQuadStoreProtocol
    * .load(version:quads:)`, QuadStore.swift:141-144,170-258), batch-sized:
    *
    *  1. the batch dictionary — every term the batch needs, looked up in
    *     the existing dictionary by one grouping — is materialized once;
    *     terms the store lacks get fresh ids past the current maximum, by a
    *     deterministic numbering of the materialized rows, so every use sees
    *     the same ids;
    *  2. the batch's new quads are encoded against that small frame, deduped
    *     within the batch and against the store (RDF graphs are sets; ids
    *     preserve term identity incl. lexical form, so id-tuple dedup IS term
    *     dedup), and materialized once;
    *  3. statistics merge: untouched predicates keep their profiles, touched
    *     ones are recomputed in one aggregation over their quads plus the
    *     batch (on a persisted store the predicate filter prunes to their
    *     `p=` directories). A base whose statistics are not known to be
    *     complete gets a full recompute.
    *
    * The batch's frames are materialized lazily: the first job that reads
    * one (the next step's) computes it, so materializing costs no job of
    * its own. The returned store reads `store`'s frames, two local
    * checkpoints (freed by the context cleaner once the store is dropped)
    * and the cached batch quads (see [[appendBatch]]).
    */
  def append(store: RdfStore, structQuads: DataFrame): RdfStore =
    appendBatch(store, structQuads)._1

  /** [[append]], also returning the batch's new quads, which the appended
    * store caches: a caller that saves the store and then drops it
    * unpersists them. */
  def appendBatch(store: RdfStore, structQuads: DataFrame): (RdfStore, DataFrame) = {
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
      col("o.lex").try_cast(org.apache.spark.sql.types.DecimalType(38, 18))
        .as("odec"))
      .dropDuplicates("s", "p", "o", "g")
      .join(store.quads.select("s", "p", "o", "g"), Seq("s", "p", "o", "g"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. statistics
    val quads = store.quads.unionByName(batchQuads)
    val stats =
      if (store.knownGraphIds.isEmpty) RdfStore.computeStats(quads)
      else if (store.predProfiles.isEmpty) RdfStore.computeStats(batchQuads)
      else {
        val touched = batchQuads.select("p").rdd
          .mapPartitions(_.map(_.getLong(0)).toSet.iterator).collect().distinct
        if (touched.isEmpty) QuadStats(store.predProfiles, store.spgAllInline, Nil)
        else {
          val t = RdfStore.computeStats(store.quads
            .filter(col("p").isin(touched.toSeq: _*)).unionByName(batchQuads))
          QuadStats(store.predProfiles ++ t.profiles, store.spgAllInline && t.spgAllInline,
            t.graphIds)
        }
      }
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
