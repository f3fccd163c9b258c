package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._

/** Relational→RDF mapping of the driver's synthetic TPC-H-ish tables (FIXTURES.md §6):
  *
  * {{{
  * row of table T with primary key k, column c = v
  *   → quad ( <urn:t:T:k>, <urn:p:T:c>, literal(v), <urn:g:T> )
  * foreign keys additionally emit ( <urn:t:T:k>, <urn:fk:R>, <urn:t:R:fk>, <urn:g:T> )
  * }}}
  *
  * All term-id encoding here is *native column arithmetic* — no UDFs, no dictionary
  * join except for objects that genuinely need one (doubles, strings longer than 7
  * bytes). Subject/predicate/graph ids use the template/well-known IRI inlining of
  * [[graft.model.IriScheme]], so a BGP over this store is a chain of Long equi-joins.
  */
object RelToRdf {
  import TermId._

  private def base(tag: Int, bias: Long = 0L): Long = make(tag, bias)

  /** Inline-string id, computed natively: first 7 UTF-8 bytes big-endian via
    * hex/conv, NUL-padded (matches [[TermId.tryInlineString]] bit-for-bit).
    */
  private def inlineStrId(c: Column): Column = {
    val nBytes = octet_length(c)
    // variable shift: multiply by 2^(8*(7-n)) — powers of two are exact in double
    val packed = (conv(hex(encode(c, "UTF-8")), 16, 10).cast(LongType) *
      pow(lit(2.0), ((lit(7) - nBytes) * 8).cast(DoubleType)).cast(LongType))
    when(c.isNotNull && nBytes <= 7 && !c.contains("\u0000"),
      packed + lit(TAG_STR_INL.toLong << PAYLOAD_BITS)).otherwise(lit(null).cast(LongType))
  }

  private def intId(c: Column): Column =
    when(c.isNotNull, c.cast(LongType) + lit(base(TAG_INTEGER, BIAS)))
      .otherwise(lit(null).cast(LongType))

  private def dateTimeId(c: Column): Column =
    when(c.isNotNull, unix_micros(c) + lit(base(TAG_DATETIME, BIAS)))
      .otherwise(lit(null).cast(LongType))

  private def dateId(c: Column): Column =
    when(c.isNotNull, datediff(c, to_date(lit("1970-01-01"))).cast(LongType) +
      lit(base(TAG_DATE, BIAS))).otherwise(lit(null).cast(LongType))

  /** Canonical view struct for dictionary-needing objects; null when inlined. */
  private def dictView(kind: Column, lex: Column, dt: Column, lang: Column,
      num: Column): Column =
    struct(kind.as("kind"), lex.as("lex"), dt.as("dt"), lang.as("lang"), num.as("num"))

  private val nullStr = lit(null).cast(StringType)
  private val nullDbl = lit(null).cast(DoubleType)

  final case class TableSpec(name: String, keyCol: Seq[String], fks: Seq[(String, String)],
      skipCols: Set[String] = Set.empty, syntheticKey: Boolean = false,
      /** columns mapped to xsd:decimal at the given scale (TPC-H money/rate
        * columns are DECIMAL(15,2) by spec; the synthetic parquet stores them
        * as exact-2-decimal doubles). The decimal term carries the quads'
        * `odec` exact companion, unlocking the exact-decimal aggregation
        * fast path. */
      decCols: Map[String, Int] = Map.empty)

  /** (table, key column(s); fk column → referenced table). lineitem's composite key
    * packs as orderkey*8+linenumber (linenumber is 1..7 in TPC-H-ish data).
    */
  private val money2 = 2 // TPC-H money/rate columns: DECIMAL(x, 2)

  val testSpecs: Seq[TableSpec] = Seq(
    TableSpec("region", Seq("r_regionkey"), Nil),
    TableSpec("nation", Seq("n_nationkey"), Seq("n_regionkey" -> "region")),
    TableSpec("customer", Seq("c_custkey"), Seq("c_nationkey" -> "nation"),
      decCols = Map("c_acctbal" -> money2)),
    TableSpec("supplier", Seq("s_suppkey"), Seq("s_nationkey" -> "nation"),
      decCols = Map("s_acctbal" -> money2)),
    TableSpec("part", Seq("p_partkey"), Nil,
      decCols = Map("p_retailprice" -> money2)),
    TableSpec("orders", Seq("o_orderkey"), Seq("o_custkey" -> "customer"),
      decCols = Map("o_totalprice" -> money2)),
    // the synthetic lineitem data has no unique natural key ((orderkey, linenumber)
    // repeats) → subject ids come from a per-row synthetic key
    TableSpec("lineitem", Seq.empty,
      Seq("l_orderkey" -> "orders", "l_partkey" -> "part", "l_suppkey" -> "supplier"),
      syntheticKey = true,
      decCols = Map("l_quantity" -> money2, "l_extendedprice" -> money2,
        "l_discount" -> money2, "l_tax" -> money2)),
    TableSpec("events", Seq("event_id"), Nil),
    TableSpec("documents", Seq("doc_id"), Nil),
    TableSpec("embeddings", Seq("vec_id"), Nil, skipCols = Set("embedding")))

  /** Subject key column. Synthetic keys use monotonically_increasing_id computed
    * ONCE on the base scan (before any per-column null filters) so every column
    * quad of a row agrees; (partitionId << 33 | row) stays < 2^48 for < 32k input
    * partitions — at larger cluster scale switch the table to a dedicated 56-bit
    * tag.
    */
  def subjectKey(spec: TableSpec, df: DataFrame): Column =
    col(spec.keyCol.head).cast(LongType)

  /** Load a testdata directory into an [[RdfStore]]. */
  def load(spark: SparkSession, dir: String,
      scheme: IriScheme = IriScheme.default): RdfStore = {
    // events.ts is parquet TIMESTAMP(NANOS) — Spark only reads it via this flag
    // (as a Long of nanos; mapped to xsd:dateTime at µs precision below).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val wk = scheme.wellKnown.iterator.zipWithIndex
      .map { case (s, i) => s -> make(IriScheme.TAG_IRI_WK, i.toLong) }.toMap
    def wkId(iri: String): Long =
      wk.getOrElse(iri, throw new IllegalArgumentException(s"not well-known: $iri"))
    def tmplBase(table: String): Long = {
      val no = scheme.tables.indexOf(table) + 1
      make(IriScheme.TAG_IRI_T, no.toLong << 48)
    }

    val perTable: Seq[DataFrame] = testSpecs.flatMap { spec =>
      val path = s"$dir/${spec.name}.parquet"
      if (!new java.io.File(path).exists()) None
      else {
        val df0 = spark.read.parquet(path)
        val df = if (spec.syntheticKey) df0.withColumn("__sk", monotonically_increasing_id())
          else df0
        val key = if (spec.syntheticKey) col("__sk") else subjectKey(spec, df)
        val sid = (lit(tmplBase(spec.name)) + key).as("s")
        val gid = lit(wkId(s"urn:g:${spec.name}")).as("g")

        val colQuads: Seq[DataFrame] = df.schema.fields.toSeq
          .filterNot(f => spec.skipCols.contains(f.name) || f.name == "__sk").map { f =>
          val c = col(f.name)
          val pid = lit(wkId(s"urn:p:${spec.name}:${f.name}")).as("p")
          val nullOdec = lit(null).cast(DecimalType(38, 18))
          val (oid, onum, odict, odec) = f.dataType match {
            case LongType if spec.name == "events" && f.name == "ts" =>
              // nanos-as-long (see flag above): inline as dateTime at µs precision
              ((c.cast(LongType) / 1000L).cast(LongType) + lit(base(TAG_DATETIME, BIAS)),
                nullDbl, lit(null).cast(TermRow.schema), nullOdec)
            case LongType | IntegerType | ShortType =>
              (intId(c), c.cast(DoubleType), lit(null).cast(TermRow.schema), nullOdec)
            case DoubleType | FloatType if spec.decCols.contains(f.name) =>
              // exact-2-decimal double → xsd:decimal term (canonical lexical,
              // trailing-zero-stripped) + exact `odec` companion
              val d = c.cast(DecimalType(18, spec.decCols(f.name)))
              val lex = regexp_replace(regexp_replace(d.cast(StringType),
                "(\\.\\d*?)0+$", "$1"), "\\.$", "")
              (lit(null).cast(LongType), d.cast(DoubleType),
                dictView(lit(TermRow.KIND_LITERAL), lex,
                  lit(Term.xsdDecimal), nullStr, d.cast(DoubleType)),
                d.cast(DecimalType(38, 18)))
            case DoubleType | FloatType =>
              (lit(null).cast(LongType), c.cast(DoubleType),
                dictView(lit(TermRow.KIND_LITERAL), c.cast(DoubleType).cast(StringType),
                  lit(Term.xsdDouble), nullStr, c.cast(DoubleType)), nullOdec)
            case StringType =>
              (inlineStrId(c), nullDbl,
                when(inlineStrId(c).isNull && c.isNotNull,
                  dictView(lit(TermRow.KIND_LITERAL), c, lit(Term.xsdString), nullStr,
                    nullDbl)).otherwise(lit(null).cast(TermRow.schema)), nullOdec)
            case TimestampType =>
              (dateTimeId(c), nullDbl, lit(null).cast(TermRow.schema), nullOdec)
            case TimestampNTZType => // session TZ is UTC: NTZ wall time == UTC instant
              (dateTimeId(c.cast(TimestampType)), nullDbl,
                lit(null).cast(TermRow.schema), nullOdec)
            case DateType =>
              (dateId(c), nullDbl, lit(null).cast(TermRow.schema), nullOdec)
            case other =>
              throw new IllegalArgumentException(s"${spec.name}.${f.name}: $other")
          }
          df.filter(c.isNotNull).select(sid, pid, oid.as("o"), gid,
            onum.as("onum"), odict.as("odict"), odec.as("odec"))
        }

        val fkQuads: Seq[DataFrame] = spec.fks.map { case (fkCol, refTable) =>
          val refKey =
            if (refTable == "lineitem") col(fkCol).cast(LongType) * 8 // unused here
            else col(fkCol).cast(LongType)
          df.filter(col(fkCol).isNotNull).select(sid,
            lit(wkId(s"urn:fk:$refTable")).as("p"),
            (lit(tmplBase(refTable)) + refKey).as("o"), gid,
            nullDbl.as("onum"), lit(null).cast(TermRow.schema).as("odict"),
            lit(null).cast(DecimalType(38, 18)).as("odec"))
        }
        Some((colQuads ++ fkQuads).reduce(_ unionByName _))
      }
    }

    val all = perTable.reduce(_ unionByName _)
    // Dictionary pass: only objects that failed to inline.
    val dictViews = all.filter(col("o").isNull && col("odict").isNotNull)
      .select(col("odict").as("t")).distinct()
    val terms = StoreEncoder.dictFromViews(dictViews, scheme)
      .repartition(col("id")).sortWithinPartitions("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // join back ONLY the dict-needing rows (joining the full quad set would send
    // every inlined row — null odict — to a single skewed join partition)
    val d = terms.select(struct(col("kind"), col("lex"), col("dt"), col("lang"),
      col("num")).as("t"), col("id").as("__did"))
    val inlined = all.filter(col("o").isNotNull)
      .select(col("s"), col("p"), col("o"), col("g"), col("onum"), col("odec"))
    val dicted = all.filter(col("o").isNull)
      .join(d, all("odict") === d("t"))
      .select(col("s"), col("p"), col("__did").as("o"), col("g"), col("onum"),
        col("odec"))
    // partition by s (star joins reuse the cached hash partitioning) but
    // sort within partitions by (p, s): the in-memory columnar cache keeps
    // per-batch min/max stats, so a bound-predicate scan's p-filter skips
    // every batch outside that predicate's contiguous run — the cached
    // analogue of the persisted store's p-directory pruning. (The cache
    // drops within-partition ORDER at planning time, so nothing downstream
    // could rely on the old (s, p) sort anyway.)
    val quads = inlined.unionByName(dicted)
      .repartition(col("s")).sortWithinPartitions("p", "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val graphs = testSpecs.filter(s => new java.io.File(s"$dir/${s.name}.parquet").exists())
      .map(s => wkId(s"urn:g:${s.name}"))
    val stats = RdfStore.computeStats(quads)
    RdfStore(quads, terms, scheme, graphs, stats.profiles, stats.spgAllInline,
      knownGraphIds = Some(stats.graphIds), knownDict = Some(RdfStore.computeDict(terms)))
  }

  /** Session-level cache of loaded stores, keyed by data directory. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, RdfStore]()
  def cached(spark: SparkSession, dir: String): RdfStore =
    cache.computeIfAbsent(dir, d => {
      val st = load(spark, d)
      st.quads.count() // materialize persist
      st
    })
}
