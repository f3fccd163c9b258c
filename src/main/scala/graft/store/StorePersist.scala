package graft.store

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.IriScheme

/** Persistent store layout (the Spark analogue of the reference's durable
  * stores — SQLite `Sources/Kineo/QuadStore/SQLiteQuadStore.swift`, LMDB
  * Diomede): a directory of parquet tables plus a small JSON manifest.
  *
  * {{{
  *   <dir>/quads/    parquet, directory-partitioned by p and subject-bucketed:
  *                   partitionBy("p") + bucketBy(n,"s") + sortBy("s","o")
  *   <dir>/terms/    parquet dictionary, id-bucketed: bucketBy(n,"id") + sortBy("id")
  *   <dir>/meta.json default graphs, per-predicate statistics, layout + schema
  * }}}
  *
  * Both tables have the same bucket count `n`, one file per bucket (per
  * `p=` directory for the quads). `save` derives `n` from the store's quad
  * count: `clamp(ceil(quads / 32768), 1, 32)` ([[bucketsFor]]), so a store
  * of up to 32,768 quads is one file per directory and stores from about
  * 1 M quads up keep 32 buckets. Its `buckets` argument forces a count for
  * that one save; [[replace]] (`load`, `analyze`) derives it again. The
  * two tables are written at once, and a one-bucket table from one task with
  * no exchange.
  *
  * `meta.json` keys: `defaultGraphs`, `namedGraphs`, `spgAllInline`,
  * `profiles` (per-predicate [[PredProfile]]s), `charSets` (characteristic
  * sets; `null` = over the set cap), `graphIds` (the exact graph-id set),
  * `termCount` and `maxPayload` (dictionary rows and largest id payload, -1
  * when empty), `buckets` and `termsBuckets` (the bucket counts `save`
  * wrote; `open` re-registers whatever count it finds, 0 = not bucketed),
  * `layout`, `schemaDDL`, `termsSchemaDDL` and `codecVersion`. With
  * `graphIds`, `termCount` and `maxPayload` an opened store answers
  * [[RdfStore.graphIds]], [[RdfStore.termsBroadcastable]] and `append`'s id
  * offset with no Spark job; manifests without them fall back to a scan.
  *
  * The layout is the Spark analogue of the reference's index orders
  * (`availableOrders`, QuadStore.swift:69-88; SQLite keeps a (g,p,o,s) index,
  * SQLiteQuadStore.swift:100-116): a bound-predicate scan prunes to its
  * `p=<id>/` partition directory instead of reading the whole table — at
  * cluster scale a triple-pattern scan touches only that predicate's bytes —
  * while the per-directory subject bucketing keeps same-subject star joins
  * shuffle-free and sort-free across predicates.
  *
  * Statistics persist with the data, so `open` needs no ANALYZE pass — the
  * cluster-scale contract: encode once, reopen cheaply everywhere.
  */
object StorePersist {

  /** Catalog table name for a store directory (bucket metadata lives in the
    * session catalog; the data files live under `dir`). Derived from the FULL
    * path (sanitized) plus a content hash of the path, so two distinct dirs
    * can never collide onto one catalog entry and drop each other's bucket
    * spec (a 32-bit `dir.hashCode` could). */
  def quadsTable(dir: String): String = {
    val san = dir.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "").takeRight(40)
    s"graft_quads_${san}_${pathDigest(dir)}"
  }

  /** 48-bit SHA-256 prefix of a path, in hex: a collision-safe cache key. */
  def pathDigest(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Catalog table name for the id-bucketed terms dictionary of `dir`. */
  def termsTable(dir: String): String = quadsTable(dir) + "_terms"

  /** Data columns in written order; `p` is the partition column and therefore
    * lands last in the on-disk schema. */
  private val PartitionCol = "p"

  /** Version of the term codec + relational→RDF mapping baked into saved
    * stores. BUMP THIS whenever TermId encoding, IriScheme, or RelToRdf
    * change shape: cached on-disk stores written by an older build would
    * otherwise be silently reused with wrong ids. [[savedCodecVersion]]
    * lets callers detect and rebuild stale caches.
    * v3: manifest carries characteristic-set statistics (r13) — older
    * caches lack them and would silently lose the static star-COUNT path.
    * v4: terms dictionary is id-bucketed + id-sorted (r15) — late-
    * materialization joins stop exchanging and sorting the dictionary side. */
  val CodecVersion = 4

  /** The codec version a saved store was written with (0 = pre-versioning). */
  def savedCodecVersion(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir, "meta.json")
    if (!java.nio.file.Files.exists(p)) -1
    else "\"codecVersion\":(\\d+)".r
      .findFirstMatchIn(java.nio.file.Files.readString(p))
      .map(_.group(1).toInt).getOrElse(0)
  }

  private val QuadsPerBucket = 32768L
  private val MaxBuckets = 32L

  /** The bucket count `save` derives for a store of `quads` quads:
    * `clamp(ceil(quads / 32768), 1, 32)`. A small store writes one file per
    * predicate directory and one dictionary file, and every write, charSets
    * pass and bucketed scan of it runs one task per directory; a store of
    * about 1 M quads or more gets 32 buckets. */
  def bucketsFor(quads: Long): Int =
    ((quads + QuadsPerBucket - 1) / QuadsPerBucket).max(1L).min(MaxBuckets).toInt

  /** Write `store` at `dir`, with [[bucketsFor]] of [[RdfStore.quadCount]]
    * (from the statistics: no Spark job) buckets, or `buckets` if positive. */
  def save(store: RdfStore, dir: String, buckets: Int = 0): Unit = {
    val spark = store.spark
    val n = if (buckets > 0) buckets else bucketsFor(store.quadCount)
    val (tbl, ttbl) = (quadsTable(dir), termsTable(dir))
    // the two tables share nothing, so they are written at once
    concurrently({
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      // p-partitioned, subject-bucketed layout: repartition by the SAME hash
      // the bucketing uses so each (predicate-dir, bucket) is exactly one
      // file — bound-p scans prune to their directory AND still report
      // HashPartitioning(s, n) + per-file s-sortedness, so star joins stay
      // shuffle-free after pruning
      oneFilePerBucket(store.quads, n, "s")
        .write.partitionBy(PartitionCol).bucketBy(n, "s").sortBy("s", "o")
        .option("path", s"$dir/quads")
        .mode(SaveMode.Overwrite).saveAsTable(tbl)
    }, {
      // id-bucketed dictionary: every late-materialization join probes the
      // dictionary on id, so persisting HashPartitioning(id, n) (+ per-bucket
      // id order, one file per bucket) removes the Exchange AND the Sort of
      // the dictionary side from every decode join in every reopening session
      // — the dictionary is the LARGE side of those joins at scale
      spark.sql(s"DROP TABLE IF EXISTS $ttbl")
      oneFilePerBucket(store.terms, n, "id")
        .write.bucketBy(n, "id").sortBy("id")
        .option("path", s"$dir/terms")
        .mode(SaveMode.Overwrite).saveAsTable(ttbl)
    })
    val profiles = store.predProfiles.map { case (p, pr) =>
      s"""{"p":$p,"allInline":${pr.allInline},"allNumeric":${pr.allNumeric},""" +
        s""""count":${pr.count},"oTags":[${pr.oTags.mkString(",")}],""" +
        s""""decExact":${pr.decExact},"funcS":${pr.funcS},""" +
        s""""distS":${pr.distS},"distO":${pr.distO}}"""
    }.mkString("[", ",", "]")
    val named = store.namedGraphs
      .map(ns => ns.mkString("[", ",", "]")).getOrElse("null")
    // characteristic sets: computed here (the ANALYZE-once point), from the
    // subject-bucketed table just written so its (s, p) and subject
    // groupings need no exchange, and persisted, so open() answers star
    // COUNTs statically with no extra pass. An over-cap (or
    // already-disabled) store writes an EXPLICIT "charSets":null marker —
    // distinguishable from "never computed" (key absent, pre-stat stores),
    // so re-opening and re-saving an over-cap store never re-runs the pass
    // just to re-discover the cap.
    val sets = if (store.charSetsDisabled) None
      else store.charSetStats.map(Some(_))
        .getOrElse(RdfStore.computeCharSets(spark.table(tbl)))
    val charSets = sets.map(_.map(cs =>
        s"""{"preds":[${cs.preds.mkString(",")}],"subjects":${cs.subjects},""" +
          s""""occ":[${cs.occ.mkString(",")}]}""")
      .mkString("[", ",", "]"))
    // reopen DDL is generated from the actual quads schema (captured here, not
    // hardcoded at open) so a future schema change cannot silently diverge
    val dataCols = store.quads.schema.fields
      .filter(_.name != PartitionCol)
      .map(f => s"${f.name} ${f.dataType.sql}")
      .mkString(", ")
    // same discipline for the dictionary: capture its actual schema so a
    // future TermRow change cannot be reopened through a stale hardcoded
    // column list (silent nulls / cast errors despite a matching codecVersion)
    val termCols = store.terms.schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}")
      .mkString(", ")
    val meta =
      s"""{"defaultGraphs":${store.defaultGraphs.mkString("[", ",", "]")},
         |"spgAllInline":${store.spgAllInline},
         |"namedGraphs":$named,
         |"buckets":$n,
         |"termsBuckets":$n,
         |"codecVersion":$CodecVersion,
         |"layout":"ps",
         |"schemaDDL":"$dataCols",
         |"termsSchemaDDL":"$termCols",
         |"charSets":${charSets.getOrElse("null")},
         |"graphIds":${store.graphIds.mkString("[", ",", "]")},
         |"termCount":${store.dict.terms},
         |"maxPayload":${store.dict.maxPayload},
         |"profiles":$profiles}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "meta.json"), meta)
  }

  /** Run `a` and, on a thread of its own (which inherits this thread's
    * active session and job properties), `b`; return when both have ended,
    * rethrowing `a`'s failure, else `b`'s. */
  private def concurrently(a: => Unit, b: => Unit): Unit = {
    var failure: Option[Throwable] = None
    val t = new Thread(() => try b catch { case e: Throwable => failure = Some(e) })
    t.start()
    try a finally t.join()
    failure.foreach(throw _)
  }

  /** `df` laid out so that a write bucketed by `key` into `n` buckets gives
    * one file per bucket: hash-partitioned by the bucketing's own hash, or,
    * for one bucket, merged into one task with no exchange (a store of up to
    * 32,768 quads then writes each table in one job, not two). */
  private def oneFilePerBucket(df: org.apache.spark.sql.DataFrame, n: Int,
      key: String): org.apache.spark.sql.DataFrame =
    if (n == 1) df.coalesce(1) else df.repartition(n, col(key))

  /** Save `store` as the store at `dir`, crash-safely: write a sibling
    * directory, then swap it in. `store`'s frames may read `dir` itself (an
    * appended or re-analyzed store): the write reads `dir` and writes the
    * sibling, so there is no read-write conflict and nothing to checkpoint,
    * and a failure mid-save leaves the original store untouched. */
  def replace(store: RdfStore, dir0: String): Unit = {
    val spark = store.spark
    val dir = dir0.stripSuffix("/")
    val (tmp, old) = (dir + ".save-tmp", dir + ".save-old")
    deleteDir(tmp); deleteDir(old)
    save(store, tmp)
    val p = java.nio.file.Paths.get(_: String)
    if (java.nio.file.Files.exists(p(dir))) java.nio.file.Files.move(p(dir), p(old))
    java.nio.file.Files.move(p(tmp), p(dir))
    deleteDir(old)
    // drop the session-catalog registrations that now point at moved paths
    // (the save registered tmp's tables; dir's tables cache the PRE-swap
    // file listing) so a later open() in this session re-registers against
    // the swapped-in files
    for (d <- Seq(tmp, dir); t <- Seq(quadsTable(d), termsTable(d)))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.catalog.refreshByPath(dir)
  }

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Reopen a saved store. `cache` persists both tables in memory (right for
    * repeated-query benchmarks at small SF); pass false at cluster scale so
    * scans keep file-level partition pruning + pushed filters. */
  def open(spark: SparkSession, dir: String,
      scheme: IriScheme = IriScheme.default, cache: Boolean = true): RdfStore = {
    val meta = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "meta.json")))
    // bucketed layouts re-register the bucket spec in this session's catalog
    // (the files carry it implicitly; the DDL tells Spark to trust it), so a
    // fresh session reopens with pruned scans + shuffle-free subject joins
    // Spark reports the per-bucket sortBy order of a bucketed scan only under
    // this (dynamic) conf — and only when every selected bucket is a single
    // file, which save() guarantees by pre-repartitioning on the bucket hash.
    // Without it every bucket-aligned SortMergeJoin re-sorts both sides
    // (store-wide Sorts under each star join and each dictionary decode).
    if (meta.buckets > 0 || meta.termsBuckets > 0)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val quads0 = if (meta.buckets > 0) {
      val tbl = quadsTable(dir)
      if (!spark.catalog.tableExists(tbl)) {
        if (meta.layout == "ps") {
          spark.sql(
            s"""CREATE TABLE $tbl (${meta.schemaDDL}, $PartitionCol BIGINT)
               |USING parquet
               |PARTITIONED BY ($PartitionCol)
               |CLUSTERED BY (s) SORTED BY (s, o) INTO ${meta.buckets} BUCKETS
               |LOCATION '$dir/quads'""".stripMargin)
          // external partitioned table: discover the p=<id> directories
          spark.sql(s"MSCK REPAIR TABLE $tbl")
        } else // pre-"ps" stores: single-dir layout, (s,p)-sorted buckets
          spark.sql(
            s"""CREATE TABLE $tbl (s BIGINT, p BIGINT, o BIGINT, g BIGINT,
               |onum DOUBLE, odec DECIMAL(38,18)) USING parquet
               |CLUSTERED BY (s) SORTED BY (s, p) INTO ${meta.buckets} BUCKETS
               |LOCATION '$dir/quads'""".stripMargin)
      }
      spark.table(tbl)
    } else spark.read.parquet(s"$dir/quads")
    val quads =
      if (cache) quads0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else quads0
    // v4 stores: reopen the id-bucketed dictionary through the catalog so
    // decode joins see HashPartitioning(id, n) + per-bucket id order and
    // plan with no Exchange/Sort under the dictionary side. Pre-v4 stores
    // (termsBuckets 0/absent) fall back to the plain parquet read.
    val terms0 = if (meta.termsBuckets > 0) {
      val ttbl = termsTable(dir)
      // v4 stores wrote termsSchemaDDL next to the quads schemaDDL; the
      // hardcoded list only serves manifests from the brief window before
      // the field existed (same codec version, missing key)
      val termCols = if (meta.termsSchemaDDL.nonEmpty) meta.termsSchemaDDL
        else "id BIGINT, kind INT, lex STRING, dt STRING, lang STRING, num DOUBLE"
      if (!spark.catalog.tableExists(ttbl))
        spark.sql(
          s"""CREATE TABLE $ttbl ($termCols) USING parquet
             |CLUSTERED BY (id) SORTED BY (id) INTO ${meta.termsBuckets} BUCKETS
             |LOCATION '$dir/terms'""".stripMargin)
      spark.table(ttbl)
    } else spark.read.parquet(s"$dir/terms")
    // The cached dictionary keeps the bucket HashPartitioning(id, n)
    // (InMemoryRelation forwards partitioning), so decode joins never
    // exchange the dictionary side; the per-bucket sort order is dropped by
    // the cache, but re-sorting the dictionary in memory measured cheaper
    // than re-decoding the parquet per query (which keeps the order but
    // re-pays the scan). Uncached opens (cluster scale) get both: the
    // direct bucketed scan reports partitioning AND order.
    val terms =
      if (cache) terms0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else terms0
    RdfStore(quads, terms, scheme,
      defaultGraphs = meta.defaultGraphs,
      predProfiles = meta.profiles,
      spgAllInline = meta.spg,
      namedGraphs = meta.namedGraphs,
      bucketedS = meta.buckets > 0,
      charSetStats = meta.charSets,
      charSetsDisabled = meta.csDisabled,
      knownGraphIds = meta.graphIds,
      knownDict = meta.dict)
  }

  // minimal hand-rolled JSON decode for the manifest (no extra dependencies)
  private final case class Meta(defaultGraphs: Seq[Long], spg: Boolean,
      namedGraphs: Option[Seq[Long]], profiles: Map[Long, PredProfile],
      buckets: Int = 0, layout: String = "", schemaDDL: String = "",
      charSets: Option[Seq[CharSetStat]] = None, csDisabled: Boolean = false,
      termsBuckets: Int = 0, termsSchemaDDL: String = "",
      graphIds: Option[Seq[Long]] = None, dict: Option[DictStats] = None)

  private def ujsonLite(s: String): Meta = {
    def arr(name: String): Seq[Long] = {
      val m = (name + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(s)
      m.map(_.group(1).split(',').filter(_.trim.nonEmpty).map(_.trim.toLong).toSeq)
        .getOrElse(Seq.empty)
    }
    val named =
      if (s.contains("\"namedGraphs\":null")) None else Some(arr("namedGraphs"))
    val buckets = "\"buckets\":(\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    val termsBuckets = "\"termsBuckets\":(\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    val layout = "\"layout\":\"([^\"]*)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    val schemaDDL = "\"schemaDDL\":\"([^\"]*)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    val termsSchemaDDL = "\"termsSchemaDDL\":\"([^\"]*)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    val profRe =
      ("""\{"p":(-?\d+),"allInline":(true|false),"allNumeric":(true|false),""" +
        """"count":(\d+),"oTags":\[([^\]]*)\](?:,"decExact":(true|false))?""" +
        """(?:,"funcS":(true|false))?""" +
        """(?:,"distS":(\d+),"distO":(\d+))?\}""").r
    val profiles = profRe.findAllMatchIn(s).map { m =>
      m.group(1).toLong -> PredProfile(m.group(2).toBoolean, m.group(3).toBoolean,
        m.group(4).toLong,
        m.group(5).split(',').filter(_.trim.nonEmpty).map(_.trim.toInt).toSet,
        decExact = Option(m.group(6)).exists(_.toBoolean),
        funcS = Option(m.group(7)).exists(_.toBoolean),
        distS = Option(m.group(8)).map(_.toLong).getOrElse(0L),
        distO = Option(m.group(9)).map(_.toLong).getOrElse(0L))
    }.toMap
    val csRe =
      """\{"preds":\[([^\]]*)\],"subjects":(\d+),"occ":\[([^\]]*)\]\}""".r
    // three states: key absent = never computed (pre-stat store); null =
    // ANALYZE ran and found over-cap (stat disabled — do not recompute);
    // array = usable statistics
    val csDisabled = s.contains("\"charSets\":null")
    val charSets =
      if (csDisabled || !s.contains("\"charSets\":")) None
      else Some(csRe.findAllMatchIn(s).map { m =>
        def longs(g: String) =
          g.split(',').filter(_.trim.nonEmpty).map(_.trim.toLong).toSeq
        CharSetStat(longs(m.group(1)), m.group(2).toLong, longs(m.group(3)))
      }.toSeq)
    val graphIds = if (s.contains("\"graphIds\":")) Some(arr("graphIds")) else None
    def long(name: String) = ("\"" + name + "\":(-?\\d+)").r.findFirstMatchIn(s)
      .map(_.group(1).toLong)
    val dict = for (n <- long("termCount"); m <- long("maxPayload")) yield DictStats(n, m)
    Meta(arr("defaultGraphs"), s.contains("\"spgAllInline\":true"), named, profiles,
      buckets, layout, schemaDDL, charSets, csDisabled, termsBuckets,
      termsSchemaDDL, graphIds, dict)
  }
}
