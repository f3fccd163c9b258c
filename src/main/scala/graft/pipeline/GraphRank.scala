package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Supersteps

/** Link-graph centrality for corpus curation: web-scale training pipelines
  * weight documents by the link rank of their source (Common Crawl publishes
  * harmonic centrality / PageRank for exactly this use). Here: PageRank over
  * the entity reference graph of the relational testdata
  * (order→customer→nation→region, supplier→nation).
  *
  * Determinism device: ranks live in FIXED-POINT integer micro-units and
  * every per-iteration step is integer arithmetic — contribution is
  * `rank DIV out_degree` (truncating integer division), damping is
  * `(85 × Σ) DIV 100` — so iteration results are exact integers, summation is
  * order-free, and a DuckDB oracle unrolling the same iterations computes
  * bit-identical ranks (same scheme as the IVF/PQ integer Lloyd training).
  * Float PageRank would differ in the last ulp by partition-summation order.
  *
  * Scale shape: [[pagerank]] and [[labelProp]] run on the engine's one
  * superstep loop, [[graft.graph.Supersteps]] (the co-partitioned plan of
  * Pregelix, VLDB 2014): a fixed-round run is one Spark job of iters + 2
  * stages and becomes a DataFrame once, at the end. Dangling nodes
  * (regions) simply leak rank, stated and replicated in the oracle.
  */
object GraphRank {

  /** (src, dst) string-keyed edge list of the entity reference graph. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.read(spark, s"$dir/$n.parquet")
    def e(df: DataFrame, sPfx: String, s: String, dPfx: String, d: String) =
      df.select(concat(lit(sPfx), col(s).cast("string")).as("src"),
        concat(lit(dPfx), col(d).cast("string")).as("dst"))
    e(t("orders"), "o", "o_orderkey", "c", "o_custkey")
      .unionByName(e(t("customer"), "c", "c_custkey", "n", "c_nationkey"))
      .unionByName(e(t("supplier"), "s", "s_suppkey", "n", "s_nationkey"))
      .unionByName(e(t("nation"), "n", "n_nationkey", "r", "n_regionkey"))
  }

  /** The loop's adjacency of the (src, dst) edge list `es`, with the
    * session's shuffle-partition count. */
  private def adjacency(spark: SparkSession, es: DataFrame,
      undirected: Boolean): RDD[(String, Array[String])] =
    Supersteps.adjacency(es.rdd.map(r => (r.getString(0), r.getString(1))),
      spark.sessionState.conf.numShufflePartitions, undirected)

  /** Integer fixed-point PageRank; output (node, pr) with pr in micro-units
    * (initial rank 1,000,000 per node, damping 0.85). */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val adj = adjacency(spark, edges(spark, dir), undirected = false)
    val ranks = Supersteps.run[String, Long, Long](adj, iters)(_ => 1000000L,
      (_, r, out) => out.iterator.map(_ -> r / out.length), _ + _,
      (_, s) => 150000L + 85L * s.getOrElse(0L) / 100)
    spark.createDataFrame(ranks).toDF("node", "pr")
  }

  /** Deterministic synchronous label propagation (community detection for
    * source/domain clustering — the graph-side complement of the embedding
    * clustering ops): labels start as the node's own id; each of `iters`
    * synchronized rounds relabels every node with the MOST FREQUENT label
    * among its neighbors, ties broken to the LEXICOGRAPHICALLY SMALLEST
    * label. The (count desc, label asc) argmax is total, so results are
    * exact strings and a DuckDB oracle unrolling the same rounds reproduces
    * them bit-identically — no RNG, no update-order dependence (the
    * asynchronous-LPA nemesis).
    *
    * Scale shape: the superstep loop over the undirected adjacency; a vertex
    * sends its label to each neighbor once, the votes are counted per label
    * in the map-side message combine, and the update takes the argmax. */
  def labelProp(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val adj = adjacency(spark, edges(spark, dir), undirected = true)
    val labels = Supersteps.run[String, String, Map[String, Int]](adj, iters)(v => v,
      (_, lab, out) => out.iterator.map(_ -> Map(lab -> 1)),
      (a, b) => b.foldLeft(a) { case (m, (l, c)) => m.updated(l, m.getOrElse(l, 0) + c) },
      (v, votes) => votes.fold(v)(_.minBy { case (l, c) => (-c, l) }._1))
    spark.createDataFrame(labels).toDF("node", "community")
  }

  /** Per-node triangle count + local clustering coefficient over the part
    * CO-PURCHASE graph (parts sharing an order are linked — the item
    * co-occurrence graph of recommendation/curation pipelines; the
    * coefficient measures neighborhood density, the third graph-quality
    * signal next to [[pagerank]] centrality and [[labelProp]] communities).
    *
    * Scale shape: the DEGREE-ORDERED node-iterator (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11): each
    * undirected edge is oriented from its lower-(degree, id) endpoint to the
    * higher, so every triangle has exactly one wedge center and wedge
    * enumeration is bounded by Σ out-deg² with out-deg ≤ O(√m) — the hub
    * that generates deg² wedges under naive enumeration generates almost
    * none as a center. Wedges close against the oriented edge list with one
    * equi-join on the (v, w) pair; per-node counts explode each triangle to
    * its three corners. Everything is key-partitioned equi-joins and
    * map-side-combinable aggregates — no broadcast dependence, no all-pairs
    * — the shape that survives power-law co-occurrence graphs. The
    * order-%10 slice bounds the local-test graph; at scale it drops.
    */
  /** Undirected part co-purchase edge set (a < b, distinct): parts sharing an
    * order are linked. The order-%10 slice bounds the local-test graph; at
    * scale it drops. Shared by [[triangles]], [[jaccardNeighbors]] and
    * [[components]]. */
  private def copurchase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(spark, s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    ScratchCache.persist(
      li.as("x").join(li.as("y"), Seq("ok"))
        .where(col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct())
  }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchase(spark, dir)
    val deg = ScratchCache.persist(
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")))
    val wd = e.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // orient low→high in the (deg, id) total order; keep the head's order
    // key so the wedge (v, w) can be canonicalized without re-joining deg
    val orient = ScratchCache.persist(wd.select(
      when(aLower, col("a")).otherwise(col("b")).as("u"),
      when(aLower, col("b")).otherwise(col("a")).as("v"),
      when(aLower, col("db")).otherwise(col("da")).as("dv")))
    orient.count()
    val e2 = orient.select(col("u"), col("v").as("wn"), col("dv").as("dw"))
    val wedges = orient.join(e2, Seq("u"))
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("wn")))
    // v precedes wn in the total order ⇒ only the v→wn orientation can exist
    val tris = wedges.join(
      orient.select(col("u").as("v"), col("v").as("wn")), Seq("v", "wn"))
      .select(col("u"), col("v"), col("wn"))
    val nt = tris.select(explode(array(col("u"), col("v"), col("wn"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(nt, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .select(col("node").as("part"), col("deg"), col("tri"),
        round(when(col("deg") >= 2,
          lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 4).as("coeff"))
  }

  /** Neighbor-set Jaccard similarity for every co-neighbor node pair of the
    * part co-purchase graph — the link-prediction / item-similarity feature
    * ("how alike are two parts' purchase contexts"). For each pair (a, b)
    * sharing at least one neighbor: |N(a)∩N(b)| / (|N(a)|+|N(b)|−|∩|).
    *
    * Scale shape: common-neighbor counts come from ONE wedge self-join keyed
    * on the shared center w (cost Σ deg(w)² — the exact-similarity lower
    * bound, there is no orientation trick here because every wedge must be
    * COUNTED, not just detected), then one (a, b)-keyed count with map-side
    * combine and two degree equi-joins. The hub guard caps wedge centers at
    * `maxDeg` neighbors (a super-hub contributes deg² near-zero-signal pairs;
    * dropping it is the standard sampled-Jaccard degradation — pairs only
    * co-counted through surviving centers). The cut is replicated in the
    * oracle, and the jac division is one IEEE op over exact integers. */
  def jaccardNeighbors(spark: SparkSession, dir: String,
      maxDeg: Long = 4096L): DataFrame = {
    val e = copurchase(spark, dir)
    val ed = ScratchCache.persist(
      e.select(col("a").as("node"), col("b").as("nbr"))
        .union(e.select(col("b").as("node"), col("a").as("nbr"))))
    val deg = ScratchCache.persist(
      ed.groupBy("node").agg(count(lit(1)).as("deg")))
    // wedge enumeration through non-hub centers only. Scratch-persisted:
    // the self-join below consumes this frame on BOTH sides, and unpersisted
    // each side replans the whole hub-cap join from ed/deg (the r15 plan
    // carries two copies of the centers subtree, each with its own w
    // exchange). The deg join leaves the frame hash-partitioned on w and the
    // cache forwards that partitioning, so the self-join runs co-partitioned
    // with no further exchange — the only corpus-sized shuffle left is the
    // unavoidable (a, b) pair aggregate.
    val centers = ScratchCache.persist(
      ed.select(col("nbr").as("w"), col("node"))
        .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
        .where(col("dw") <= maxDeg)
        .select(col("w"), col("node")))
    val common = centers.select(col("w"), col("node").as("x"))
      .join(centers.select(col("w"), col("node").as("y")), "w")
      .where(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("common"))
    common.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        round(col("common") / (col("da") + col("db") - col("common")), 4).as("jac"))
  }

  /** Connected components of the part co-purchase graph, as a first-class
    * operator (component label = min member id, + component size): the
    * corpus-partitioning primitive under the dedup cluster family, exposed
    * directly. Reuses [[Dedup.clustersOf]] — bounded driver union-find for
    * output-sized pair graphs (≤500k edges), min-label propagation on the
    * superstep loop above that. Size is one component-keyed count.
    * Parts that never co-occur with another part (orders holding a single
    * distinct part) are unioned in as size-1 components — the operator
    * partitions the WHOLE sliced part universe, not just the edge-touched
    * subset; the singleton side is one anti join against the cluster
    * output, no extra shuffle shape. */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.read(spark, s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_partkey").as("node")).distinct()
    val comp = Dedup.clustersOf(copurchase(spark, dir))
      .select(col("doc_id").as("node"), col("keep").as("component"))
    val singles = nodes.join(comp.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    val all = comp.union(singles)
    val sz = all.groupBy("component").agg(count(lit(1)).as("csize"))
    all.join(sz, "component").select(col("node"), col("component"), col("csize"))
  }
}
