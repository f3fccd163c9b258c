package graft.graph

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.model.{Iri, Term}
import graft.pipeline.Dedup
import graft.store.RdfStore

/** Graph-navigation API over a quad store, after the reference's
  * `GraphProtocol`/`GraphVertexProtocol`/`GraphAPI` (kasei/kineo
  * `Sources/Kineo/QuadStore/Graph.swift:11-80`): id-space, lazy DataFrame
  * traversal helpers (neighbors, incoming/outgoing edges, rdf:List walking)
  * that compose with the query engine, and connected components of the
  * entity graph through the pipeline's [[Dedup.clustersOf]].
  */
final class GraphView(store: RdfStore) {

  /** Object-position links only (IRI/bnode objects): the entity graph. */
  private def entityEdges: DataFrame = {
    import graft.model.TermId
    // object tag < 0x10 → IRI or blank node (never a literal)
    store.quads.filter(F.shiftright(F.col("o"), TermId.PAYLOAD_BITS)
      .bitwiseAND(0xFF) < 0x10)
  }

  /** Outgoing neighbor ids of a vertex, optionally restricted to a predicate. */
  def out(term: Term, predicate: Option[Term] = None): DataFrame = {
    val sid = store.idOf(term).getOrElse(Long.MinValue)
    var q = store.quads.filter(F.col("s") === sid)
    for (p <- predicate; pid <- store.idOf(p)) q = q.filter(F.col("p") === pid)
    q.select(F.col("o"))
  }

  /** Incoming neighbor ids of a vertex. */
  def in(term: Term, predicate: Option[Term] = None): DataFrame = {
    val oid = store.idOf(term).getOrElse(Long.MinValue)
    var q = store.quads.filter(F.col("o") === oid)
    for (p <- predicate; pid <- store.idOf(p)) q = q.filter(F.col("p") === pid)
    q.select(F.col("s"))
  }

  /** Walk an rdf:List from its head, returning member ids in order.
    *
    * Pointer-doubling over the store's rdf:rest edges — O(log n) Spark jobs
    * for an n-cell list, not one job per cons cell (reference: GraphAPI list
    * helpers, which chase driver-side). `pos` accumulates (cell, distance)
    * for every cell reachable from the head; `hop` doubles its stride each
    * round. rdf:rest is functional (out-degree 1), so every `hop` generation
    * stays ≤ the store's cons-cell count and the self-join output is linear,
    * never quadratic; `hop` must NOT be pruned to reachable cells — the
    * composition's mid-nodes lie beyond the frontier by construction. Cycles
    * terminate via the min-distance dedup + growth check. */
  def rdfList(head: Term): Seq[Long] =
    store.idOf(head).map(rdfListFrom).getOrElse(Seq.empty)

  /** Id-space variant of [[rdfList]]. */
  def rdfListFrom(headId: Long): Seq[Long] = {
    val spark = store.spark
    import spark.implicits._
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val firstId = store.idOf(Iri(rdf + "first")).getOrElse(return Seq.empty)
    val restId = store.idOf(Iri(rdf + "rest")).getOrElse(return Seq.empty)
    val nilId = store.idOf(Iri(rdf + "nil"))
    if (nilId.contains(headId)) return Seq.empty
    val rests = store.quads.filter(F.col("p") === restId)
      .select(F.col("s").as("u"), F.col("o").as("v"))
    var pos = Seq((headId, 0L)).toDF("cell", "pos")
    var hop = rests.withColumn("w", F.lit(1L))
    var n = 1L
    var grew = true
    var round = 0
    while (grew && round < 21) { // 2^21 cells ≫ any real rdf:List
      val next = pos.join(hop, pos("cell") === hop("u"))
        .select(hop("v").as("cell"), (pos("pos") + hop("w")).as("pos"))
      pos = pos.unionByName(next).groupBy("cell").agg(F.min("pos").as("pos"))
        .localCheckpoint() // cut lineage: iteration would stack plans
      val n2 = pos.count()
      grew = n2 > n
      n = n2
      if (grew) {
        hop = hop.alias("a").join(hop.alias("b"), F.col("a.v") === F.col("b.u"))
          .select(F.col("a.u").as("u"), F.col("b.v").as("v"),
            (F.col("a.w") + F.col("b.w")).as("w"))
          .localCheckpoint()
      }
      round += 1
    }
    val firsts = store.quads.filter(F.col("p") === firstId)
      .select(F.col("s").as("cell"), F.col("o").as("m"))
    pos.join(firsts, "cell").orderBy("pos").select("m")
      .collect().map(_.getLong(0)).toSeq
  }

  /** Connected components of the entity graph → (id, component): every
    * endpoint of an entity edge, labelled with its component's min term id
    * ([[Dedup.clustersOf]]: a driver union-find up to 500k edges, the
    * superstep loop above). */
  def connectedComponents(): DataFrame =
    Dedup.clustersOf(entityEdges.select(F.col("s").as("a"), F.col("o").as("b")))
      .toDF("id", "component")
}
