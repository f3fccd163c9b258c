package graft.graph

import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import graft.pipeline.ScratchCache

/** The one vertex-centric superstep loop of the engine: PageRank and label
  * propagation ([[graft.pipeline.GraphRank]]), the distributed property-path
  * closure (`Compiler.closure`) and the at-scale connected components
  * ([[graft.pipeline.Dedup.clustersOf]]) all run on it. It is the
  * co-partitioned plan of Pregelix (VLDB 2014): one record per vertex holds
  * its out-neighbours, hash-partitioned once on the vertex and
  * scratch-persisted. A superstep (1) zips the vertex state with it and emits
  * messages, (2) combines them per target vertex in ONE map-side-combined
  * shuffle on the same partitioner, and (3) zips the result back onto the
  * vertices to apply the update: no edge reshuffle, nothing driver-side.
  * A superstep's state depends only on the adjacency and the shuffle it
  * read, so nothing but the adjacency is persisted and no superstep
  * recomputes earlier ones. The loop is RDD code, so no superstep is
  * re-analyzed and AQE starts no job per stage: a fixed-round run is one
  * Spark job of rounds + 2 stages.
  */
object Supersteps {

  /** One record per vertex of the arcs `(src, dst)` with its out-neighbours,
    * hash-partitioned on the vertex into `parts` partitions and
    * scratch-persisted. Directed, the neighbours are a multiset (a repeated
    * arc sends twice); `undirected`, each arc links both ways and a
    * neighbour appears once. */
  def adjacency[K: ClassTag](arcs: RDD[(K, K)], parts: Int,
      undirected: Boolean): RDD[(K, Array[K])] = {
    val half = arcs.flatMap { case (s, d) =>
      Iterator(s -> Some(d), d -> (if (undirected) Some(s) else None))
    }
    ScratchCache.persist(half.groupByKey(new HashPartitioner(parts)).mapValues { ns =>
      if (undirected) ns.flatten.toArray.distinct else ns.flatten.toArray })
  }

  /** Synchronous supersteps over `adj` from `init(v)`: `send` along the
    * out-neighbours, `merge` per target on `adj`'s partitioner, and `update`
    * each vertex from what it heard (`None`: nothing). A vertex program that
    * needs its own state in the update sends it to itself.
    *
    * Without `active` the loop runs `iters` supersteps and starts no job.
    * With it the loop runs until no vertex is active, or `iters`: it counts
    * the active vertices after supersteps 1, 3, 7, 15, … (one job per
    * check), so a run of d supersteps pays about log2(d) + 1 checks and at
    * most d idle supersteps past quiescence. */
  def run[K: ClassTag, S, M: ClassTag](adj: RDD[(K, Array[K])],
      iters: Int = Int.MaxValue, active: Option[S => Boolean] = None)(
      init: K => S, send: (K, S, Array[K]) => Iterator[(K, M)],
      merge: (M, M) => M, update: (K, Option[M]) => S): RDD[(K, S)] = {
    var state = adj.map { case (v, _) => (v, init(v)) }
    var step = 0
    var quiet = false
    while (step < iters && !quiet) {
      val in = state.zipPartitions(adj) { (ss, as) =>
        ss.zip(as).flatMap { case ((v, s), (_, out)) => send(v, s, out) }
      }.reduceByKey(adj.partitioner.get, merge)
      state = adj.zipPartitions(in, preservesPartitioning = true) { (as, ms) =>
        val m = ms.toMap
        as.map { case (v, _) => (v, update(v, m.get(v))) }
      }
      step += 1
      for (isActive <- active if Integer.bitCount(step + 1) == 1)
        quiet = state.filter { case (_, s) => isActive(s) }.count() == 0
    }
    state
  }
}
