package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for short-lived persisted intermediates (LSH buckets, shingle tables,
  * the graph loop's adjacency…), DataFrames and RDDs alike.
  * Long-lived store caches (quads/terms) do NOT go through here. Harnesses that run
  * many queries in one session drain between queries so scratch blocks don't
  * accumulate into GC pressure.
  */
object ScratchCache {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(() => p.unpersist(blocking = false))
    p
  }

  def persist[T](rdd: RDD[T]): RDD[T] = {
    val p = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(() => p.unpersist(blocking = false))
    p
  }

  def drain(): Unit = {
    var release = live.poll()
    while (release != null) {
      try release() catch { case _: Exception => () }
      release = live.poll()
    }
  }
}
