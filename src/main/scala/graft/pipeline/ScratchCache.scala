package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for short-lived persisted intermediates (LSH buckets, shingle tables…).
  * Long-lived store caches (quads/terms) do NOT go through here. Harnesses that run
  * many queries in one session drain between queries so scratch blocks don't
  * accumulate into GC pressure.
  */
object ScratchCache {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    p
  }

  def drain(): Unit = {
    var df = live.poll()
    while (df != null) {
      try df.unpersist(blocking = false) catch { case _: Exception => () }
      df = live.poll()
    }
  }
}
