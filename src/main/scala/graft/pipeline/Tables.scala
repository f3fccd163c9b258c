package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet reader of the pipeline modules. `spark.read.parquet`
  * infers the schema with a one-task Spark job on every call; [[read]]
  * remembers the inferred schema and reads with `.schema(s)`, so a repeated
  * read of an unchanged table starts no job.
  *
  * The schema is remembered per qualified path under a fingerprint of the
  * data files (name, length, mtime: one driver-side listing, no job) and of
  * the session's `*parquet*` settings (`spark.sql.legacy.parquet.nanosAsLong`
  * changes the inferred schema). An overwritten table or a changed setting is
  * inferred again.
  */
object Tables {
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (AnyRef, StructType)]()

  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // an absent path keeps the reader's own error
    if (!fs.exists(p)) spark.read.parquet(path)
    else spark.read.schema(schemaOf(spark, fs, p)).parquet(path)
  }

  private def schemaOf(spark: SparkSession, fs: FileSystem, p: Path): StructType = {
    val files = Vector.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val key = (files.result().sorted, spark.conf.getAll.filter(_._1.contains("parquet")))
    val q = fs.makeQualified(p).toString
    Option(schemas.get(q)).collect { case (k, s) if k == key => s }.getOrElse {
      val s = spark.read.parquet(q).schema
      schemas.put(q, (key, s))
      s
    }
  }
}
