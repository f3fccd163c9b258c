package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). An entry
  * that throws is printed to stderr as `FAILED <name> <error>`, the others
  * still run, and the process exits with status 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the battery exceeds the default 100-entry codegen cache, which would
      // recompile most entries' generated classes
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset: SPARK_GRAFT_ONLY=q_a,q_b writes only those entries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a StackOverflowError (Catalyst recursing on a deep plan) fails one entry
    val failed = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1)))
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e @ (scala.util.control.NonFatal(_) | _: StackOverflowError) =>
          System.err.println(s"FAILED $name ${e.getClass.getName}: ${e.getMessage}")
          Some(name)
        }
      }
    // every control character is escaped: a tab in an oracle's SQL would
    // otherwise make the compare's json.load fail
    def q(s: String): String = "\"" + graft.sources.SparqlResults.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"verify: ${failed.size} entries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
