package kbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A fixed plan: a shuffled join, a decode join against a terms-shaped
    * table, a window, a UDF, and a cached relation whose own join must not
    * be counted. */
  private def fixedQuery() = {
    import spark.implicits._
    val facts = spark.range(200).select(col("id"), (col("id") % 10).as("k"))
    val dims = spark.range(10).select(col("id").as("k2"), (col("id") * 3).as("w"))
    // cached, like the in-memory store's dictionary: `dt` is pruned from the
    // scan's output, so the walker must recognise the relation's schema
    val terms = Seq((1L, "one", "dt"), (2L, "two", "dt")).toDF("id", "lex", "dt").cache()
    terms.count()
    val cached = spark.range(50).join(spark.range(50), "id").toDF("cid").cache()
    cached.count()
    val plus1 = udf((x: Long) => x + 1)
    facts.join(dims, col("k") === col("k2"))
      .join(terms, facts("id") === terms("id"), "left")
      .join(cached, facts("id") === col("cid"), "left_semi")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy(facts("id"))))
      .select(plus1(facts("id")).as("x"), col("r"), col("lex"))
  }

  // exchanges: both sides of the first join, both sides of the terms join
  // (re-keyed on id), the cached side of the semi join, the window
  private val expected = PlanShape(exchanges = 6, smj = 3, bhj = 0, shj = 0,
    decodeJoins = 1, windows = 1, udfs = 1, scans = 4)

  test("counts the operators of the executed plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val df = fixedQuery()
    df.collect()
    assert(PlanShape.of(df.queryExecution.executedPlan) === expected)
  }

  test("unwraps adaptive plans and query stages to the same counts") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val df = fixedQuery()
    df.collect()
    val root = df.queryExecution.executedPlan
    assert(root.getClass.getSimpleName == "AdaptiveSparkPlanExec")
    assert(PlanShape.of(root) === expected)
  }

  test("counts repeat exactly") {
    val a = fixedQuery(); a.collect()
    val b = fixedQuery(); b.collect()
    assert(PlanShape.of(a.queryExecution.executedPlan) ===
      PlanShape.of(b.queryExecution.executedPlan))
  }
}
