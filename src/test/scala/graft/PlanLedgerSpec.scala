package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The plan-shape ledger: `PLANSHAPE.json` at the repository root holds the
  * [[PlanShape]] of every battery entry's executed plan, taken after
  * `collect()` at sf0.001 under [[SparkBase]]'s session. Its first line
  * records that session; then comes one line per entry, sorted by name, so a
  * diff of the ledger names the entries whose plans moved.
  *
  * Any difference fails the entry's test. A rise is a regression; a fall is
  * written into the ledger by the change that causes it, so the ledger stays
  * tight. On any failure the observed ledger is written to
  * `target/PLANSHAPE.observed.json`; updating the ledger is copying that file
  * over `PLANSHAPE.json` once the diff is reviewed.
  */
class PlanLedgerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkBase.spark
  val sf = "/root/testdata/sf0.001"

  private val ledgerFile = ReferenceGeo.repoRoot.resolve("PLANSHAPE.json")
  private val observedFile = ReferenceGeo.repoRoot.resolve("target").resolve("PLANSHAPE.observed.json")
  private val EntryLine = """"([^"]+)": (\{.*\}),?""".r
  private val Count = """"(\w+)":(\d+)""".r

  private lazy val ledgerLines: Seq[String] =
    if (Files.isRegularFile(ledgerFile)) Files.readAllLines(ledgerFile, UTF_8).asScala.toSeq
    else Nil
  /** The committed entries: name -> the row's JSON object. */
  private lazy val ledger: Map[String, String] =
    ledgerLines.collect { case EntryLine(name, row) => name -> row }.toMap

  private lazy val session: String = {
    def conf(k: String) = spark.conf.get(k)
    s"""{"sf":"${new java.io.File(sf).getName}","master":"${spark.sparkContext.master}",""" +
      s""""shuffle_partitions":${conf("spark.sql.shuffle.partitions")},""" +
      s""""aqe":${conf("spark.sql.adaptive.enabled")}}"""
  }
  private def sessionLine = s"""{"session": $session,"""

  private val observed = scala.collection.mutable.TreeMap.empty[String, PlanShape]
  private var failed = false
  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) { failed = true; fail(msg) }

  test("plan ledger: session and entry set match the battery") {
    check(ledgerLines.headOption.contains(sessionLine),
      s"$ledgerFile was taken under another session (or is missing):\n" +
        s"  ledger:   ${ledgerLines.headOption.getOrElse("<none>")}\n  observed: $sessionLine")
    val battery = SparkEntry.queries.keySet
    check(ledger.keySet == battery,
      s"ledger entries differ from SparkEntry.queries; not in the battery: " +
        s"${(ledger.keySet -- battery).toSeq.sorted.mkString(", ")}; " +
        s"not in the ledger: ${(battery -- ledger.keySet).toSeq.sorted.mkString(", ")}")
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) test(s"plan ledger: $name") {
    // scratch frames another query persisted would stand in for parts of this plan
    graft.pipeline.ScratchCache.drain()
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    val shape = PlanShape.of(df.queryExecution.executedPlan)
    observed(name) = shape
    val row = ledger.getOrElse(name, "<none>")
    val was = Count.findAllMatchIn(row).map(m => m.group(1) -> m.group(2).toInt).toMap
    val moved = shape.fields.filterNot { case (k, v) => was.get(k).contains(v) }.map {
      case (k, v) => s"$k ${was.get(k).fold("-")(_.toString)} -> $v" + was.get(k).fold("")(w =>
        if (v > w) " (rise: a regression)" else " (fall: write it into the ledger)")
    }
    check(shape.json == row,
      s"$name: ${moved.mkString(", ")}\n  ledger:   $row\n  observed: ${shape.json}\n" +
        s"  (full observed ledger: $observedFile)")
  }

  override def afterAll(): Unit = {
    graft.pipeline.ScratchCache.drain()
    if (failed) {
      val rows = observed.toSeq.map { case (n, s) => s""""$n": ${s.json}""" }
      val lines = sessionLine +: "\"entries\": {" +:
        rows.zipWithIndex.map { case (r, i) => if (i < rows.size - 1) r + "," else r } :+ "}}"
      Files.createDirectories(observedFile.getParent)
      Files.write(observedFile, lines.asJava, UTF_8)
    }
  }
}
