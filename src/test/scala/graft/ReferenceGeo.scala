package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions

/** The reference's README demo (`examples/geo-data`: `geo.ttl`, `geo.rq`,
  * `coords.rq`; FIXTURES.md §3), read from a reference checkout next to this
  * repository. The repository does not hold these files, and the tests that
  * read them assert facts of that particular extract (3056 triples, the
  * README's 10 DBpedia rows), so they start with [[assumePresent]]: where a
  * file is absent the test is canceled, elsewhere it runs unchanged. Tests
  * that only need geo-shaped input read the committed
  * `src/test/resources/geo-sample.ttl` instead.
  */
object ReferenceGeo {
  /** The repository root: the nearest directory holding `build.sbt` above the
    * compiled test classes, so the lookup does not depend on the JVM's working
    * directory (falls back to it where the classes are not under the root). */
  val repoRoot: Path = {
    val classes = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes.toAbsolutePath)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .getOrElse(Paths.get("").toAbsolutePath)
  }

  /** `reference/examples/geo-data` in the directory that holds the repository. */
  val dir: Path = repoRoot.resolveSibling("reference").resolve("examples").resolve("geo-data").normalize

  /** Cancels the calling test unless every named file is a regular file in [[dir]]. */
  def assumePresent(files: String*): Unit = {
    val missing = files.map(dir.resolve(_)).filterNot(Files.isRegularFile(_))
    Assertions.assume(missing.isEmpty,
      s"reference geo example not present: ${missing.mkString(", ")}")
  }
}
