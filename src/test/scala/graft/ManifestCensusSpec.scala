package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Census of the manifest line format: a string literal that starts with
  * a manifest line's `name=` prefix anywhere in `src/main` outside
  * [[graft.sources.Manifest]] means a second reader or writer of the
  * format. Fails until that code reads or writes typed fields instead.
  */
class ManifestCensusSpec extends SparkTestBase {

  private val Prefixes = Seq("key", "schema", "partcols", "partbucket", "physmap",
    "dropped", "constraint", "ts", "op", "txn", "bloomidx", "rows", "cstats",
    "asof", "measures", "basedir", "range", "colrange")

  /** `"prefix=` or an interpolated `s"prefix=` opening a literal. */
  private val PrefixLiteral = ("\"(" + Prefixes.mkString("|") + ")=").r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("manifest line prefixes appear in src/main only inside Manifest") {
    val owner = Paths.get("src/main/scala/graft/sources/Manifest.scala")
    assert(Files.isRegularFile(owner), s"the format's owner moved: $owner")
    val strays = sources.filterNot(_ == owner).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        PrefixLiteral.findAllMatchIn(line).map(m => s"$p:${i + 1}: ${m.matched}")
      }
    }
    assert(strays.isEmpty,
      s"manifest line format written or parsed outside Manifest:\n${strays.mkString("\n")}")
  }
}
