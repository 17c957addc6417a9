package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Census of the range-clustered file layout: `repartitionByRange(`
  * anywhere in `src/main` outside
  * [[graft.operators.SnapshotLog.writeClustered]] means a second writer
  * deciding how rows fall into files, and with it a second idea of what
  * per-file min/max skipping can rely on. Fails until that code calls the
  * one writer.
  */
class ClusteredWriteCensusSpec extends SparkTestBase {

  private val Call = "repartitionByRange("

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("repartitionByRange appears in src/main only inside SnapshotLog.writeClustered") {
    val owner = Paths.get("src/main/scala/graft/operators/SnapshotLog.scala")
    assert(Files.isRegularFile(owner), s"the writer's owner moved: $owner")
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(Call) => (p, i)
      }
    }
    val ownerLines = Files.readAllLines(owner).asScala.toVector
    val writer = ownerLines.indexWhere(_.contains("def writeClustered("))
    // the def the call sits in: the nearest `def ` at or above it
    def enclosingDef(i: Int): Int = (i to 0 by -1).find(ownerLines(_).contains("def ")).get
    val strays = hits.filterNot { case (p, i) => p == owner && enclosingDef(i) == writer }
    assert(strays.isEmpty, s"range clustering outside SnapshotLog.writeClustered:\n" +
      strays.map { case (p, i) => s"$p:${i + 1}" }.mkString("\n"))
    assert(writer >= 0 && hits.size == 1,
      s"SnapshotLog.writeClustered should range-partition once: $hits")
  }
}
