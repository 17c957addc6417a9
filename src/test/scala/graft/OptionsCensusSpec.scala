package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Census of the engine's settable options: every `spark.graft.*` session
  * key and every `SPARK_GRAFT_*` environment variable that `src/main`
  * reads, each with the one reason it exists. A new option, or one whose
  * last reader is gone, fails here until this list says why.
  */
class OptionsCensusSpec extends SparkTestBase {

  private val Deploy = "deployment path"
  private val Reference = "reference flag (S5, main.go:38-53)"
  private val Fixture = "fixture override used only by a spec"

  /** option -> (kind, why it exists) */
  private val census: Map[String, (String, String)] = Map(
    "spark.graft.bloomIndex" -> (Deploy,
      "per-file bloom sidecars at commit, for point-lookup-heavy snapshot tables"),
    "spark.graft.catalog.location" -> (Deploy,
      "base directory of the graft table catalog"),
    "spark.graft.compactTargetBytes" -> (Deploy,
      "OPTIMIZE's target file size"),
    "spark.graft.dedupTtl" -> (Deploy,
      "state eviction horizon of the streaming dedup operators"),
    "spark.graft.maxBroadcastBytes" -> (Deploy,
      "cap above which Joins.sizedBroadcast drops its broadcast hint"),
    "spark.graft.stageDir" -> (Deploy,
      "where Stage writes its barrier tables"),
    "spark.graft.shuffle.bucketChars" -> (Fixture,
      "forces finer text bucketing in ScaleInvarianceSpec"),
    "spark.graft.db.username" -> (Reference, "DSN user"),
    "spark.graft.db.password" -> (Reference, "DSN password"),
    "spark.graft.db.host" -> (Reference, "DSN host"),
    "spark.graft.db.port" -> (Reference, "DSN port"),
    "spark.graft.db.name" -> (Reference, "DSN database name"),
    "spark.graft.notouchdb" -> (Reference, "-notouchdb: dry-run sink"),
    "spark.graft.eos.mgmurl" -> (Reference, "EOS MGM URL the connector targets"),
    "spark.graft.userprefix" -> (Reference, "EOS home-directory prefix"),
    "spark.graft.user" -> (Reference, "single-user filter"),
    "spark.graft.debug" -> (Reference, "debug output"),
    "SPARK_GRAFT_CPUS" -> (Deploy,
      "local core count of Bench, Verify and the tools mains"),
    "SPARK_GRAFT_MASTER" -> (Deploy, "Spark master of ScaleData"),
    "SPARK_GRAFT_ONLY" -> (Deploy, "the query subset Bench times"),
    "SPARK_GRAFT_SF_DIR" -> (Deploy, "the input directory Bench reads"))

  private val KeyLiteral = """"(spark\.graft\.[A-Za-z0-9_.]+)"""".r
  private val EnvLiteral = """"(SPARK_GRAFT_[A-Z0-9_]+)"""".r
  // GraftConf composes its keys as `Prefix + k` (`get(k, default)`)
  private val PrefixedKey = """(?:get\(|Prefix \+ )"([a-z][a-z.]*)"""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("every spark.graft.* key and SPARK_GRAFT_* env read in src/main is listed with its reason") {
    val found = sources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val prefixed =
        if (p.getFileName.toString == "GraftConf.scala")
          PrefixedKey.findAllMatchIn(text).map(m => GraftConf.Prefix + m.group(1))
        else Iterator.empty
      KeyLiteral.findAllMatchIn(text).map(_.group(1)) ++
        EnvLiteral.findAllMatchIn(text).map(_.group(1)) ++ prefixed
    }.toSet
    val unlisted = found -- census.keySet
    val stale = census.keySet -- found
    assert(unlisted.isEmpty && stale.isEmpty,
      s"options read but not in the census: ${unlisted.toSeq.sorted.mkString(", ")}; " +
        s"census entries nothing reads: ${stale.toSeq.sorted.mkString(", ")}")
    census.foreach { case (k, (kind, why)) =>
      assert(Set(Deploy, Reference, Fixture)(kind) && why.nonEmpty, k)
    }
  }
}
