package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.Stage
import graft.queries._

/** One analytics query and the output it must produce. */
final case class Expected(name: String, rows: Long, hash: Long)

/** The analytics half of the `sql` workload: registered
  * `SparkEntry.queries` over the benchmark's parquet tables, each written
  * to the `noop` sink, in a seeded order. Many short multi-job queries:
  * driver planning and the gaps between jobs.
  */
final class QueryClient(ctx: Ctx, sfDir: String, queries: Seq[Expected]) {
  import ctx.spark

  private val fns = SparkEntry.queries
  private val moduleOf: Map[String, String] = Seq(
    "RelationalQueries" -> RelationalQueries.entries, "DedupQueries" -> DedupQueries.entries,
    "SimilarityQueries" -> SimilarityQueries.entries, "TextQueries" -> TextQueries.entries,
    "HybridQueries" -> HybridQueries.entries, "EventQueries" -> EventQueries.entries,
    "MultimodalQueries" -> MultimodalQueries.entries, "PipelineQueries" -> PipelineQueries.entries
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  private val orderSeeds = new scala.util.Random(ctx.args.seed)

  queries.map(_.name).filterNot(moduleOf.contains).foreach { q =>
    throw new IllegalArgumentException(s"$q is not a registered analytics query")
  }

  /** Row count and an order-insensitive hash of the rows: columns in name
    * order, each value rendered as text, the row hashes summed mod 2^64.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.toSeq.map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
    val hashes = df.select(xxhash64(cols: _*)).collect().map(_.getLong(0))
    (hashes.length.toLong, hashes.sum)
  }

  /** One untimed pass that also checks every query's output. */
  def warmup(): Unit = {
    Stage.resetShared()
    queries.foreach { q =>
      ctx.attempted += 1
      try {
        val ((rows, hash), s) = Clock.timed(fingerprint(fns(q.name)(spark, sfDir)))
        System.err.println(s"""{"query":"${q.name}","rows":$rows,"hash":$hash,"s":$s}""")
        if (rows != q.rows || hash != q.hash)
          ctx.fail(s"${q.name}: $rows rows, hash $hash; expected ${q.rows}, ${q.hash}")
      } catch { case e: Exception => ctx.fail(s"${q.name}: ${e.getMessage}") }
    }
  }

  /** This unit's query order. */
  def nextOrder(): Seq[String] = Gen.queryOrder(orderSeeds.nextLong(), queries.map(_.name))

  def attempt(q: String): Unit = {
    ctx.attempted += 1
    try {
      val (_, s) = Clock.timed(ctx.layer(s"Query.${moduleOf(q)}") {
        fns(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      })
      ctx.op("query", s * 1000)
    } catch { case e: Exception => ctx.fail(s"$q: ${e.getMessage}") }
  }

  def detail: Seq[(String, Double, String)] = {
    val ms = ctx.opMs.getOrElse("query", mutable.ArrayBuffer(0.0)).toSeq
    Seq(("query_p50_ms", Stats.percentile(ms, 50), "ms"),
      ("query_p90_ms", Stats.percentile(ms, 90), "ms"))
  }

  def layerMetrics(n: Int): Map[String, Double] = {
    val modules = moduleOf.values.toSeq.distinct.sorted
    // the split behind ATTRIBUTION.md: where each module's wall time went
    modules.foreach { m =>
      val s = ctx.stat(s"Query.$m")
      System.err.println(f"[perfbench] module $m: wall ${s.wallS / n}%.3f s, " +
        f"jobs ${s.totals.jobs.toDouble / n}%.1f, job-busy ${s.busyS / n}%.3f s, " +
        f"driver gap ${(s.wallS - s.busyS) / n}%.3f s, task ${s.totals.taskS / n}%.3f s, " +
        f"planning ${s.totals.planningS / n}%.3f s")
    }
    modules.map(m => s"$m.wall_s" -> ctx.stat(s"Query.$m").wallS / n).toMap
  }
}
