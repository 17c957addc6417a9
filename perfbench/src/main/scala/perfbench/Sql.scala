package perfbench

import graft.operators.Stage

/** SQL on the engine from one client: each unit is one cycle of DML
  * statements on a snapshot table with one analytics query after each
  * statement, so commits, point and time-travel reads and
  * multi-job analytical queries share a session, as they do on a
  * lakehouse table. The transaction log and the query planner do the work;
  * the JDBC sink stays idle.
  */
final class Sql(ctx: Ctx, val unitS: Double, dml: DmlClient, analytics: QueryClient)
    extends Workload {

  override def setup(i: Int): Unit = dml.setup()

  /** The checked query pass, then one statement of each DML kind. */
  override def warmup(): Unit = {
    analytics.warmup()
    dml.warmup()
  }

  override def warmUnits: Int = 0

  override def unit(i: Int): Double = {
    Stage.resetShared()
    val queries = analytics.nextOrder()
    val (_, wall) = Clock.timed(ctx.unitLayer {
      dml.cycle.map(Some(_)).zipAll(queries.map(Some(_)), None, None).foreach { case (s, q) =>
        s.foreach(dml.attempt)
        q.foreach(analytics.attempt)
      }
    })
    wall
  }

  override def finish(): Unit = dml.finish()

  override def detail(wallS: Double): Seq[(String, Double, String)] =
    dml.detail ++ analytics.detail

  override def layerMetrics(n: Int): Map[String, Double] =
    dml.layerMetrics(n) ++ analytics.layerMetrics(n)
}
