package graft.operators

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import graft.GraftConf

/** One change-set row, shaped exactly like [[Migration.changeset]] output. */
final case class UpsertRow(id: Long, new_item_source: String, new_item_target: String,
                           new_file_source: Long, new_file_target: String)

/** Per-row write outcome: `affected` is the driver-reported row count
  * (-1 when the statement itself failed), `error` the K4 continue-on-error
  * channel.
  */
final case class UpsertOutcome(id: Long, affected: Int, error: Option[String])

/** A prepared keyed-update statement (JDBC `PreparedStatement` shape):
  * bind positional params, execute, report affected rows.
  */
trait PreparedUpsert extends AutoCloseable {
  def executeUpdate(params: Seq[Any]): Int
  override def close(): Unit
}

/** One database connection; `prepare` compiles the statement ONCE so every
  * row in the partition reuses it (SURVEY §4's per-partition
  * prepared-statement reuse; the reference re-prepares per row,
  * main.go:222-226 — one of the things we deliberately do better).
  */
trait UpsertConnection extends AutoCloseable {
  def prepare(sql: String): PreparedUpsert
  override def close(): Unit
}

/** Serializable seam: shipped to executors, each partition opens its own
  * connection. [[DriverManagerUpsertFactory]] wraps `java.sql.DriverManager`
  * (MySQL in the reference deployment, embedded Derby in the JDBC specs
  * and the benchmark); the test tree's `FakeJdbcFactory` is an in-JVM
  * double (same pattern as `NamespaceConnector`/`FakeConnector`).
  */
trait UpsertConnectionFactory extends Serializable {
  def connect(): UpsertConnection
}

/** K1 sink (main.go:217-240): the validated keyed upsert writer.
  *
  * The reference writes one prepared `UPDATE oc_share ... WHERE id=?` per
  * share from a per-row goroutine and asserts exactly one row was
  * affected. Spark-native shape: `mapPartitions` over the change-set —
  * one connection + one prepared statement per partition, one
  * `executeUpdate` per row, affected-rows validation mapped onto the K4
  * error channel (0 rows = "share id does not exist anymore",
  * main.go:232-238; >1 rows = corrupt-key assertion). At 100 TB the
  * change-set is the small residue of the pipeline, and cluster-wide write
  * parallelism = partition count, sized by the caller via `repartition`.
  * [[Merge.execute]] shares the statement loop ([[execute]]).
  */
object JdbcUpsert {

  /** The reference's UPDATE (main.go:222-224), positional params in the
    * same order + id last.
    */
  val UpdateSql: String =
    "UPDATE oc_share SET item_source=?, item_target=?, file_source=?, file_target=? WHERE id=?"

  val ErrShareDeleted = "share id does not exist anymore" // main.go:236

  /** Write the change-set through the connection seam. `dryRun` (K2,
    * main.go:219-221) emits the would-be outcomes without touching the
    * sink; `debug` (main.go:30,35 per-command trace) logs each bound
    * statement. `maxRetries` counts attempts per row (1 = no retry).
    */
  def write(cs: Dataset[UpsertRow], factory: UpsertConnectionFactory,
            dryRun: Boolean = false, debug: Boolean = false,
            maxRetries: Int = 5): Dataset[UpsertOutcome] = {
    implicit val enc = Encoders.product[UpsertOutcome]
    execute(cs, factory, dryRun, debug, maxRetries)(_ => Merge.OpUpdate, bind,
      (r, n, err) => UpsertOutcome(r.id, n, err))
  }

  /** Config-driven entry: dry-run from `spark.graft.notouchdb` (K2), trace
    * from `spark.graft.debug` — the consumers of those GraftConf flags.
    */
  def writeWithConf(spark: SparkSession, cs: Dataset[UpsertRow],
                    factory: UpsertConnectionFactory): Dataset[UpsertOutcome] = {
    val conf = GraftConf.fromSession(spark)
    write(cs, factory, dryRun = conf.noTouchDb, debug = conf.debug)
  }

  private def bind(r: UpsertRow): Seq[Any] =
    Seq(r.new_item_source, r.new_item_target, r.new_file_source, r.new_file_target, r.id)

  /** The one per-partition statement loop behind [[write]] and
    * [[Merge.execute]]. Per non-empty partition: one connection, one
    * prepared statement per distinct SQL text (prepared on first use, so
    * a failed prepare is that row's error), closed once when the rows run
    * out or the task completes. Per row: `op` picks the statement
    * ([[Merge.sqlFor]]; an unknown op is an error row) and the
    * affected-rows rule, the statement runs with `maxRetries` attempts
    * ([[Migration.retryWithBackoff]]), and `outcome` gets the affected
    * count (-1 when the row failed) and the K4 error:
    *   update: 1 = ok, 0 = K1's "share deleted";
    *   delete: 0 or 1 both ok (idempotent);
    *   insert: 1 = ok, sink key-constraint violations surface on the
    *     error channel (the strict WHEN-MATCHED-insert signal);
    *   any other count is an error.
    */
  private[operators] def execute[R, O: Encoder](rows: Dataset[R],
      factory: UpsertConnectionFactory, dryRun: Boolean, debug: Boolean, maxRetries: Int)(
      op: R => String, bind: R => Seq[Any], outcome: (R, Int, Option[String]) => O): Dataset[O] =
    if (dryRun) rows.map { r =>
      if (debug)
        System.err.println(s"[graft dry-run] ${Merge.sqlFor.getOrElse(op(r), op(r))} <- ${bind(r)}")
      outcome(r, 0, None)
    }
    else rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val conn = factory.connect()
        val stmts = mutable.Map.empty[String, PreparedUpsert]
        var closed = false
        def closeOnce(): Unit =
          if (!closed) { closed = true; stmts.values.foreach(_.close()); conn.close() }
        // close on task completion even when the iterator is abandoned
        // mid-stream (limit/take downstream, task failure) — otherwise the
        // connection leaks once per partition
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        val out = it.map { r =>
          val o = op(r)
          Merge.sqlFor.get(o) match {
            case None => outcome(r, -1, Some(s"unknown op '$o'"))
            case Some(sql) =>
              if (debug) System.err.println(s"[graft] $sql <- ${bind(r)}")
              try {
                val stmt = stmts.getOrElseUpdate(sql, conn.prepare(sql))
                val n = Migration.retryWithBackoff(maxRetries, initialDelayMs = 10) {
                  () => stmt.executeUpdate(bind(r))
                }
                outcome(r, n, o match {
                  case Merge.OpUpdate if n == 0 => Some(ErrShareDeleted)
                  case Merge.OpDelete if n <= 1 => None
                  case _ if n == 1 => None
                  case _ => Some(s"expected 1 row affected, got $n")
                })
              } catch {
                case e: Exception =>
                  outcome(r, -1, Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
              }
          }
        }
        new Iterator[O] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) closeOnce()
            h
          }
          def next(): O = out.next()
        }
      }
    }
}

/** The real-JDBC implementation of the connection seam: one
  * `java.sql.Connection` per partition via `DriverManager`, statements
  * compiled once per partition through `prepareStatement` and re-executed
  * per row with positional binds. Serializable by construction — it
  * carries only the URL and properties; every executor partition opens
  * its own connection (the reference opens ONE process-wide MySQL
  * connection, main.go:81-86; partition-scoped connections are the
  * cluster-parallel equivalent). Works against any JDBC driver on the
  * executor classpath — MySQL in the reference deployment, embedded
  * Derby in this sandbox's tests (JdbcUpsertSpec).
  */
final class DriverManagerUpsertFactory(url: String,
                                       props: Map[String, String] = Map.empty)
    extends UpsertConnectionFactory {

  override def connect(): UpsertConnection = new UpsertConnection {
    private val conn = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      java.sql.DriverManager.getConnection(url, p)
    }
    override def prepare(sql: String): PreparedUpsert = new PreparedUpsert {
      private val ps = conn.prepareStatement(sql)
      override def executeUpdate(params: Seq[Any]): Int = {
        params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
        ps.executeUpdate()
      }
      override def close(): Unit = ps.close()
    }
    override def close(): Unit = conn.close()
  }
}
