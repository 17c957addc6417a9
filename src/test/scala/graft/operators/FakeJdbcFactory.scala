package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-JVM fake database for tests: a shared id-keyed `oc_share` table per
  * `storeId`, speaking the three statements [[JdbcUpsert]] and [[Merge]]
  * prepare. UPDATE affects 1 row when the id exists, 0 when it does not
  * (the reference's deleted-share case); INSERT adds an absent id and
  * throws a duplicate-key `SQLIntegrityConstraintViolationException`
  * otherwise; DELETE removes the id. Faults, by id:
  *   - `failIds`: every attempt throws a `RuntimeException` (retry + the
  *     error channel);
  *   - `flakyIds(id) = k`: the first k attempts throw, later ones run;
  *   - `fatalIds`: every attempt throws a `SQLNonTransientException`;
  *   - `reportAffected(id) = n`: the statement runs and reports n rows.
  * A statement in `unpreparable`, or one the fake does not know, fails to
  * prepare with a `SQLSyntaxErrorException`.
  */
final class FakeJdbcFactory(storeId: String, failIds: Set[Long] = Set.empty,
                            flakyIds: Map[Long, Int] = Map.empty,
                            fatalIds: Set[Long] = Set.empty,
                            reportAffected: Map[Long, Int] = Map.empty,
                            unpreparable: Set[String] = Set.empty)
    extends UpsertConnectionFactory {

  override def connect(): UpsertConnection = new UpsertConnection {
    FakeJdbcStore.connectCalls.incrementAndGet()
    override def prepare(sql: String): PreparedUpsert = {
      FakeJdbcStore.prepareCalls.incrementAndGet()
      if (unpreparable(sql) || !Merge.sqlFor.valuesIterator.contains(sql))
        throw new java.sql.SQLSyntaxErrorException(s"cannot prepare: $sql", "42X05")
      new PreparedUpsert {
        override def executeUpdate(params: Seq[Any]): Int = {
          val key = params.last.asInstanceOf[Long]
          val attempt = FakeJdbcStore.attempt(storeId, key)
          if (failIds(key)) throw new RuntimeException(s"connection lost on id $key")
          if (attempt <= flakyIds.getOrElse(key, 0))
            throw new RuntimeException(s"transient fault on id $key, attempt $attempt")
          if (fatalIds(key))
            throw new java.sql.SQLNonTransientException(s"non-transient fault on id $key")
          val table = FakeJdbcStore.table(storeId)
          val values = params.init.toVector
          val n =
            if (sql == Merge.DeleteSql) { if (table.remove(key) != null) 1 else 0 }
            else if (sql == Merge.InsertSql) {
              if (table.putIfAbsent(key, values) != null)
                throw new java.sql.SQLIntegrityConstraintViolationException(
                  s"duplicate key $key", "23505")
              1
            }
            else if (table.replace(key, values) != null) 1
            else 0
          reportAffected.getOrElse(key, n)
        }
        override def close(): Unit = ()
      }
    }
    override def close(): Unit = FakeJdbcStore.closeCalls.incrementAndGet()
  }
}

object FakeJdbcStore {
  // JVM-wide: executor threads in local mode share it with the driver.
  private val tables =
    new ConcurrentHashMap[String, ConcurrentHashMap[Long, Vector[Any]]]()
  private val attemptCounts = new ConcurrentHashMap[(String, Long), AtomicInteger]()
  val prepareCalls = new AtomicLong(0L)
  val connectCalls = new AtomicLong(0L)
  val closeCalls = new AtomicLong(0L)

  def table(storeId: String): ConcurrentHashMap[Long, Vector[Any]] =
    tables.computeIfAbsent(storeId, _ => new ConcurrentHashMap())
  def seed(storeId: String, id: Long): Unit =
    table(storeId).put(id, Vector("", "", 0L, ""))
  def rows(storeId: String): Map[Long, Vector[Any]] = {
    import scala.jdk.CollectionConverters._
    table(storeId).asScala.toMap
  }
  /** Counts one executeUpdate on `id`; returns the attempt's 1-based number. */
  def attempt(storeId: String, id: Long): Int =
    attemptCounts.computeIfAbsent((storeId, id), _ => new AtomicInteger()).incrementAndGet()
  def attempts(storeId: String, id: Long): Int =
    Option(attemptCounts.get((storeId, id))).fold(0)(_.get)
  def reset(storeId: String): Unit = {
    tables.remove(storeId)
    attemptCounts.keySet.removeIf(_._1 == storeId)
  }
}
