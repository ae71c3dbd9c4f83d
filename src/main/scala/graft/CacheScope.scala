package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped lifecycle for operator-internal persisted
  * intermediates.
  *
  * Several operators persist a shared subtree (Dedup's shingle
  * tables, Ann's signature tables, q37's daily aggregate) because
  * multiple branches of ONE returned plan consume it — but a
  * lazily-returned DataFrame cannot unpersist itself: the operator
  * never learns when its caller's last action ran. Raw `.persist`
  * therefore leaks cache entries into long-lived sessions unless
  * every embedding application knows to call
  * `spark.catalog.clearCache()` (which also evicts the APPLICATION's
  * own caches — too blunt a tool).
  *
  * [[CacheScope.persisted]] keeps `.persist` semantics but registers
  * the DataFrame with its session; [[CacheScope.releaseAll]] then
  * unpersists exactly the library's intermediates — the application's
  * caches survive. Verify/Bench call it between queries; an embedding
  * application calls it whenever a pipeline run's results have been
  * materialized. Re-running a query after release is always correct
  * (persist is a performance hint, not a semantic one) — the next
  * action simply recomputes and re-caches.
  */
object CacheScope {

  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, DataFrame)]()

  /** Persist `df` (MEMORY_AND_DISK by default) and register it for
    * session-scoped release. Returns `df` for chaining. */
  def persisted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    evictStopped()
    df.persist(level)
    registry.add((df.sparkSession, df))
    df
  }

  /** Unpersist every registered intermediate belonging to `spark`
    * (non-blocking) and drop it from the registry. Returns how many
    * entries were released. Other sessions' entries are untouched. */
  def releaseAll(spark: SparkSession): Int = {
    evictStopped()
    var n = 0
    val it = registry.iterator()
    while (it.hasNext) {
      val (s, df) = it.next()
      if (s eq spark) {
        df.unpersist(blocking = false)
        it.remove()
        n += 1
      }
    }
    n
  }

  /** Entries whose session has stopped hold dead references forever
    * in an embedding application that cycles sessions but only ever
    * calls releaseAll on the live one — reap them on every mutation.
    * (The stopped context already dropped the cached blocks; only the
    * registry entry outlives it.) */
  private def evictStopped(): Unit = {
    val it = registry.iterator()
    while (it.hasNext) {
      if (it.next()._1.sparkContext.isStopped) it.remove()
    }
  }

  /** Registered-but-unreleased entry count for `spark` — lets tests
    * assert the no-leak contract without poking Spark internals. */
  def pending(spark: SparkSession): Int = {
    var n = 0
    registry.forEach { case (s, _) => if (s eq spark) n += 1 }
    n
  }
}
