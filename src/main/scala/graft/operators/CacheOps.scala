package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The persist → materialize → release discipline shared by operators
  * that reference a corpus-scale frame from several plan branches
  * (Catalyst does not reuse common subtrees, so a lazy frame would
  * re-execute per reference). */
private[graft] object CacheOps {

  /** Persist and eagerly materialize `df`; if the materializing action
    * itself fails, the fresh cache is released before the error
    * propagates — otherwise a failed operator strands a corpus-sized
    * cache in the session's CacheManager with no owner. */
  def persistMaterialized(df: DataFrame): DataFrame =
    persistMaterializedCounted(df)._1

  /** [[persistMaterialized]], also returning the row count the
    * materializing action produced — loops that need the count for
    * convergence checks must not pay a second count job per round. */
  def persistMaterializedCounted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(MEMORY_AND_DISK)
    try { (p, p.count()) }
    catch { case t: Throwable => p.unpersist(blocking = true); throw t }
  }

  /** [[persistMaterialized]] DECOUPLED from the input caches it was
    * computed from: the plan is truncated to a flat scan of its
    * execution RDD before persisting, so the cached plan references no
    * upstream InMemoryRelation. Required for every RESULT an operator
    * materializes immediately before releasing its inputs — Spark's
    * non-cascading unpersist RECACHES dependent entries (discarding
    * their just-built buffers), so an undetached result cache is
    * invalidated by the very release that follows it and the caller's
    * first read re-executes the whole pipeline (measured: the r16
    * per-job profile showed every graph gate paying its pipeline twice
    * — once materializing, once on the driver's count). Lineage-safe:
    * the RDD recomputes through the original plan on eviction. The
    * materializing count is one raw-RDD job over the cached scan
    * ([[Bridge.onRdd]]): the truncated plan has no exchange left to
    * plan, so a Dataset count would only add an aggregate plan, a SQL
    * execution and a stage. */
  def persistMaterializedDetached(df: DataFrame): DataFrame = {
    val p = Bridge.truncatePlan(df).persist(MEMORY_AND_DISK)
    try { Bridge.onRdd(p)(_.count()); p }
    catch { case t: Throwable => p.unpersist(blocking = true); throw t }
  }

}
