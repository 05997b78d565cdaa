package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The ONE cache policy of every operator that references a frame from
  * several plan branches (Catalyst does not reuse common subtrees, so a
  * lazy frame would re-execute per reference): the operator persists
  * that frame, reads it, and releases it. No operator or streaming
  * operator names a storage level or calls `unpersist` or
  * `localCheckpoint` itself (`OneFactorySpec` pins it); it takes every
  * cache through a holder. Caches a caller owns past the call stay with
  * that caller: `DataOps.stableRanks`, `Pipeline`'s incremental-dedup
  * checkpoint and shared-split rows, and `sources.Pages`.
  *
  * CONTRACT of the holder ([[Scratch]], opened by [[holding]], by
  * `LoopSession.onEdges` for a graph operator, and per sweep inside
  * `LoopSession.sweep`):
  *  1. ONE LEVEL. Every cache is `MEMORY_AND_DISK` and keeps its lineage,
  *     so an evicted block recomputes ([[Scratch.checkpoint]] alone cuts
  *     the lineage, for a loop whose plan would otherwise grow).
  *  2. LAZY OR COUNTED. [[Scratch.persist]] marks a frame and lets the
  *     first job that reads it fill it; [[Scratch.persistCounted]] fills
  *     it at once with a count and returns the count.
  *  3. DETACH A RESULT. A result materialized before the caches it was
  *     computed from go is taken with [[Scratch.detached]]: its plan is
  *     truncated to a flat scan of its execution RDD before it persists,
  *     so its cache entry references no held cache. Spark's
  *     non-cascading unpersist RECACHES dependent entries (discarding
  *     their just-built buffers), so an undetached result would be
  *     invalidated by the very release that follows it and the caller's
  *     first read would re-execute the whole operator.
  *  4. RELEASE ON EXIT. When the body returns, every held cache but the
  *     returned frame is released, non-blocking; when it throws, all of
  *     them are, blocking, before the error propagates — a failed
  *     operator strands nothing in the CacheManager or the block
  *     manager. [[Scratch.release]] drops one cache early, once nothing
  *     the operator runs later reads it. */
private[graft] object CacheOps {

  /** The caches an operator holds, each with its release. */
  class Scratch private[operators] () {
    private var held: List[(DataFrame, Boolean => Unit)] = Nil

    private def take(df: DataFrame, release: Boolean => Unit): DataFrame = {
      held ::= (df -> release)
      df
    }

    /** Hold an already-persisted frame (a hand-back the operator reads
      * but does not return). */
    def hold(df: DataFrame): DataFrame = take(df, blocking => { df.unpersist(blocking); () })

    /** Persist `df` lazily: the first job that reads it fills it (inside
      * a `LoopSession.sweep` step, that job is the sweep's signal). */
    def persist(df: DataFrame): DataFrame = hold(df.persist(MEMORY_AND_DISK))

    /** [[persist]], eagerly filled by a count, which is returned. */
    def persistCounted(df: DataFrame): (DataFrame, Long) = {
      val p = persist(df)
      (p, p.count())
    }

    def persistMaterialized(df: DataFrame): DataFrame = persistCounted(df)._1

    /** `df` persisted over its truncated plan and filled by one raw-RDD
      * count job ([[Bridge.onRdd]]: the truncated plan has no exchange
      * left, so a Dataset count would only add an aggregate plan, a SQL
      * execution and a stage) — the result form of item 3. */
    def detached(df: DataFrame): DataFrame = {
      val p = persist(Bridge.truncatePlan(df))
      Bridge.onRdd(p)(_.count())
      p
    }

    /** `df` as a local checkpoint, filled by one raw-RDD count job: its
      * lineage is cut, so nothing recomputes it once released
      * ([[Bridge.releaseLocalCheckpoint]], the block-manager release a
      * Dataset unpersist does not reach). Held before it fills, so a
      * failing fill releases it too. */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(eager = false)
      take(cp, Bridge.releaseLocalCheckpoint(cp, _))
      Bridge.onRdd(cp)(_.count())
      cp
    }

    /** Release `df` now: nothing the operator runs later reads it. */
    def release(df: DataFrame): Unit = {
      val (mine, rest) = held.partition(_._1 eq df)
      held = rest
      mine.foreach(_._2(false))
    }

    private[operators] def releaseAll(blocking: Boolean, keep: Any = null): Unit = {
      held.filterNot(_._1 eq keep.asInstanceOf[AnyRef]).foreach(_._2(blocking))
      held = Nil
    }
  }

  /** Run `body` with an operator-lifetime [[Scratch]], released as the
    * contract's item 4 states. */
  def holding[A](body: Scratch => A): A = within(new Scratch)(body)

  private[operators] def within[S <: Scratch, A](held: S)(body: S => A): A = {
    val out =
      try body(held)
      catch { case t: Throwable => held.releaseAll(blocking = true); throw t }
    held.releaseAll(blocking = false, keep = out)
    out
  }
}
