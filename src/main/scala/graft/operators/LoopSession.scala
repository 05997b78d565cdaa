package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import CacheOps.Scratch

/** ONE definition of how an iterative graph operator runs: its entry
  * ([[onEdges]]: the persisted edge frame, the right-sized cloned loop
  * session, and every cache the operator takes), and its persisted-state
  * loop ([[sweep]], whose scaladoc states the loop contract). The session
  * is measured in representatives(): label/alive/score frames are
  * nodes-sized, and at the caller's corpus-scale shuffle width each
  * sweep's stage-submission latency exceeds the data it moves, while
  * AQE's per-exchange materialize-and-replan and fresh per-sweep Janino
  * compiles dominate SMALL graphs outright.
  *
  * The width lives in a CLONED session (shared SparkContext, cache
  * manager, catalog) — never a session-global conf flip, which would
  * silently down-size every concurrent query (ADVICE r12). Sizing is
  * ~1M edge rows (~16 MB) per partition capped at the session setting,
  * so a billion-edge graph keeps the caller's full width; under 10M
  * edges whole-stage codegen is off (the compile dwarfs interpreting a
  * nodes-sized frame — the classic iterative-small-data tradeoff), and
  * under 100k edges per-operator expression codegen is off too
  * (projections, predicates, orderings, aggregation buffers are
  * interpreted, in every task of every SQL execution the session runs).
  * What still generates code is what Spark has no interpreted path for:
  * the cached-batch column accessors of `DefaultCachedBatchSerializer`
  * (every read of a persisted state) and `GenerateUnsafeRowJoiner` in
  * hash aggregation.
  *
  * CONTRACT of the operator entry:
  *  1. ONE EDGE PERSIST. [[onEdges]] persists the shaped edge frame and
  *     counts it in one job; the count sizes the loop session, built on
  *     first use, so an operator that never loops never clones one.
  *  2. BINDING IS THE OPERATOR'S. Frames the loop should execute are
  *     rebound into [[Edges.loop]] by the operator (Bridge.rebind,
  *     [[bindInto]] or a layout-keeping truncation — each chosen by a
  *     measurement at its call site); frames handed BACK to the caller
  *     are rebound to the caller's session, or downstream queries
  *     inherit the loop's single-partition/no-broadcast confs.
  *  3. EVERY CACHE THROUGH THE HOLDER. [[Edges]] is a
  *     [[CacheOps.Scratch]]: each cache the operator takes goes through
  *     it, under the holder contract stated once in [[CacheOps]]
  *     (operators with no edge frame of their own open one with
  *     [[CacheOps.holding]]). A cache a sweep step takes persists
  *     lazily, and the sweep's signal fills it ([[sweep]], item 2).
  *  4. RELEASE ON EXIT. As [[CacheOps]] item 4: on return every held
  *     cache but the result is released, on a throw all of them,
  *     blocking — the edge cache with the rest unless the body released
  *     it earlier. */
private[graft] object LoopSession {

  /** `rowsPerPartition` sizes the loop width to what the sweeps MOVE:
    * 1M for loops whose per-sweep traffic is nodes-sized (components,
    * peel, label propagation), smaller for loops that exchange the edge
    * frame every sweep (HITS). At or below `codegenCutoff` rows
    * whole-stage codegen is off, and at or below 1% of it the expression
    * factory runs interpreted too (per-sweep Janino compiles dwarf
    * interpreting nodes-sized frames); pass 0 to always keep both kinds
    * of codegen — right when edge-sized joins run inside the loop. */
  def forGraph(spark: SparkSession, nEdgeRows: Long,
               rowsPerPartition: Long = 1000000L,
               codegenCutoff: Long = 10000000L): SparkSession = {
    val sessionParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(200L)
    val loopParts = math.max(1L,
      math.min(sessionParts, nEdgeRows / rowsPerPartition + 1L))
    Bridge.sessionWithConf(spark, Map(
      "spark.sql.shuffle.partitions" -> loopParts.toString,
      "spark.sql.adaptive.enabled" -> "false",
      // a sweep's joins are all nodes-sized: a broadcast pays a driver
      // collect + rebuild per join per sweep, a sort-merge pays
      // per-sweep sorts — the hash-shuffle join at loop width does
      // neither
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false") ++
      (if (nEdgeRows <= codegenCutoff)
        Map("spark.sql.codegen.wholeStage" -> "false") else Map.empty) ++
      // interpreting costs per row, a compile per generated class, so
      // expression codegen pays off far below stage fusion's cutoff
      // (4 cores: every loop up to 99k edge rows ran faster interpreted,
      // the 58k-edge SCC, 49k HITS and 99k SSSP in every timed pair;
      // the 0.6M-edge SCC ran ~20% slower)
      (if (nEdgeRows <= codegenCutoff / 100)
        Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Map.empty))
  }

  /** Truncate a (persisted) frame's plan to a flat scan of its execution
    * RDD and rebind it into `loop` — the loop-entry move for the edge
    * frame. Truncation destroys size stats (broadcasts are off in the
    * loop anyway) and keeps lineage-recompute recoverability. */
  def bindInto(df: DataFrame, loop: SparkSession): DataFrame =
    Bridge.rebind(Bridge.truncatePlan(df), loop)

  /** One sweep of a [[sweep]] loop: the next state's plan, and its
    * signal — the sweep's ONE job, run over the persisted next state
    * ([[materialize]], [[rowCount]] or another [[fold]]), true once the
    * loop converged. */
  final case class Sweep(next: DataFrame, signal: DataFrame => Boolean)

  /** Which states a [[sweep]] loop holds. */
  sealed trait Release
  object Release {
    /** Only the newest: each predecessor goes once its successor has
      * materialized (every loop whose result is its final state). */
    case object Predecessor extends Release
    /** Every state until the hand-back has materialized (the walk
      * builders: the result is the union of all hops). */
    case object KeepAll extends Release
  }

  /** The holder an [[onEdges]] body gets: the persisted edge `frame` (in
    * the `caller` session), its row count, and the loop session sized
    * from that count. */
  final class Edges private[LoopSession] (edges: DataFrame, rowsPerPartition: Long,
                                          codegenCutoff: Long) extends Scratch {
    val caller: SparkSession = edges.sparkSession
    private lazy val counted = persistCounted(edges)
    def frame: DataFrame = counted._1
    def rows: Long = counted._2
    lazy val loop: SparkSession = forGraph(caller, rows, rowsPerPartition, codegenCutoff)
  }

  /** The ONE entry of a graph operator over an edge frame: `edges` (the
    * operator's shaped, lazy edge plan) is persisted and counted in one
    * job through the [[Edges]] holder, whose loop session `forGraph`
    * sizes from the count with `rowsPerPartition` and `codegenCutoff`,
    * and `body` runs over the holder. */
  def onEdges[A](edges: DataFrame, rowsPerPartition: Long = 1000000L,
                 codegenCutoff: Long = 10000000L)(body: Edges => A): A =
    CacheOps.within(new Edges(edges, rowsPerPartition, codegenCutoff)) { g =>
      g.rows // the edge persist's count: the operator's first job
      body(g)
    }

  /** The ONE persisted-state loop every iterative operator runs:
    * `step(scratch, state, i)` maps sweep i's input state to a [[Sweep]],
    * for at most `maxSweeps` sweeps or until a signal reports
    * convergence. Returns the hand-back and the number of sweeps run.
    *
    * The contract, stated once for every loop:
    *  1. DETACH. Each state persists over a truncated plan (a flat scan
    *     of its execution RDD), so its cache entry references no
    *     upstream cache: Spark's non-cascading unpersist RECACHES
    *     dependent entries, and an attached state would be invalidated
    *     by the very release of its predecessor, re-executing the whole
    *     sweep chain on every later read. Truncation also keeps the
    *     logical plan O(1) per sweep while the RDD lineage keeps
    *     recompute-on-eviction.
    *  2. THE SIGNAL IS THE SWEEP'S ONLY JOB, AND IT FILLS EVERY SCRATCH
    *     CACHE. The step persists its scratch lazily ([[Scratch.persist]])
    *     and the signal is a raw-RDD fold over the persisted state
    *     ([[fold]]): one job fills the state's cache and every scratch
    *     cache the state reads, and yields the convergence test — no
    *     count per cache, no aggregate plan, no SQL execution. A step
    *     that needs a value before it can plan the state (HITS's
    *     per-half max) runs a [[fold]] of its own over the scratch
    *     cache it reads, which fills that cache: one more job, and
    *     still no SQL execution.
    *  3. RELEASE ORDER. The predecessor (under [[Release.Predecessor]])
    *     and the sweep's [[Scratch]] caches go only after the signal has
    *     filled the new state.
    *  4. FAILURE RELEASE. If the step, a signal or the hand-back throws,
    *     every cache the loop still holds — states, scratch, the fresh
    *     persist — is released (blocking) before the error propagates.
    *  5. CALLER-SESSION HAND-BACK. `finish` maps the held states (oldest
    *     first) to the result. The final state itself is handed over as
    *     is; anything else is persisted detached and filled by one
    *     raw-RDD count job ([[handBack]]). Every
    *     other state is then released, and the result is rebound to
    *     `caller`, so downstream queries never inherit the loop session's
    *     confs, and the caller's unpersist() releases its cache entry.
    *
    * `init` is a lazy plan (not already cached): the loop persists and
    * owns it, and its cache fills during the first sweep's action. */
  def sweep(caller: SparkSession, init: DataFrame, maxSweeps: Int,
            policy: Release = Release.Predecessor,
            finish: Seq[DataFrame] => DataFrame = _.last)
           (step: (Scratch, DataFrame, Int) => Sweep): (DataFrame, Int) = {
    val scratch = new Scratch
    var held = List(init.persist(MEMORY_AND_DISK)) // newest first
    var sweeps = 0
    var converged = false
    try {
      while (!converged && sweeps < maxSweeps) {
        val Sweep(next, signal) = step(scratch, held.head, sweeps)
        held ::= Bridge.truncatePlan(next).persist(MEMORY_AND_DISK)
        converged = signal(held.head)
        scratch.releaseAll(blocking = false)
        if (policy == Release.Predecessor) {
          held.tail.foreach(_.unpersist(blocking = false))
          held = held.take(1)
        }
        sweeps += 1
      }
      val out = finish(held.reverse)
      val result = if (out eq held.head) out else CacheOps.holding(_.detached(out))
      held.filterNot(_ eq result).foreach(_.unpersist(blocking = false))
      (Bridge.rebind(result, caller), sweeps)
    } catch { case t: Throwable =>
      scratch.releaseAll(blocking = true)
      held.foreach(_.unpersist(blocking = true))
      throw t
    }
  }

  /** The fixed-sweep signal: a [[rowCount]] fills the state; never
    * converges. */
  val materialize: DataFrame => Boolean = df => { rowCount(df); false }

  /** A raw-RDD fold of `df`'s rows (InternalRows in `df`'s column order)
    * as ONE job under `df`'s session confs ([[Bridge.onRdd]]): over a
    * persisted state it fills the state's cache, and every lazily
    * persisted cache the state reads, without planning an aggregate or
    * opening a SQL execution. */
  def fold[A: scala.reflect.ClassTag](df: DataFrame)(zero: A)(
      add: (A, org.apache.spark.sql.catalyst.InternalRow) => A)(merge: (A, A) => A): A =
    Bridge.onRdd(df)(_.aggregate(zero)(add, merge))

  /** `df`'s row count as one raw-RDD job, like [[fold]]. */
  def rowCount(df: DataFrame): Long = Bridge.onRdd(df)(_.count())

  /** A signal that converges once `measure` repeats the previous sweep's
    * value — the monotone-loop test (an alive count, a (count, Σdist)
    * pair). Stateful: build one per loop run. */
  def repeats[A](measure: DataFrame => A): DataFrame => Boolean = {
    var prev: Option[A] = None
    df => {
      val m = measure(df)
      val same = prev.contains(m)
      prev = Some(m)
      same
    }
  }

  /** Persist `result` detached, fill it with one raw-RDD count job
    * ([[CacheOps.Scratch.detached]]), and hand it back rebound to
    * `caller` — the [[sweep]] hand-back, also used by the composed
    * fixed-count loops (rank, fixed-sweep SSSP), whose single final
    * action is this fill. */
  def handBack(caller: SparkSession, result: DataFrame): DataFrame =
    Bridge.rebind(CacheOps.holding(_.detached(result)), caller)
}
