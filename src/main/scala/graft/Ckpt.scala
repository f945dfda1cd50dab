package graft

import java.lang.ref.{ReferenceQueue, WeakReference}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Central `localCheckpoint` policy for every batch operator/pipeline
  * checkpoint in the library (optimization guide §5; VERDICT r19 #2/#7).
  *
  * WHY CHECKPOINT AT ALL: ~10 hot paths materialize a measured twin-subtree
  * reuse point (an AQE broadcast build otherwise re-executes the whole
  * build-side lineage in ONE driver-side task — the r17 lesson, re-hit in
  * r19 five times) or truncate an iterative plan (pagerank / BPE / cluster
  * rounds). Those wins are real at every scale.
  *
  * THE TRADE, stated once here instead of per-site: `localCheckpoint`
  * blocks live on executors with NO lineage fallback — on a cluster with
  * executor churn a lost block FAILS the job instead of recomputing. That
  * is acceptable on local[] and on stable executors; deployments that
  * prefer lineage-recoverable plans can set
  * `spark.graft.localCheckpoint=false` (session conf, read per call):
  * every transient site then keeps its full plan — identical results,
  * recoverable, at the cost of re-executing shared subtrees. (A reliable
  * `checkpoint()` swap would slot in here too — it needs a checkpoint dir,
  * which this sandbox doesn't provision.)
  *
  * BLOCK LIFETIME (VERDICT r19 #1): checkpoint blocks die only when the
  * ContextCleaner GCs the last RDD reference, so a long sweep (Bench: 207
  * queries × 2-3 passes) ACCUMULATES blocks in the storage pool for the
  * whole JVM's life — memory pressure that surfaced as 30 s one-pass
  * spreads on checkpoint-adjacent queries. Every transient checkpoint
  * therefore registers its materialized RDD here, and the harness mains
  * (Bench / BenchOne / Verify / ProfileJobs) call [[releaseTransient]]
  * after each query, freeing the blocks deterministically instead of
  * waiting for a GC cycle. The registry holds WEAK references: library
  * callers that never release keep the GC-driven behavior (an unreachable
  * checkpoint's RDD is still collected and its blocks cleaned), and
  * cleared references are dropped as new checkpoints register, so the
  * registry is bounded by the checkpoints still reachable.
  *
  * [[pinned]] is for SESSION-SCOPED artifacts shared across queries
  * (QueryShared.dimCache): never registered, never released — releasing a
  * dim checkpoint mid-sweep would fail every later star query with
  * "checkpoint block not found".
  *
  * Streaming state checkpoints (StreamingDedup/StreamingPipeline) do NOT
  * route through here: theirs is a detach-before-overwrite correctness
  * contract with its own lifecycle, not a performance materialization.
  */
object Ckpt {

  /** Transient checkpoints registered since the last release, weakly held
    * (identity set of references), drained per query by the harness. */
  private val transientRdds = java.util.concurrent.ConcurrentHashMap
    .newKeySet[WeakReference[RDD[_]]]()
  /** Where the GC enqueues references whose RDD it collected. */
  private val cleared = new ReferenceQueue[RDD[_]]()

  private def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.localCheckpoint", "true").toBoolean

  /** Eager query-scoped checkpoint: materializes now, registers for
    * [[releaseTransient]]. The default for measured twin-subtree reuse
    * points and iterative-round truncation. */
  def local(df: DataFrame): DataFrame =
    if (!enabled(df)) df else register(df.localCheckpoint())

  /** Lazy query-scoped checkpoint: plan is truncated but materialization
    * happens at first action (used where work must stay inside a timed
    * stage window — Pipeline's rule engine). */
  def localLazy(df: DataFrame): DataFrame =
    if (!enabled(df)) df else register(df.localCheckpoint(false))

  /** Session-scoped checkpoint for artifacts cached ACROSS queries
    * (dimCache). Not registered: released only by session teardown. */
  def pinned(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Bounded wait for an observation's metrics row: the row arrives with
    * the ASYNC listener event that follows the action, usually within
    * milliseconds. None when the event is lost or late — callers then fall
    * back to an honest recount. */
  private[graft] def observed(obs: Observation): Option[Row] =
    try Some(Await.result(obs.future, 30.seconds))
    catch { case _: Exception => None }

  /** Eager checkpoint of `df` plus one LONG-valued aggregate over the rows
    * it materialized (a count, a sum of flags), read from an `observe()`
    * on the checkpoint's own action — the number costs no second job over
    * the blocks. In lineage mode (`spark.graft.localCheckpoint=false`), or
    * if the observation event is lost, the aggregate runs as its own job.
    * A null aggregate (a sum over no rows) reads as 0. */
  def localObserved(df: DataFrame, agg: Column): (DataFrame, Long) = {
    def asLong(r: Row): Long = if (r.isNullAt(0)) 0L else r.getLong(0)
    def byJob(d: DataFrame): Long = asLong(d.select(agg).collect()(0))
    if (!enabled(df)) return (df, byJob(df))
    val obs = Observation()
    val out = local(df.observe(obs, agg.as("v")))
    (out, observed(obs).map(asLong).getOrElse(byJob(out)))
  }

  private def register(out: DataFrame): DataFrame = {
    var ref = cleared.poll()
    while (ref != null) { transientRdds.remove(ref); ref = cleared.poll() }
    // Dataset.localCheckpoint returns a Dataset over a LogicalRDD wrapping
    // the persisted RDD — that RDD is the unpersist handle.
    out.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(r => transientRdds.add(new WeakReference[RDD[_]](r, cleared)))
    out
  }

  /** Postfix sugar so operator call sites keep their shape:
    * `df.ckptLocal()` == `Ckpt.local(df)` etc. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckptLocal(): DataFrame = Ckpt.local(df)
    def ckptLocalLazy(): DataFrame = Ckpt.localLazy(df)
    def ckptPinned(): DataFrame = Ckpt.pinned(df)
  }

  /** Unpersist every transient checkpoint registered since the last call.
    * Harness-only (between queries): the released DataFrames must not be
    * re-executed afterwards (a localCheckpoint has no lineage fallback).
    * Non-blocking — removal proceeds in the block manager's background. */
  // Unpersisting a locally-checkpointed RDD logs a WARN ("lineage has been
  // truncated and cannot be recomputed") once per RDD — expected and benign
  // here (release happens strictly AFTER the query's action; a mistaken
  // re-execution still fails loudly with "checkpoint block not found").
  // RDD.unpersist logs through the logger of the RDD's RUNTIME class
  // (Spark's Logging names it after getClass — MapPartitionsRDD for a
  // Dataset checkpoint), so exactly that logger is raised to ERROR, once
  // per class, the first time a process releases one: harness sweeps
  // don't bury real warnings under hundreds of deliberate ones, no other
  // org.apache.spark.rdd logger is touched, and library users who never
  // release keep the WARN.
  private val quietedLoggers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def quietUnpersistWarn(r: RDD[_]): Unit = {
    val name = r.getClass.getName.stripSuffix("$")
    if (quietedLoggers.add(name))
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        name, org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () }
  }

  def releaseTransient(): Unit = {
    val it = transientRdds.iterator()
    while (it.hasNext) {
      val r = it.next().get()
      it.remove()
      if (r != null) {
        quietUnpersistWarn(r)
        try r.unpersist(blocking = false) catch { case _: Throwable => () }
      }
    }
  }
}
