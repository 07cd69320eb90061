package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftx.Bridge

/** Thread-confined registry for per-call `localCheckpoint` scratch.
  *
  * The streaming sinks must free their per-batch checkpoint blocks eagerly
  * (with a large heap GC rarely runs, so ContextCleaner's weak-ref cleanup
  * never fires and a long-running stream accumulates dead blocks until
  * heavy batches pay eviction churn — measured in docs/BENCH_NOTES_r5.md).
  * The pre-r12 sweep diffed the CONTEXT-GLOBAL `getPersistentRDDs` around
  * the batch body — which also swept checkpoints a CONCURRENTLY RUNNING
  * query created in the same window. A localCheckpoint's blocks are
  * unrecoverable once unpersisted (lineage truncated), so one sink's
  * cleanup could kill another sink's in-flight batch: multi-query sessions
  * are supported (the progress ledger attaches to every active query), so
  * the sweep must only ever touch its OWN scratch.
  *
  * The registry is exact, not heuristic: a `foreachBatch` body runs on one
  * thread, and every scratch checkpoint in the operator tree routes
  * through [[checkpoint]], which registers the frame with the innermost
  * [[scoped]] block active on the calling thread. No scope active (the
  * batch/query paths — Bench sweeps per query, callers manage their own
  * frames) means plain `localCheckpoint` behavior. Frames with a
  * deliberately LONGER lifetime must NOT route through here.
  *
  * Release is idempotent with the operators' own eager frees (the CC
  * loop's per-round release, [[TombstoneHeal]]'s finally): unpersisting an
  * already-unpersisted RDD is a no-op, and RDD ids are never reused. */
private[graft] object Scratch {

  private val active =
    new ThreadLocal[mutable.Stack[mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue(): mutable.Stack[mutable.ArrayBuffer[DataFrame]] =
        mutable.Stack.empty
    }

  /** `df.localCheckpoint()`, registered with the innermost active scope on
    * this thread (if any) for release when the scope exits. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val stack = active.get()
    if (stack.nonEmpty) stack.top += ck
    ck
  }

  /** Run `body`, then release every scratch checkpoint it registered on
    * this thread — and ONLY those: checkpoints belonging to concurrent
    * queries (or to outer scopes) are untouched. Scopes nest: an inner
    * scope releases its own frames at its own exit. Every streaming
    * `foreachBatch` body runs inside one, so a long-running stream frees
    * each batch's scratch when the batch ends (see the object doc for why
    * neither GC nor a context-global sweep can). */
  def scoped[A](body: => A): A = {
    val stack = active.get()
    stack.push(mutable.ArrayBuffer.empty)
    try body
    finally stack.pop().foreach(Bridge.unpersistCheckpoint)
  }

  /** `localCheckpoint` registered with the scope UNDER the innermost one —
    * for a frame created inside a helper's own [[scoped]] block that must
    * OUTLIVE it and belong to the CALLER's scope (for example
    * `Dedup.ingestCycle`'s returned verdicts: the cycle's internal scratch
    * dies with the cycle, the verdicts die with the caller's batch). With
    * only one scope active the frame is registered nowhere — plain
    * caller-managed checkpoint semantics, same as [[checkpoint]] outside
    * any scope. */
  def checkpointEscaping(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val stack = active.get()
    if (stack.size >= 2) stack(1) += ck
    ck
  }

  /** Checkpoint two INDEPENDENT frames concurrently (guide §2.6 — their
    * materialization jobs back-fill each other's stage tails), registering
    * BOTH with the calling thread's innermost scope. This is the
    * thread-safe composition [[graft.Par]]'s contract forbids doing by
    * hand ("no Scratch checkpoints inside Par thunks" — the registry is
    * thread-confined): the `localCheckpoint()` actions run on worker
    * threads, registration happens here on the caller's thread after both
    * complete. Failure semantics match two sequential checkpoints — the
    * first failure is rethrown; a frame whose checkpoint DID complete
    * while the sibling failed is still registered with the scope (released
    * at scope exit, never leaked). */
  def checkpointPar(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    @volatile var ca: DataFrame = null
    @volatile var cb: DataFrame = null
    try graft.Par.run(
      () => ca = a.localCheckpoint(),
      () => cb = b.localCheckpoint())
    finally {
      val stack = active.get()
      if (stack.nonEmpty) {
        if (ca != null) stack.top += ca
        if (cb != null) stack.top += cb
      }
    }
    (ca, cb)
  }

  /** `df.scratchCheckpoint()` — [[checkpoint]] as a postfix op, so call
    * sites read like the `localCheckpoint()` they replace. */
  implicit final class Ops(private val df: DataFrame) extends AnyVal {
    def scratchCheckpoint(): DataFrame = Scratch.checkpoint(df)
  }
}
