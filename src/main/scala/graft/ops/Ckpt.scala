package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The loop combinator of the driver-paced iterative operators (graph
  * ranking and peeling, closures, connected components, the suffix
  * ladder, BPE merge learning). Its contract:
  *
  *  - One checkpoint call. Every loop-carried checkpoint is
  *    [[Loop.checkpoint]]: an eager `localCheckpoint` of the plan with a
  *    fresh `Observation` of the loop's "changed rows" count on that same
  *    plan, so the checkpoint's one job also delivers the count.
  *  - Convergence without a second job. [[Loop.iterate]] stops when a
  *    round reports 0 changed rows, or after `maxRounds` ([[Loop.rounds]]
  *    always runs them all). A fixpoint that is not a row count (an
  *    edge-set equality, a BPE argmax) is decided inside the step, which
  *    then reports 0.
  *  - Ownership instead of guessing. A [[Loop]] releases only checkpoints
  *    it made. After each round it releases every checkpoint of the
  *    previous state that the new state does not read ("reads" = every
  *    `LogicalRDD` of the analyzed plan). A loop that accumulates its
  *    checkpoints into the state therefore keeps them to the end.
  *  - One `finally` ([[run]]). On return it releases every checkpoint
  *    the loop made that the result does not read; on a throw (a failed
  *    step, or the operator's own non-convergence error) it releases all
  *    of them and the original exception propagates. Either way it
  *    unpersists every frame cached through [[Loop.persist]] (loop
  *    invariants such as a pre-partitioned edge list).
  *
  * Release is needed at all because `Dataset.unpersist` is a no-op for
  * checkpoint storage (it is not CacheManager-tracked): a loop that
  * checkpoints per round without releasing accretes one dead block set
  * per round per call. Measured: four back-to-back g16 calls in one JVM
  * climbed 14.2 → 24.9 s as dead label tables piled into the storage
  * memory the live shuffles wanted. */
private[graft] object Ckpt {

  /** Every checkpoint RDD `df`'s analyzed plan reads. */
  def rddsOf(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Runs one operator's body with a fresh [[Loop]] and returns its
    * result; the loop's checkpoints the result does not read are
    * released however the body ends. */
  def run(body: Loop => DataFrame): DataFrame = {
    val loop = new Loop
    var kept = Set.empty[Int]
    try { val out = body(loop); kept = loop.reads(out); out }
    finally loop.close(kept)
  }

  final class Loop private[Ckpt] {
    private val owned = mutable.LinkedHashMap.empty[Int, RDD[_]]
    private val cached = mutable.ArrayBuffer.empty[DataFrame]

    /** `df` persisted (memory and disk) until [[run]] returns or throws.
      * A result that reads it recomputes its plan afterwards, as an
      * unpersisted frame does. */
    def persist(df: DataFrame): DataFrame = {
      cached += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** Eagerly checkpoint `df`, observing the aggregate `changed` on the
      * plan the checkpoint runs. Returns the checkpointed frame and the
      * observed value, both from the checkpoint's one job. */
    def checkpoint(df: DataFrame, changed: Column = count(lit(1))): (DataFrame, Long) = {
      val obs = Observation()
      val c = df.observe(obs, changed.as("changed")).localCheckpoint()
      rddsOf(c).foreach(r => owned(r.id) = r)
      (c, obs.get("changed").asInstanceOf[Number].longValue)
    }

    /** Run `step(state, round)` for rounds 1, 2, … until it reports 0
      * changed rows or `maxRounds` rounds have run. `initChanged` is the
      * changed count of `init` where the caller observed one (0: `init`
      * is already a fixpoint, no round runs). Returns the last state and
      * whether it is a fixpoint; the caller throws on an unconverged
      * state where that is an error, inside [[run]]. The state may be a
      * frame or a tuple, case class or collection of frames (and plain
      * values). */
    def iterate[S](init: S, maxRounds: Int, initChanged: Long = -1L)(
        step: (S, Int) => (S, Long)): (S, Boolean) = {
      var (s, changed, round) = (init, initChanged, 0)
      while (changed != 0 && round < maxRounds) {
        round += 1
        val (next, c) = step(s, round)
        release(reads(s) -- reads(next))
        s = next; changed = c
      }
      (s, changed == 0)
    }

    /** [[iterate]] for a fixed round count: every round runs. */
    def rounds[S](init: S, n: Int)(step: (S, Int) => S): S =
      iterate(init, n)((s, round) => (step(s, round), -1L))._1

    private[Ckpt] def reads(s: Any): Set[Int] = s match {
      case d: Dataset[_] => rddsOf(d).map(_.id).toSet
      case it: Iterable[_] => it.flatMap(reads).toSet
      case p: Product => p.productIterator.flatMap(reads).toSet
      case _ => Set.empty
    }

    private def release(ids: Set[Int]): Unit =
      ids.foreach(owned.remove(_).foreach(_.unpersist(blocking = false)))

    private[Ckpt] def close(keep: Set[Int]): Unit = {
      release(owned.keySet.toSet -- keep)
      cached.foreach(_.unpersist())
    }
  }
}
