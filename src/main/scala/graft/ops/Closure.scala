package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closure of an edge relation — the engine side of SPARQL 1.1
  * arbitrary-length property paths (`p+`/`p*`). The reference has no
  * property paths at all (its own evaluation drops BSBM Q9/Q11/Q12,
  * evaluation/README.md:9); this is net-new capability.
  *
  * Algorithm: iterated squaring — R_{k+1} = R_k ∪ (R_k ⋈ R_k) — the join
  * analogue of the pointer jumping used by
  * [[Dedup.connectedComponents]]: reachable path length doubles per
  * round, so a graph of diameter d converges in ⌈log₂ d⌉ rounds, not d.
  * 100 TB design: only (src, dst) pairs ride the loop, each round is one
  * keyed shuffle (join on dst=src) + distinct, and `localCheckpoint`
  * truncates lineage so round N's plan does not replay rounds 1..N-1.
  * The closure's SIZE is inherent to the semantics (can be O(n·depth));
  * the loop never materializes more than the closure itself.
  */
object Closure {

  /** Checkpoint `df` (through `loop`, observing its row count) AND
    * re-root it with fresh attribute ids.
    *
    * `localCheckpoint` alone keeps the child plan's exprIds, so two
    * loop-carried relations that both descend from the same checkpointed
    * edge table share ids — and `union(...).localCheckpoint` then dies in
    * `Union.rewriteConstraints` ("key not found: src#N") when
    * `LogicalRDD.fromDataset` rewrites constraints over duplicate ids.
    * `createDataFrame(df.rdd, df.schema)` cuts the Catalyst lineage with
    * FRESH ids; the checkpoint of that plain LogicalRDD (never a Union)
    * materializes eagerly and truncates the RDD lineage so round N does
    * not replay rounds 1..N-1. */
  private def pin(loop: Ckpt.Loop, df: DataFrame): (DataFrame, Long) =
    loop.checkpoint(df.sparkSession.createDataFrame(df.rdd, df.schema))

  /** All pairs (src, dst) with a directed path src →⁺ dst. Input must
    * have columns `src` and `dst`; null endpoints are dropped (an
    * unterminated hop, e.g. a hierarchy root's absent parent). Throws if
    * the fixpoint is not reached in `maxRounds` squarings — 2^32 hops is
    * beyond any real graph, so exhaustion means a data problem, not a
    * tuning problem. */
  def transitive(edges: DataFrame, maxRounds: Int = 32): DataFrame = Ckpt.run { loop =>
    val r0 = loop.checkpoint(edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val ((r, _), converged) = loop.iterate(r0, maxRounds) { case ((r, n), _) =>
      val stepped = r.as("a").join(r.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val (next, n2) = loop.checkpoint(r.union(stepped).distinct())
      ((next, n2), n2 - n) // fixpoint: no new pairs
    }
    if (!converged) sys.error(s"transitive closure did not converge in $maxRounds rounds")
    r
  }

  /** Pairs (src, dst) with a path src →⁺ dst restricted to `src ∈ seeds`
    * — frontier BFS, for SEEDED reachability (the closure subject is
    * constrained to a small start set). Work is O(reachable-from-seeds),
    * not O(full closure): [[transitive]] + post-filter would materialize
    * every ancestor chain in the graph to keep a handful; at 100× data
    * that is the difference between touching the whole graph and
    * touching one subtree. Rounds equal graph DEPTH (one keyed shuffle
    * each, frontier anti-joined against the reached set so cycles
    * terminate), vs [[transitive]]'s log-diameter squarings — the right
    * trade exactly when the seed set is selective.
    *
    * `seeds` needs a `src` column; `edges` needs `src`/`dst` (null
    * endpoints dropped, as in [[transitive]]). */
  def fromSeeds(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 10000): DataFrame =
    Ckpt.run { loop =>
      val e = pin(loop, edges.select(col("src"), col("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())._1
      // round 0: one hop out of the seed set
      val (first, n0) = pin(loop, seeds.select(col("src")).distinct().join(e, Seq("src")))
      // the reached set is the union of the per-round frontiers — DISJOINT
      // by construction (each frontier is anti-joined against all earlier
      // ones), so no distinct is needed and, critically, only each round's
      // NEW pairs are ever materialized: re-checkpointing the accumulated
      // set every round would cost O(|reached| x depth) total I/O, this
      // costs O(|closure|). The union of checkpointed leaves stays a flat
      // plan — no recursive lineage to truncate.
      val ((_, fronts), drained) = loop.iterate((first, List(first)), maxRounds, n0) {
        case ((frontier, fronts), _) =>
          val stepped = frontier.as("f").join(e.as("e"), col("f.dst") === col("e.src"))
            .select(col("f.src").as("src"), col("e.dst").as("dst")).distinct()
          // only genuinely new pairs advance — termination on cyclic graphs
          val (next, n) = pin(loop,
            stepped.join(fronts.reduce(_.union(_)), Seq("src", "dst"), "left_anti"))
          ((next, if (n == 0) fronts else next :: fronts), n)
      }
      // converged iff the frontier drained — an empty frontier after
      // maxRounds is still a fixpoint, not an error
      if (!drained) sys.error(s"seeded closure did not converge in $maxRounds rounds")
      fronts.reduce(_.union(_))
    }
}
