package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CheckpointBlocks

/** The round driver behind graft's iterative jobs (PageRank, shortest
  * paths, k-core/k-truss peeling, label propagation, HITS, connected
  * components, Lloyd k-means, beam search, BPE training). Each round
  * pins the new state with an eager `localCheckpoint` (lineage stays
  * one round deep), runs the loop's stop rule on it (at most one job;
  * fixed-round loops run none), then frees the state it replaces.
  *
  * The release goes through [[CheckpointBlocks]]: `Dataset.unpersist()`
  * is a silent no-op on a localCheckpoint'd frame, so without it every
  * superseded round stays in storage memory until the ContextCleaner
  * happens to collect it, and later queries in the same session thrash
  * on eviction (measured on dedup_clusters at sf10: 19 s → 300 s
  * run-to-run drift). `CheckpointBlocks` only recognises a bare pin,
  * so the state passed to `step` and returned is the pinned frame
  * itself, never a projection over it. The caller's initial state is
  * released after round 1 like any other, so it must not be shared
  * with anything that outlives the loop. */
object Rounds {

  /** The final (pinned) state, the rounds run, and whether the stop rule
    * ended the loop before the round cap. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Runs `step(state, round)` (rounds count from 1) until `done` holds
    * on a new state or `maxRounds` rounds have run. */
  def run(init: DataFrame, maxRounds: Long,
          done: DataFrame => Boolean = _ => false)
         (step: (DataFrame, Int) => DataFrame): Result = {
    var state = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = step(state, rounds + 1).localCheckpoint()
      converged = done(next)
      CheckpointBlocks.unpersist(state)
      state = next
      rounds += 1
    }
    Result(state, rounds, converged)
  }

  /** Stop rule for monotone loops: done once `sig` of the new state
    * equals the previous round's, the first round comparing against
    * `first`. One job per round, the signature. */
  def unchanged[T](first: T)(sig: DataFrame => T): DataFrame => Boolean = {
    var prev = first
    next => {
      val cur = sig(next)
      val same = cur == prev
      prev = cur
      same
    }
  }
}
