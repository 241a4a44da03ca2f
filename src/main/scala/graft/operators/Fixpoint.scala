package graft.operators

import org.apache.spark.sql.DataFrame

import graft.operators.Materialize.MaterializeOps

/** Converge-until-stable iteration over DataFrame state — the one loop
  * behind the connected-components queries (min-label propagation in
  * q24/q88/q114/q115/q141/q155, alternating stars in q90).
  *
  * Each round is exactly two jobs: the round's plan is cut once
  * (`materialized`, which truncates per-round lineage growth) and the
  * rows it still changed are counted on the driver. Iteration stops when
  * that count is zero. At [[MaxRounds]] with changes still pending the
  * state is NOT a fixpoint, so the loop throws instead of returning it as
  * if it had converged (a path longer than the cap is the canonical way
  * to get there with min-label propagation; the two-star variant needs
  * O(log d) rounds on the same graph).
  */
object Fixpoint {
  val MaxRounds = 50

  /** Iterates from `init` to a fixpoint; returns (final state, rounds).
    *
    *  - `round(state)` — one round's plan; its output is materialized;
    *  - `pending(state, out)` — the rows of the materialized output that
    *    still changed this round (counted, never collected);
    *  - `advance(out)` — the next round's state (default: `out` itself).
    */
  def apply(init: DataFrame)(
      round: DataFrame => DataFrame,
      pending: (DataFrame, DataFrame) => DataFrame,
      advance: DataFrame => DataFrame = identity): (DataFrame, Int) = {
    var state = init
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxRounds) {
      val out = round(state).materialized
      changed = pending(state, out).count()
      state = advance(out)
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"no fixpoint after $rounds rounds: $changed rows still changed " +
          "in the last round")
    (state, rounds)
  }
}
