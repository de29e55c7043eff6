package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** The one iterative-loop combinator: every graft loop that repeats a
  * map → shuffle → reduce step round after round runs its rounds
  * through here, so the loop machinery exists once.
  *
  * '''Checkpoint discipline.''' State is lineage-truncated with local
  * checkpoints every round, so plans (and re-planning cost) never grow
  * with the round count. The default [[cut]] is LAZY: no job of its
  * own; the round's own action (a convergence aggregate, a peel-set
  * `count()`, the next round's scan) materializes it. That action
  * should be a FULL one: after a partial action such as `isEmpty`,
  * Spark runs an extra job to fill the partitions it skipped.
  * Loops with no per-round action ([[fixed]]) pipeline their lazy
  * rounds into the LAST round's EAGER cut ([[materialize]]): each
  * round still materializes once, and the result outlives any cache
  * the loop read. State referenced twice per round (HITS'
  * max-normalization) is cut eagerly every round, or its plan would
  * double per round.
  *
  * '''Non-convergence.''' A [[closure]] loop is only correct at its
  * fixpoint, so exhausting the cap raises one `IllegalStateException`
  * naming the loop, the cap and a loop-specific hint. A bounded
  * [[unroll]] is defined by its oracle's N-round unroll and returns
  * the N-round state; its early exit on a stable round never diverges
  * because rounds past stability are idempotent.
  *
  * '''Telemetry.''' Every job a round runs carries the job description
  * `"<loop> round <r>"`; the caller's own description is restored.
  */
object Fixpoint {

  /** Lazy lineage cut: the first full action materializes it. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Eager lineage cut: one job materializes the frame now. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Run `body` with its jobs described as `"<loop> round <round>"`. */
  private def tagged[T](loop: String, round: Int)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$loop round $round")
    try body finally sc.setJobDescription(prev)
  }

  /** Convergence test for a state whose `column` only ever decreases:
    * Σcolumn holding still means the state holds still. Each call runs
    * one aggregate — a full action, so it also materializes the
    * state's lazy cut. The first call never reports settled (no job
    * is spent on a seed sum); an empty state (null Σ) always does.
    * Decimal sum: a 100 TB graph's Σ(64-bit ids) overflows a long. */
  def sumSettles(column: String): DataFrame => Boolean = {
    var prev: java.math.BigDecimal = null
    state => {
      val s = state.agg(sum(col(column).cast("decimal(38,0)"))).head().getDecimal(0)
      val settled = s == null || (prev != null && s.compareTo(prev) == 0)
      prev = s
      settled
    }
  }

  /** Rounds until `step` reports its new state final; raises after
    * `maxRounds` rounds short of that. `done` tells whether `init`
    * already is the fixpoint (evaluated as round 0). */
  def closure[S](loop: String, maxRounds: Int, hint: => String)(
      init: S, done: => Boolean = false)(step: S => (S, Boolean)): S = {
    val (s, converged) =
      iterate(loop, maxRounds, init, tagged(loop, 0)(done))((s, _) => step(s))
    if (!converged)
      throw new IllegalStateException(
        s"$loop: no fixpoint within $maxRounds rounds — $hint")
    s
  }

  /** At most `rounds` rounds, stopping early once `step` reports a
    * stable state. */
  def unroll[S](loop: String, rounds: Int)(init: S)(
      step: S => (S, Boolean)): S =
    iterate(loop, rounds, init, done = false)((s, _) => step(s))._1

  /** Exactly `rounds` rounds with no per-round action: lazy cuts, the
    * last one eager, so the whole chain runs in the last round's job. */
  def fixed(loop: String, rounds: Int)(init: DataFrame)(
      step: DataFrame => DataFrame): DataFrame =
    iterate(loop, rounds, cut(init), done = false) { (s, r) =>
      (if (r == rounds) materialize(step(s)) else cut(step(s)), false)
    }._1

  /** Rounds r+1, r+2, … up to `maxRounds` while not `done`. */
  @annotation.tailrec
  private def iterate[S](loop: String, maxRounds: Int, s: S, done: Boolean,
      r: Int = 0)(step: (S, Int) => (S, Boolean)): (S, Boolean) =
    if (done || r >= maxRounds) (s, done)
    else {
      val (next, last) = tagged(loop, r + 1)(step(s, r + 1))
      iterate(loop, maxRounds, next, last, r + 1)(step)
    }
}
