package graft

import org.apache.spark.sql.DataFrame

/** The one driver loop behind the iterative operators that carry
  * materialized state from round to round (connected components, the
  * hierarchy closure, k-core, SSSP, MMR, BPE merges). A step maps the
  * previous round's state and the round number (1-based) to the next
  * state. Four rules hold for every loop:
  *  - lineage is cut on `init` and on every round's state;
  *  - `untilStable` stops at the first state whose signal equals the
  *    previous round's;
  *  - a loop that reaches no fixpoint within its cap fails, never emitting
  *    a partial result;
  *  - round r's jobs carry the job description and call site
  *    `<name> round <r>` (round 0 cuts `init`), so a listener and a
  *    stage's name attribute them; both are restored after the loop.
  */
object Rounds {

  /** `init` and the state after each of `n` rounds: n + 1 states. */
  def fixed(name: String, n: Int, init: DataFrame)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    named(name, init) { round =>
      (1 to n).scanLeft(round(0)(init))((cur, r) => round(r)(step(cur, r)))
    }

  /** The first state whose `signal` equals the previous round's. */
  def untilStable[A](name: String, maxRounds: Int, init: DataFrame)(
      step: (DataFrame, Int) => DataFrame)(signal: DataFrame => A): DataFrame =
    named(name, init) { round =>
      @scala.annotation.tailrec
      def loop(cur: DataFrame, last: A, r: Int): DataFrame = {
        if (r > maxRounds) throw new IllegalStateException(
          s"$name: no fixpoint within $maxRounds rounds; refusing to emit a partial result")
        val next = round(r)(step(cur, r))
        val now = signal(next)
        if (now == last) next else loop(next, now, r + 1)
      }
      val first = round(0)(init)
      loop(first, signal(first), 1)
    }

  /** Runs `body` with `round(r)(state)`, which names the jobs that follow
    * after round r and returns `state` cut. The label is set before
    * `state` is evaluated, so a step's own eager jobs carry it too. */
  private def named[T](name: String, init: DataFrame)(
      body: (Int => (=> DataFrame) => DataFrame) => T): T = {
    val sc = init.sparkSession.sparkContext
    // what SparkContext.setJobDescription and setCallSite set
    val keys = Seq("spark.job.description", "callSite.short")
    val outer = keys.map(sc.getLocalProperty)
    // localCheckpoint (eager), not cache: a round reads the previous state
    // several times (a self-join, a union, a per-round aggregate), so an
    // uncut lineage doubles the logical plan every round. Catalyst's time
    // explodes even on tiny data (BPE at 4 rounds: 61 s with cache, ~6 s
    // with the cut) and the planner's stack overflows after ~8 self-join
    // rounds. A fault-tolerant cluster run would use checkpoint() with a
    // reliable directory; local[...] has none.
    def round(r: Int)(state: => DataFrame): DataFrame = {
      keys.foreach(sc.setLocalProperty(_, s"$name round $r"))
      state.localCheckpoint()
    }
    try body(round)
    finally keys.zip(outer).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
