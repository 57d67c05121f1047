package graft.operators

import org.apache.spark.sql.DataFrame

import graft.StateMode

/** The driver loop of the iterative families. A GridMR job is one
  * map → shuffle → reduce round, and an iterative algorithm on it is
  * a loop of such rounds: [[fixed]] runs a bounded number of them,
  * [[untilStable]] runs to a fixpoint, and [[cteChain]] writes the
  * oracle's replay of the same rounds as an unrolled DuckDB CTE chain
  * (recursive CTEs disallow aggregation in the recursive term).
  *
  * The cut rule, the one place a loop decides where lineage ends: a
  * round's state is cut ([[graft.StateMode.cut]]) when the next reader
  * references it more than once, and stays declarative when it is
  * read once. Uncut, a state read k times a round re-derives
  * k^rounds times; persisted, it still pays analysis and cache
  * substitution per reference; cut, each round plans and runs once
  * against a LogicalRDD leaf. r15 interleaved A/Bs (sf0.1, seconds
  * over 3 reps, exceptAll-parity gated; PLANS.md r15):
  * {{{
  * state read per round      cut           persist        uncut
  * k-core edges, 3×          2.4/2.2/2.3   6.2/5.8/5.6    28.8/31.0/32.2
  * k-truss survivors, 4×     2.8/1.9/2.4   11.2/3.8/4.5
  * NN-descent graph, 6×      3.9/3.5/3.2   6.2/5.6/5.8
  * HITS half-round sums, 2×  4.3/3.4/3.2   5.1/4.5/4.2    12.6
  * BFS frontier, 2×          3.7/3.9/4.0                  5.9/6.0/6.6
  * SSSP distances, 2×        3.6/3.6/3.7                  5.6/5.7/5.8
  * }}}
  * The ann_graph beam (read 2×: union, expand) cuts by the same rule.
  * The 4-round PageRank family and label propagation read their state
  * once a round, so they never cut: a per-round localCheckpoint
  * measured 5.4 s against 4.2 s for the uncut 4-round pagerank tree.
  *
  * The last round stays declarative, so the consumer's one action
  * runs it instead of an eager cut materializing it and the action
  * re-scanning the copy, unless the tail reads it more than once
  * (`cutLast`): k-truss's final support join, `neighborGraph` (read
  * once per beam hop), the beam (the final expand), and the HITS
  * half-rounds, whose cut sits inside the round. A loop's starting
  * state follows the same rule, cut by the caller with [[cut]].
  *
  * Sites that stay bespoke, and why:
  *  - `bpeTrainRun` persists each round's vocabulary through
  *    `persistScoped`, which holds every round's copy until the scope
  *    is released, and each round collects its argmax merge;
  *  - `coresetKcenter`'s pick loop and `pcaPower`'s power iteration
  *    run on the driver over collected rows (one metadata row or a
  *    Dim² Gram matrix), with no per-round DataFrame state to cut;
  *  - the Lloyd fold in `learnedCentroidsFrom`, which `ann_ivf` runs
  *    on the gated llm_dedup workload;
  *  - the non-loop cuts: `jaccardNeighbors`' input and the CC edge
  *    relations. */
private[operators] object Rounds {

  /** A round's lineage cut: [[graft.StateMode.cut]], or the identity
    * on a last round that stays declarative. */
  type Cut = DataFrame => DataFrame

  /** The eager cut of a loop's starting state (see the cut rule). */
  def cut(df: DataFrame): DataFrame = StateMode.cut(df)

  /** `n` rounds of `round(state, cut)` from `init`. `cut` is
    * [[graft.StateMode.cut]] on every round but the last, and on the
    * last one too when `cutLast`; a body that never cuts ignores it. */
  def fixed[S](n: Int, init: S, cutLast: Boolean = false)(round: (S, Cut) => S): S =
    (1 to n).foldLeft(init)((s, r) => round(s, if (r < n || cutLast) cut else identity))

  /** Rounds to a fixpoint, at most `max`: `next(state, round)` builds
    * round `round` (0-based), which is cut lazily, and
    * `settle(state, cut)` runs the round's one action, which both
    * materializes the cut and computes the convergence signal, and
    * returns (next state, stable). Returns (state, rounds run), or
    * throws IllegalArgumentException naming the loop when `max`
    * rounds pass without a stable one. */
  def untilStable[S](max: Int, name: String)(init: S)(next: (S, Int) => DataFrame)(
      settle: (S, DataFrame) => (S, Boolean)): (S, Int) = {
    @annotation.tailrec
    def loop(state: S, rounds: Int): (S, Int) = {
      require(rounds < max, s"$name: no fixpoint after $rounds rounds")
      val (s, stable) = settle(state, StateMode.cut(next(state, rounds), eager = false))
      if (stable) (s, rounds + 1) else loop(s, rounds + 1)
    }
    loop(init, 0)
  }

  /** The CTEs of rounds 1..n, comma-separated one per line: the
    * oracle's unrolled replay of a [[fixed]] loop. */
  def cteChain(n: Int)(round: Int => String): String =
    (1 to n).map(round).mkString(",\n")
}
