package graft

import org.apache.spark.sql.Dataset

import graft.CacheScope.ScopedDataset

/** One deployment switch for the storage that backs every lineage
  * cut the library's iterative operators ship with (ADVICE r15).
  *
  * The iterative operators ship `localCheckpoint` as their measured
  * per-round state strategy. Their loops cut in one place,
  * `graft.operators.Rounds`, which states the rule for where a round
  * is cut and the measurements behind it; the non-loop cut sites are
  * `jaccardNeighbors`' input and the CC edge relations.
  * `localCheckpoint` truncates lineage with EXECUTOR-LOCAL,
  * non-reliable storage: on a static single-tenant cluster (and in
  * `local[*]` CI) that is strictly the fastest cut, but executor
  * loss or dynamic allocation makes the job unrecoverable. Every
  * shipped cut routes through [[cut]], and ONE switch re-targets
  * them all:
  *
  *   - `-Dgraft.state.mode=ckpt` (default) — eager
  *     [[graft.CacheScope.ScopedDataset.localCheckpointScoped]]:
  *     lineage cut to a LogicalRDD leaf over executor-local blocks.
  *     The measured winner at every A/B'd site (BFS, SSSP, HITS,
  *     k-core, k-truss, jaccard-neighbors, the NN-descent build —
  *     see `Rounds`, `jaccardNeighbors` and PLANS.md round 15).
  *   - `persist` — [[graft.CacheScope.ScopedDataset.persistScoped]]:
  *     no lineage truncation (plans re-grow across rounds; the
  *     pre-r15 behavior), but every block is recomputable — safe
  *     under executor churn without a checkpoint dir.
  *   - `reliable` — `Dataset.checkpoint`: the cut survives executor
  *     loss. Requires `SparkContext.setCheckpointDir` to point at
  *     durable shared storage (HDFS/S3) BEFORE the first operator
  *     runs; checkpoint files are reclaimed by Spark's context
  *     cleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
  *     is set, else they live until the dir is deleted. This is the
  *     mode for preemptible / dynamically-allocated executors.
  *     Cost note (ADVICE r16): the iterative families cut once per
  *     ROUND, so a 32–48-round loop (dedup_cluster's pointer
  *     doubling, cc_star) writes that many checkpoint directories
  *     per run — without `cleanCheckpoints` they accumulate
  *     unboundedly across runs; set it (or sweep the dir) when
  *     running iterative ops in this mode.
  *
  * The switch is read once per JVM (env `GRAFT_STATE_MODE`, overridden
  * by sysprop `graft.state.mode`) — a deployment property, not a
  * per-query one, so operators stay referentially transparent within
  * a run. It selects storage only: each operator ships exactly one
  * algorithm (the losing A/B alternatives are deleted, their numbers
  * kept in the operator's scaladoc), so this is the one switch that
  * changes how an iterative operator executes.
  */
object StateMode {

  val Ckpt = "ckpt"
  val Persist = "persist"
  val Reliable = "reliable"

  private val Allowed = Set(Ckpt, Persist, Reliable)

  /** The deployment-selected backing for shipped lineage cuts.
    *
    * `lazy` on purpose (ADVICE r16): resolved in the object
    * initializer, an invalid `GRAFT_STATE_MODE` would surface as an
    * opaque `ExceptionInInitializerError` (and `NoClassDefFoundError`
    * on every later touch of the object); deferring to first use
    * lets the IllegalArgumentException message reach the user. */
  lazy val deployment: String =
    sys.props.get("graft.state.mode")
      .orElse(sys.env.get("GRAFT_STATE_MODE"))
      .map(_.trim.toLowerCase) match {
      case Some(m) if Allowed(m) => m
      case Some(m) => throw new IllegalArgumentException(
        s"graft.state.mode must be one of ${Allowed.mkString("/")}, got '$m'")
      case None => Ckpt
    }

  /** Cuts lineage at `ds` using the deployment-selected storage.
    *
    * Call this wherever an operator materializes per-round state.
    * `eager = false` defers materialization to the first action for
    * cuts that are consumed exactly once downstream.
    *
    * Contract note (ADVICE r15): with the default eager `ckpt`
    * backing, an operator whose construction path calls this runs
    * its Spark jobs at CONSTRUCTION time — building the returned
    * DataFrame is not lazy, and its checkpoint blocks stay in the
    * active [[CacheScope]] until released (plan-only consumers,
    * e.g. audit specs, should release right after capturing). */
  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = deployment match {
    case Ckpt     => ds.localCheckpointScoped(eager)
    case Persist  => ds.persistScoped()
    case Reliable => ds.checkpoint(eager)
  }
}
