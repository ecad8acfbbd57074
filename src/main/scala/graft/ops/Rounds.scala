package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, udf}

/** The round loop of the iterative operators
  * ([[Dedup.connectedComponents]], the [[Graph]] family) and their
  * round-state partition sizing.
  *
  * The iteratives exchange a node-sized state frame every round
  * (labels, ranks, frontiers) and localCheckpoint it to keep lineage
  * flat. At test scale the default `spark.sql.shuffle.partitions`
  * is fine; in the growing-domain regime (the pencil's measured
  * 0.2–1.6 GB/round at 1000×) the round exchanges and the
  * checkpointed blocks should be sized to ~128 MB per partition —
  * `partitions ≈ round-state bytes / 128 MB` — so no single task
  * carries an outsized block and the per-round shuffle fans out
  * across the cluster instead of funneling through a handful of
  * reducers. The session conf `spark.graft.round.partitions` is the
  * one switch for every iterative op; unset keeps current behavior.
  *
  * When active, the round-state frame is hash-repartitioned on its
  * key before each materialization, so the checkpointed state AND the
  * next round's join exchange inherit the requested width (a cached
  * edge frame partitioned on its join key is likewise exchanged once,
  * not per round). Exact-arithmetic rounds (component min-labels, BFS
  * min-dists, k-core peels — all longs) are identical under any
  * partitioning; the float-summing iteratives (PageRank, HITS) can
  * move in the last ulp exactly as they would under any change of
  * cluster width — the same caveat `spark.sql.shuffle.partitions`
  * already carries.
  */
object Rounds {

  /** Session conf key: positive int; unset (default) = leave every
    * iterative op's partitioning to `spark.sql.shuffle.partitions`. */
  val PartitionsKey = "spark.graft.round.partitions"

  /** The active round-partition count from the session conf, or None
    * (current behavior). Non-positive values throw, matching the
    * non-numeric path — silence is reserved for the UNSET case only, so
    * a typo'd `0` can't silently disable the knob (r20 ADVICE). */
  def resolve(spark: SparkSession): Option[Int] = {
    val v = spark.conf.getOption(PartitionsKey).map { s =>
      try s.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$PartitionsKey must be a positive int, got '$s'")
      }
    }
    v.foreach(p => require(p > 0, s"$PartitionsKey must be a positive int, got $p"))
    v
  }

  /** Hash-repartition a round-state frame on its key — its FIRST column,
    * the convention every iterative state follows — iff the knob is
    * active. */
  def shape(df: DataFrame): DataFrame =
    resolve(df.sparkSession).map(p => df.repartition(p, col(df.columns.head)))
      .getOrElse(df)

  /** The stop-on-no-change test of [[iterate]]. Each materialization
    * counts the output rows where `counted` holds; the loop stops after
    * the first round the test calls unchanged. */
  sealed abstract class Until(private[ops] val counted: Column) {
    private[ops] def unchanged(count: Long, previous: Long): Boolean
  }

  /** Stop once no output row satisfies `changed` (component labels:
    * a round where no label shrank is a fixpoint). The step may return
    * extra columns for `changed` to read; the state keeps the initial
    * frame's columns. */
  final case class NoneChanged(changed: Column) extends Until(changed) {
    private[ops] def unchanged(count: Long, previous: Long): Boolean = count == 0L
  }

  /** Stop once a round keeps every row of its input — for shrink-only
    * states (k-core peels), where a round that drops nothing makes
    * every later round an identity. The initial frame is materialized
    * and counted first, so round 1 can stop too. */
  case object NoneDropped extends Until(lit(true)) {
    private[ops] def unchanged(count: Long, previous: Long): Boolean = count == previous
  }

  /** Run `step` for up to `maxRounds` rounds from `init` and return the
    * last state. Every `every`-th round's output is [[shape]]d and
    * EAGERLY localCheckpointed: a state frame is typically read twice
    * per round (a PageRank round's dangling aggregate and contribution
    * join, a CC round's self-join), so an un-materialized round doubles
    * its predecessor's recompute — 2^k nesting by round k, the classic
    * iterative-DataFrame trap — and its logical plan nests every
    * earlier round, so analysis cost and driver memory grow with the
    * round count. Checkpointing truncates the lineage to the
    * materialized blocks; superseded checkpoints are reclaimed by the
    * ContextCleaner once unreferenced. `every > 1` is only for states
    * where a lazy round is cheaper than a state-frame write.
    *
    * `until` adds a stop marker that costs no extra job: a
    * nondeterministic pass-through filter at the ROOT of the checkpoint
    * plan (above the shape exchange) counts the marked rows into an
    * accumulator while the checkpoint materializes. At the root it runs
    * in the result stage, where accumulator updates are exactly-once —
    * the [[NoneDropped]] equality test needs that (a retried task
    * would inflate the count), the [[NoneChanged]] zero test would
    * survive any stage position. Nondeterminism keeps the optimizer from
    * duplicating, reordering or constant-folding the side effect. The
    * test reads the count of each materialized round only, so with
    * `every > 1` it compares checkpoints. Stopping early returns the
    * same state as running all `maxRounds` as long as the test only
    * fires on a fixpoint — for [[NoneChanged]], `changed` must flag
    * every row that differs from its input. */
  def iterate(init: DataFrame, maxRounds: Int, every: Int = 1,
      until: Option[Until] = None)(step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    require(every >= 1, s"checkpoint cadence must be >= 1, got $every")
    val sc = init.sparkSession.sparkContext
    val stateCols = init.columns.map(c => col(s"`$c`"))
    def materialize(df: DataFrame): (DataFrame, Long) = until match {
      case None => (df.localCheckpoint(eager = true), 0L)
      case Some(u) =>
        val acc = sc.longAccumulator("graft.rounds.marked")
        val mark = udf((b: java.lang.Boolean) => {
          if (b != null && b.booleanValue) acc.add(1L)
          true
        }).asNondeterministic()
        val cp = df.filter(mark(u.counted)).select(stateCols: _*)
          .localCheckpoint(eager = true)
        (cp, acc.value)
    }
    var (state, count) =
      if (until.contains(NoneDropped)) materialize(init) else (init, -1L)
    var round = 1
    var stop = false
    while (!stop && round <= maxRounds) {
      val next = step(state)
      if (round % every == 0) {
        val (cp, c) = materialize(shape(next))
        stop = until.exists(_.unchanged(c, count))
        state = cp
        count = c
      } else state = next
      round += 1
    }
    state
  }
}
