package graft.engine

import org.apache.spark.sql.DataFrame

/** Recursive CTE execution — SURVEY.md §2.9 T6. The reference reaches
  * `WITH RECURSIVE` by delegating to DuckDB (/root/reference/main.go:229);
  * Spark has no recursive plan node, so the engine runs the standard
  * semi-naive fixpoint loop on the driver: each round joins only the NEW
  * frontier rows against the step, dedupes against everything seen, and
  * stops when the frontier is empty.
  *
  * Scale notes: each round is a distributed join + anti-join with NO
  * driver-side data movement — the only driver value is the per-round
  * count, which rides the same job that materializes the delta cache.
  * On a cluster with deep recursions, swap the per-round persist for
  * `checkpoint` on a cluster-visible dir to make rounds
  * failure-independent. Iterations are capped: recursion depth on real
  * data is bounded (path queries ~graph diameter), and an unbounded
  * loop is a correctness bug, not a feature.
  */
object Recursive {

  /** Thread name prefix Bench gives its WARM-pass workers — the only
    * threads on which the fixpoint round cap is honored.
    */
  private[graft] val WarmThreadPrefix = "graft-warm-"

  /** Warm-up fixpoint round cap, THREAD-CONFINED (r15 ADVICE): the cap
    * both truncates iteration and suppresses the non-convergence throw,
    * so a JVM-global read would let any concurrent path (a serving
    * query racing Bench's warm pass, a stray user -D flag, a caller
    * that forgot cleanup) silently receive truncated component labels
    * as if exact. It is therefore honored ONLY on threads Bench's warm
    * pool names `graft-warm-*` — no other code creates such threads, so
    * on every other thread the property is inert by construction.
    */
  private[graft] def warmFixpointCap: Option[Int] =
    if (Thread.currentThread().getName.startsWith(WarmThreadPrefix))
      sys.props.get("graft.warm.fixpointCap").flatMap(_.toIntOption)
    else None

  /** How a fixpoint materializes its state, one instance per fixpoint.
    *
    * Micro-state fast path: state estimated under the
    * broadcast-threshold-sized gate materializes as a driver-LOCAL
    * relation (collect + LocalRelation) instead of a checkpointed RDD.
    * That is the same size-class judgment every broadcast join makes —
    * this state would ride to every executor as a broadcast anyway in
    * the next round's anti-join — and it makes a micro round exactly
    * ONE job: the anti-join's build side is a LocalRelation (broadcast
    * built driver-side, no collect job), the frontier branches are
    * projections over LocalRelation, and the count is the collected
    * length. Estimates lie (filter/generator selectivity guesses), so
    * the collect is HARD-CAPPED by limit(maxMicroRows + 1): an under-
    * estimated delta falls back to the distributed path instead of
    * OOMing the driver. That path is localCheckpointWithCount (one
    * job, count ridden, origin stats carried so `except(acc)` keeps
    * auto-broadcasting small acc instead of degenerating to sort-merge
    * against a stats-less LogicalRDD; not persist — the context-shared
    * CacheManager's canonicalization lookups grow with entries and
    * plan depth, measured 3.7→13s across repeated runs).
    */
  private[engine] final class Materializer {
    private val microBytes = 8L << 20
    private val bigBytes = 64L << 20
    private val maxMicroRows = 100000
    /** All relations materialized so far were driver-local-sized. */
    var micro = true
    // Estimates lie BOTH ways: a plan estimated under microBytes can
    // collect wide rows (large strings/arrays sized at default column
    // widths) far past it. So the gate is belt-and-braces: the collect
    // is row-capped (limit), then the ACTUAL heap size of the collected
    // rows is measured, and a delta that measures over budget falls back
    // to the distributed path. The budget is CUMULATIVE (microBudget):
    // acc unions every micro delta's LocalRelation, so the cap bounds
    // total driver-held fixpoint state across rounds, not one delta.
    private var microBudget = bigBytes
    private def checkpoint(df: DataFrame): (DataFrame, Long) = {
      micro = false
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val out = org.apache.spark.sql.GraftPlans.localCheckpointWithCount(
        if (est < bigBytes) df.coalesce(1) else df)
      // every delta stays referenced by `acc` (the result is their union),
      // so none can be released in-loop — register them with the enclosing
      // query's scratch scope instead of leaving the blocks to GC timing
      org.apache.spark.sql.GraftPlans.checkpointRdd(out._1)
        .foreach(CacheOnce.deferRelease)
      out
    }
    /** `df` materialized once, with its row count. */
    def apply(df: DataFrame): (DataFrame, Long) = {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est < microBytes && microBudget > 0) {
        val rows = df.limit(maxMicroRows + 1).collect()
        val measured =
          org.apache.spark.util.SizeEstimator.estimate(
            rows.asInstanceOf[AnyRef])
        // measured > microBudget: the CUMULATIVE cap is enforced against
        // the measured size BEFORE admitting the delta, so driver-held
        // state can never overshoot the budget by a trailing delta
        if (rows.length > maxMicroRows || measured > microBytes ||
            measured > microBudget)
          checkpoint(df) // estimate lied — rows or bytes — or budget hit
        else {
          microBudget -= measured
          val local = df.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows: _*), df.schema)
          (local, rows.length.toLong)
        }
      } else checkpoint(df)
    }
  }

  /** UNION-semantics fixpoint (matches `WITH RECURSIVE … UNION`):
    * accumulated = seed ∪ step(frontier) ∪ …, all distinct; rows already
    * accumulated never re-enter the frontier (cycle-safe).
    *
    * `unroll` composes that many step applications LAZILY between
    * materializations — s₁ = step(f), s₂ = step(s₁), … — then ONE
    * `(s₁ ∪ … ∪ sᵤ) EXCEPT acc` + ONE materialization job covers u
    * logical iterations. Per-round fixed cost (job submit, AQE stage
    * scheduling) dominates deep fixpoints on all but huge frontiers, so
    * this cuts wall time ≈u×. The next frontier is the
    * whole materialized delta: new rows surfaced by early sub-steps are
    * re-expanded next round and EXCEPT discards the re-derivations —
    * correct, mildly redundant. Sub-steps are not deduplicated, so a
    * step of fan-out d reads f·dᵏ⁻¹ rows in its k-th application from
    * a frontier of f. Pick unroll > 1 when frontiers are small relative
    * to per-job overhead and the step's fan-out is known small (path
    * closures); use unroll = 1 when a single expansion is already a
    * large distributed job or the fan-out is unknown.
    *
    * CONTRACT: with unroll > 1 the frontier passed to `step` keeps plan
    * lineage, so `step` must resolve columns BY NAME (col("x"), Seq-key
    * joins) — parent-bound refs like capturedDf("x") become ambiguous
    * self-joins once capturedDf also appears inside the frontier plan.
    *
    * `materialize` may be shared with the caller, which then materializes
    * the step's inputs under the same driver-memory budget.
    */
  def fixpoint(seed: DataFrame, maxIter: Int = 100, unroll: Int = 4,
      materialize: Materializer = new Materializer)(
      step: DataFrame => DataFrame): DataFrame = {
    val (first, n0) = materialize(seed.distinct())
    var acc = first
    var frontier = first
    var iters = 0
    var converged = n0 == 0L
    // Warm-up round cap (set ONLY by Bench around its untimed warm
    // pass): the warm pass exists to compile each round's plan shapes,
    // which round 1-2 already does — the remaining rounds are pure
    // per-iteration driver latency (the measured 8.4 s dd_components
    // warm floor). A capped, unconverged result is TRUNCATED and must
    // never serve a real query — warmFixpointCap is thread-confined to
    // Bench's graft-warm-* pool, so serving/Verify threads can't see it.
    val warmCap = warmFixpointCap
    val effMaxIter = warmCap.fold(maxIter)(math.min(maxIter, _))
    while (!converged && iters < effMaxIter) {
      val u = math.max(1, math.min(unroll, effMaxIter - iters))
      // u lazy step compositions; plan depth grows linearly in u
      val chain = Iterator.iterate(step(frontier))(step).take(u).toSeq
      val chainU = chain.reduce(_ union _)
      // EXCEPT (distinct by definition); while the state is micro, the
      // union coalesces to one partition BELOW the except — CoalesceExec(1)
      // reports SinglePartition, which satisfies the distinct's and
      // anti-join's required distributions, so the round plans with no
      // exchange at all
      val pre =
        if (materialize.micro) chainU.coalesce(1).except(acc)
        else chainU.except(acc)
      val (delta, n) = materialize(pre)
      iters += u
      if (n == 0L) converged = true
      else {
        acc = acc.union(delta)
        frontier = delta
      }
    }
    if (!converged && warmCap.isEmpty) {
      // a silently truncated fixpoint is a wrong answer, not a result
      throw new IllegalStateException(
        s"Recursive.fixpoint did not converge within $maxIter iterations " +
          s"(frontier still non-empty); raise maxIter or bound the recursion")
    }
    if (!converged)
      // warm-pass truncation is intentional but must never be mistaken
      // for convergence in a log read-back
      System.err.println(s"[warm] fixpoint TRUNCATED at $iters rounds " +
        s"(cap ${warmCap.get}) — warm-pass plan compilation only, result discarded")
    acc
  }
}
