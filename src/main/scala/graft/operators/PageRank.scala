package graft.operators

import graft.plans.SnapshotStore
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Observation}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One superstep's runtime stats (the reference's -statFile rows). */
final case class IterMetric(superstep: Int, l1Residual: Double,
    edgesProcessed: Long, millis: Long)

final case class PageRankResult(ranks: DataFrame, iterations: Int,
    converged: Boolean, metrics: Seq[IterMetric])

/**
 * PageRank over a CSR-blocked adjacency, matching the reference's numeric
 * semantics exactly:
 *
 *  - damping ALPHA = 0.85, INIT_RESIDUAL = 1-ALPHA
 *    (PageRank-constants.h:32-33)
 *  - pull-topological recurrence `new = ALPHA * Σ_{u→v} value(u)/nout(u)
 *    + (1-ALPHA)/N`, convergence on the global L1 residual
 *    Σ|new-old| ≤ tolerance (PageRank-pull.cpp:201-281)
 *  - push-sync residual propagation: vertices with residual > tolerance
 *    flush `value += r` and scatter `r*ALPHA/outdeg` to out-neighbors;
 *    terminate when the frontier is empty (PageRank-push.cpp:103-190)
 *  - dangling vertices: NO mass redistribution — `value/nout` only where
 *    nout > 0, lost mass stays lost (PageRank-pull.cpp:155-156,241)
 *
 * A converge-mode superstep is one Catalyst job with one exchange: the
 * O(V) state joins the blocks on their shared src-partitioning, each
 * vertex emits its old value beside its contributions, and the single
 * partially-aggregated O(E)→O(V) shuffle on dst yields both the new and
 * the old value, so the L1 residual is a `Dataset.observe` on the same
 * pass. Every `checkpointEvery` supersteps the state is committed to the
 * SnapshotStore, making the run resumable mid-iteration.
 */
object PageRank {

  val Alpha = 0.85

  /** An observed metric. Null means the aggregate saw no rows, which is
    * legitimate only when `rows` is 0 (the metric is then `zero`); any
    * other null or missing metric throws instead of reading as 0 and
    * ending (or never ending) the loop. */
  private[graft] def observed[T](obs: Observation, key: String, rows: Long,
      zero: T): T = obs.get.get(key) match {
    case Some(v) if v != null => v.asInstanceOf[T]
    case Some(null) if rows == 0 => zero
    case v => throw new IllegalStateException(
      s"observation ${obs.name}: metric $key is $v")
  }

  /** Pull-topological power iteration (PageRank-pull.cpp:201-281).
    *
    * With `tol` ≥ 0 every superstep is its own job and tests the L1
    * residual, so the loop stops at exactly the reference's superstep.
    * With `tol` < 0 (fixed iterations) there is no stop test, and up to 8
    * supersteps chain lazily into one job: the serial per-job driver cost
    * (planning, action round-trip, checkpoint write) is paid once per
    * chunk, which is what caps thread scaling of short fixed loops. */
  def runTopo(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    // eager checkpoint that truncates the plan every materialization, its
    // leaf's size estimate capped: the blocks join multiplies the state's
    // inherited estimate by the blocks', so uncapped its bit length grows
    // per superstep until Catalyst's stats visitor dies in BigInteger
    // arithmetic (see GraftPlanBridge)
    def ck(df: DataFrame): DataFrame = GraftPlanBridge.checkpointCapped(df)

    // tol < 0 → fixed-iteration mode: no residual.
    val trackResidual = tol >= 0
    val n = adj.numVertices
    val metrics = ArrayBuffer.empty[IterMetric]
    val run = java.util.UUID.randomUUID()

    val resumed = if (resume) store.flatMap(_.latest("pagerank_topo")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.select(col("id"), lit(1.0 / n).as("value")))
      .localCheckpoint(true)

    var converged = false
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      val steps = if (trackResidual) 1 else math.min(8, maxIter - iter)
      var l1 = Double.NaN
      if (trackResidual) {
        val obs = Observation(s"pr_topo_${run}_$iter")
        state = ck(topoStep(adj, state, alpha, Some(obs)))
        l1 = observed(obs, "l1", n, 0.0)
      } else {
        // plan depth grows linearly: a superstep references its input once
        var cur = state
        for (_ <- 1 to steps) cur = topoStep(adj, cur, alpha, None)
        state = ck(cur)
      }

      iter += steps
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges * steps, ms)
      store.foreach(_.appendMetrics("pagerank_topo", iter, l1,
        adj.numEdges * steps, ms))
      converged = trackResidual && l1 <= tol

      // the snapshot is for resume; the loop keeps its own co-partitioned
      // checkpoint rather than the unpartitioned re-read
      if (store.nonEmpty && (iter % checkpointEvery < steps || converged))
        store.get.commitState("pagerank_topo", iter, state)
    }
    PageRankResult(state, iter, converged, metrics.toSeq)
  }

  /** One pull-topo superstep, state (id, value) → (id, value); with `l1`,
    * the L1 change Σ|value − old value| is observed on the same pass.
    *
    * The state left-joins the blocks in a shuffled hash join built on the
    * state (the hint keeps the O(V) state from being broadcast;
    * co-partitioned, neither side shuffles). Each joined row posexplodes
    * its own id at pos 0 (old value, no contribution) ahead of its
    * out-neighbours (contribution value/nout), so the one groupBy on dst
    * sums the contributions — a zero-in-degree vertex sums only its self
    * row and gets exactly base — and the max over pos-0 values recovers
    * the old value, one self row per hub tile. */
  private[graft] def topoStep(adj: Adjacency, st: DataFrame, alpha: Double,
      l1: Option[Observation]): DataFrame = {
    val next = st.hint("SHUFFLE_HASH")
      .join(adj.blocks, col("id") === col("src"), "left")
      .select(col("value"), col("deg"), posexplode(concat(array(col("id")),
        coalesce(col("dsts"), typedLit(Array.empty[Long]))))
        .as(Seq("pos", "dst")))
      .groupBy(col("dst").as("id"))
      .agg((lit((1.0 - alpha) / adj.numVertices) + lit(alpha) *
          sum(when(col("pos") > 0, col("value") / col("deg")).otherwise(0.0)))
          .as("value"),
        max(when(col("pos") === 0, col("value"))).as("prev"))
    l1.fold(next)(next.observe(_, sum(abs(col("value") - col("prev"))).as("l1")))
      .select(col("id"), col("value"))
  }

  /** Exactly `k` pull-topo iterations, no convergence check — the
    * deterministic kernel used by the SQL-oracle correctness queries. */
  def topoFixed(adj: Adjacency, k: Int, alpha: Double = Alpha): DataFrame =
    runTopo(adj, tol = -1.0, maxIter = k, alpha = alpha).ranks

  /**
   * Push-sync residual PageRank (PageRank-push.cpp:103-190). Reference
   * conventions: value starts 0, residual starts 1-ALPHA (so converged
   * values are N× the pull-topo values); a vertex enters the frontier when
   * residual > tolerance; dangling frontier vertices absorb their residual
   * into value and scatter nothing.
   */
  def runPush(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    val metrics = ArrayBuffer.empty[IterMetric]
    val resumed = if (resume) store.flatMap(_.latest("pagerank_push")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.select(col("id"), lit(0.0).as("value"),
        lit(1.0 - alpha).as("residual")))
      .localCheckpoint(true)

    var frontierSize = state.filter(col("residual") > tol).count()
    var converged = frontierSize == 0L

    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      val frontier = state.filter(col("residual") > tol)
      // scatter: delta = residual*alpha/outdeg to each out-neighbor;
      // the frontier filter is pushed below the join by Catalyst.
      val deltas = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"),
          (col("residual") * alpha / col("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      var next = state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          (when(active, lit(0.0)).otherwise(col("residual"))
            + coalesce(col("dsum"), lit(0.0))).as("residual"))
        .localCheckpoint(true)

      val row = next.agg(
        sum(when(col("residual") > tol, 1L).otherwise(0L)),
        sum(col("residual"))).first()
      frontierSize = row.getLong(0)
      val l1 = row.getDouble(1)

      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges, ms)
      store.foreach(_.appendMetrics("pagerank_push", iter, l1, adj.numEdges, ms))
      converged = frontierSize == 0L

      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        next = store.get.commitState("pagerank_push", iter, next)
      }
      state = next
    }
    PageRankResult(state.select(col("id"), col("value")), iter, converged,
      metrics.toSeq)
  }

  /**
   * Pull-residual PageRank — the reference's DEFAULT algorithm
   * (`-algo=Residual`, PageRank-pull.cpp:137-195), expressed in
   * original-graph orientation (the reference runs on the transpose, so
   * its `edges(src)` are in-edges here). Per round:
   *
   *  - activation (l.151-158): a vertex with residual > tolerance flushes
   *    `value += residual`, zeroes the residual, and — if nout > 0 —
   *    scatters `delta = residual * ALPHA / nout` to out-neighbors,
   *    counting toward the activation accumulator;
   *  - gather (l.163-178): each vertex sums incoming deltas; a POSITIVE
   *    sum OVERWRITES the residual (`residual[src] = sum`, l.175 — any
   *    sub-tolerance residue is dropped, reference semantics kept
   *    bit-for-bit);
   *  - stop when no activated vertex had out-edges (`!accum.reduce()`,
   *    l.184-187).
   *
   * Init (initNodeDataResidual, l.74-86): value = 0, residual = 1-ALPHA,
   * so converged values are N× the pull-topo values. The frontier shrinks
   * as vertices converge — on power-law web graphs most supersteps touch
   * a small fraction of V, which is why this is the reference default.
   *
   * Scale shape mirrors [[runPush]]: the frontier filter is pushed below
   * the blocks join, deltas partially aggregate map-side before the one
   * dst shuffle, and the activation count for the NEXT round rides the
   * materializing pass via `Dataset.observe` (state carries the static
   * out-degree so no extra join is needed).
   */
  def runResidual(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    val metrics = ArrayBuffer.empty[IterMetric]
    val resumed =
      if (resume) store.flatMap(_.latest("pagerank_residual")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    val outdeg = adj.blocks.groupBy("src").agg(first(col("deg")).as("odeg"))
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.join(outdeg, adj.vertices("id") === outdeg("src"), "left")
        .select(col("id"), coalesce(col("odeg"), lit(0L)).as("deg"),
          lit(0.0).as("value"), lit(1.0 - alpha).as("residual")))
      .localCheckpoint(true)

    // reference accum: this round's activations with out-edges — a
    // function of the state BEFORE the round, so each round's observe
    // yields the NEXT round's value. The reference breaks AFTER running
    // the round whose accum is 0 (that round still flushes dangling
    // activations), so the test below uses the accum of the round being
    // entered, not the one just produced.
    var nextAccum = state.filter(col("residual") > tol && col("deg") > 0)
      .count()
    var converged = false
    val run = java.util.UUID.randomUUID()

    while (!converged && iter < maxIter) {
      val thisAccum = nextAccum
      val t0 = System.nanoTime()
      val frontier = state.filter(col("residual") > tol)
      val deltas = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"),
          ((col("residual") * alpha) / adj.blocks("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      val obs = Observation(s"pr_res_${run}_$iter")
      var next = state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"), col("deg"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          when(col("dsum") > 0, col("dsum"))
            .otherwise(when(active, lit(0.0)).otherwise(col("residual")))
            .as("residual"))
        .observe(obs,
          sum(when(col("residual") > tol && col("deg") > 0, 1L)
            .otherwise(0L)).as("accum"),
          sum(col("residual")).as("res_l1"))
        .localCheckpoint(true)

      nextAccum = observed(obs, "accum", adj.numVertices, 0L)
      val l1 = observed(obs, "res_l1", adj.numVertices, 0.0)
      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges, ms)
      store.foreach(_.appendMetrics("pagerank_residual", iter, l1,
        adj.numEdges, ms))
      converged = thisAccum == 0L

      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        next = store.get.commitState("pagerank_residual", iter, next)
      }
      state = next
    }
    PageRankResult(state.select(col("id"), col("value")), iter, converged,
      metrics.toSeq)
  }

  /** Exactly `k` pull-residual rounds with tolerance 0 (active =
    * residual > 0), no stop check — the deterministic kernel for the SQL
    * oracle queries. */
  def residualFixed(adj: Adjacency, k: Int, alpha: Double = Alpha): DataFrame =
    runResidual(adj, tol = 0.0, maxIter = k, alpha = alpha).ranks

  /** Top-k report (printTop, PageRank-constants.h:78-109): rank desc,
    * ties → SMALLER id first (TopPair::operator< at :61-65 orders by
    * (value, id) and printTop reverse-iterates the map, so equal values
    * emit in descending insertion order = ascending id). */
  def topK(ranks: DataFrame, k: Int = 20): DataFrame =
    ranks.orderBy(col("value").desc, col("id").asc).limit(k)

  /** Sanity aggregates (PageRank-pull.cpp:354-379). */
  def sanity(ranks: DataFrame): DataFrame =
    ranks.agg(max(col("value")).as("max_rank"),
      min(col("value")).as("min_rank"),
      sum(col("value")).as("sum_rank"))
}
