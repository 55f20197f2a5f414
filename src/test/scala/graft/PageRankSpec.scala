package graft

import graft.operators.{GraphOps, PageRank}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {
  import TestSpark._

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pull-topo matches the dense oracle allclose 1e-6 at convergence") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-6, maxIter = 1000)
    assert(res.converged)
    val (oracle, oIters) = TestOracles.pagerankTopo(edgeArray, vertexIds,
      tol = 1e-6)
    assert(res.iterations == oIters,
      s"engine ${res.iterations} vs oracle $oIters iterations")
    val engine = ranksOf(res.ranks)
    assert(engine.keySet == oracle.keySet)
    val maxDiff = engine.map { case (id, v) => math.abs(v - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |engine-oracle| = $maxDiff")
    // per-iteration metrics recorded (the -statFile analog)
    assert(res.metrics.length == res.iterations)
    assert(res.metrics.forall(_.edgesProcessed == web.adjacency.numEdges))
  }

  test("dangling mass is lost (reference semantics): sum(rank) < 1") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-4)
    val s = res.ranks.agg(sum("value")).first().getDouble(0)
    assert(s < 1.0 && s > 0.2, s"rank sum $s")
  }

  test("source vertices have rank (1-alpha)/N after one iteration") {
    val one = PageRank.topoFixed(web.adjacency, 1)
    val indeg = edgeArray.map(_._2).toSet
    val base = 0.15 / web.adjacency.numVertices
    ranksOf(one).foreach { case (id, v) =>
      if (!indeg.contains(id)) assert(math.abs(v - base) < 1e-15)
    }
  }

  test("push-sync converges to N x pull-topo fixpoint") {
    val push = PageRank.runPush(web.adjacency, tol = 1e-7, maxIter = 2000)
    assert(push.converged)
    val (oracle, _) = TestOracles.pagerankTopo(edgeArray, vertexIds, tol = 1e-12)
    val n = web.adjacency.numVertices.toDouble
    val engine = ranksOf(push.ranks)
    val maxDiff = engine.map { case (id, v) =>
      math.abs(v / n - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |push/N - oracle| = $maxDiff")
  }

  test("pull-residual (reference default) converges to N x pull-topo fixpoint") {
    val res = PageRank.runResidual(web.adjacency, tol = 1e-9, maxIter = 5000)
    assert(res.converged)
    val (oracle, _) = TestOracles.pagerankTopo(edgeArray, vertexIds, tol = 1e-12)
    val n = web.adjacency.numVertices.toDouble
    val engine = ranksOf(res.ranks)
    val maxDiff = engine.map { case (id, v) =>
      math.abs(v / n - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |residual/N - oracle| = $maxDiff")
    // the frontier SHRINKS as vertices converge (the point of the variant)
    assert(res.metrics.last.l1Residual < res.metrics.head.l1Residual)
  }

  test("top-k uses reference tie-break (value desc, id asc)") {
    val ranks = df(Seq((1L, 2L), (3L, 2L), (4L, 5L)))
    // build tiny state manually: ids with equal values
    import spark.implicits._
    val state = Seq((1L, 0.5), (2L, 0.5), (3L, 0.1)).toDF("id", "value")
    val top = PageRank.topK(state, 2).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("results are invariant to partitioning and block size") {
    val a = graft.operators.Adjacency.build(web.edges, blockSize = 16,
      numPartitions = 2, explicitVertices = Some(web.dict.select(col("id"))))
    val b = graft.operators.Adjacency.build(web.edges, blockSize = 1024,
      numPartitions = 7, explicitVertices = Some(web.dict.select(col("id"))))
    val ra = ranksOf(PageRank.topoFixed(a, 5))
    val rb = ranksOf(PageRank.topoFixed(b, 5))
    val maxDiff = ra.map { case (id, v) => math.abs(v - rb(id)) }.max
    assert(maxDiff <= 1e-12, s"partitioning changed results by $maxDiff")
    a.unpersist(); b.unpersist()
  }

  test("converge superstep: one exchange, no broadcast, no join side shuffled") {
    // adjacency partitions = shuffle partitions and AQE off, as the
    // benchmark runs it: the checkpointed state then stays co-partitioned
    // with the blocks from superstep to superstep
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val adj = graft.operators.Adjacency.build(web.edges, blockSize = 64,
      numPartitions = parts, explicitVertices = Some(web.dict.select(col("id"))))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val init = adj.vertices.select(col("id"),
        lit(1.0 / adj.numVertices).as("value")).localCheckpoint(true)
      val state = org.apache.spark.sql.GraftPlanBridge.checkpointCapped(
        PageRank.topoStep(adj, init, PageRank.Alpha, None))
      for (st <- Seq(init, state)) {
        val step = PageRank.topoStep(adj, st, PageRank.Alpha,
          Some(org.apache.spark.sql.Observation()))
        val plan = step.queryExecution.executedPlan
        val exchanges = plan.collect { case e: Exchange => e }
        assert(!exchanges.exists(_.isInstanceOf[BroadcastExchangeExec]), plan)
        // the one exchange is the contributions' shuffle on dst: neither
        // the state nor the cached blocks side of the join is shuffled
        val keys = exchanges.map(_.outputPartitioning).collect {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        }
        assert(keys == Seq(Seq("dst")), plan)
        step.collect()
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      adj.unpersist()
    }
  }

  test("observed metrics: missing or unexpected null throws, never reads as 0") {
    import org.apache.spark.sql.Observation
    val obs = Observation()
    df(Seq((1L, 2L))).observe(obs, sum(col("src")).as("s")).collect()
    assert(PageRank.observed(obs, "s", 1L, 0L) == 1L)
    intercept[IllegalStateException](PageRank.observed(obs, "accum", 1L, 0L))
    // sum over no rows is null: 0 only when no rows were expected
    val empty = Observation()
    df(Seq((1L, 2L))).filter(lit(false))
      .observe(empty, sum(col("src")).as("s")).collect()
    assert(PageRank.observed(empty, "s", 0L, 0L) == 0L)
    intercept[IllegalStateException](PageRank.observed(empty, "s", 5L, 0L))
  }

  test("sanity aggregates") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-4)
    val r = PageRank.sanity(res.ranks).first()
    assert(r.getDouble(0) >= r.getDouble(1)) // max >= min
    assert(r.getDouble(2) > 0)
  }
}
