package perfbench

import graft.SparkEntry
import graft.operators._
import graft.plans.SnapshotStore
import graft.sources.{Extract, Pages, WebGraph}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The part of the pipeline one workload times, and how many passes of it
  * an untraced run times after its warm-up pass. Each part costs a fixed
  * number of Spark rounds, so a workload that timed both parts would not
  * fit the benchmark's time budget. */
final case class Workload(
    name: String,
    web: Boolean,        // html ingest, then PageRank to 1e-6
    components: Boolean, // CC, the LPA fixpoint and triangles on the link corpus
    timedPasses: Int)

object Workload {
  // input sizes, the same in every workload
  val NumPages = 2000L       // html pages: ingest and convergence
  val CorpusVertices = 8000L // vertices of the link corpus: components
  val AvgOut = 4             // its average out-degree
  /** Rows of the order table. With 300 parts and 50 suppliers every tier
    * query has a non-empty result (ktruss_4 keeps 80-140 edges), and the
    * kway_4 oracle stays near 2 s in DuckDB. */
  val Lineitems = 8000L

  val all: Map[String, Workload] = Seq(
    Workload("web", web = true, components = false, timedPasses = 2),
    Workload("components", web = false, components = true, timedPasses = 2)
  ).map(w => w.name -> w).toMap
}

/**
 * One benchmark run in a fresh JVM: set up the inputs once per pass, run a
 * warm-up pass and then the workload's timed passes of its part of the
 * pipeline, each on its own copy of the inputs, check every pass's outputs
 * against an independent reference, and write metrics (medians over the
 * timed passes), operations and spans as JSON. A traced run instead makes
 * one cold pass of both parts and the mining tier.
 *
 * Usage: Worker <workload> <seed> <seconds> <trace 0|1> <runDir> <outDir>
 */
object Worker {

  val Threads = 4
  /** Partitions of every build and shuffle. At these input sizes each
    * superstep is dominated by per-task cost, and 2 partitions ran the
    * pipeline 14% faster than 4. */
  val Partitions = 2
  /** Supersteps of the warm-up pass's PageRank. A cold pass runs about
    * 1.6 times as long as a warm one; a warm-up of the full ~55 supersteps
    * would leave room for one timed pass only. */
  val WarmupSteps = 20
  /** Fixed-iteration PageRank loops of a traced run, each one job of
    * `LoopSteps` chained supersteps; as many again run untraced. */
  val TracedLoops = 2
  val LoopSteps = 8
  /** The mining-tier queries a traced run times, in the order the engine's
    * suite runs them, `triangles` first so that the shared listing memos
    * are charged to it. Untraced runs do not run them: with a warm-up pass,
    * no workload that timed the tier fitted the time budget. A traced run
    * runs both parts of the pipeline and all of these queries, so that each
    * workload reports every layer metric. */
  val AllQueries = Seq("triangles", "kclique_5", "motif_4", "motif_5",
    "ktruss_4", "kway_4", "leiden_2level", "fsm3_path_s50")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, outDir) = args
    val w = Workload.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val run = new Run(w, seed.toLong, seconds.toDouble, trace == "1", runDir)
    try run.execute()
    catch { case e: Throwable => run.runFailure(s"run aborted: $e") }
    finally run.write(outDir)
  }
}

/** Outputs of one pass that the checks need. */
final class PassOut {
  /** load_s and compute_s of this pass */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var web: Option[(WebGraph, PageRankResult, Op)] = None
  var cc: Option[(ComponentsResult, Map[Long, Long], Long, Op)] = None
  var lpa: Option[(Map[Long, Long], Op)] = None
  var triangles: Option[(Long, Op)] = None
  var tier = Seq.empty[(String, Array[Row], StructType, Op)]
}

final class Run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
    runDir: String) {
  import Worker._

  private var spark: SparkSession = _
  val rec = new Recorder(s"${w.name}-$seed-${if (trace) "traced" else "untraced"}",
    () => spark.sparkContext)
  private val listener = new TaskListener
  /** What this run times: the workload's part, or everything when
    * traced. */
  private val (webPart, componentsPart, tier) =
    if (trace) (true, true, AllQueries) else (w.web, w.components, Nil)
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private val runFailures = mutable.ArrayBuffer.empty[String]

  def runFailure(why: String): Unit = runFailures += why

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", Partitions)
      .config("spark.default.parallelism", Partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // the mining tier runs in its own session with AQE on, as in the
      // engine's suite bench; the graph kernels run with it off
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) s.sparkContext.addSparkListener(listener)
    s
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------------- setup

  /** Seeded order table with the columns graft.sources.TpchGraph reads. */
  private def lineitem(n: Long): DataFrame = {
    def h(k: Int, mod: Long) =
      (pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(mod)) + 1L).cast("long")
    spark.range(0, n, 1, Partitions).select(
      h(1, 1500000L).as("l_orderkey"), h(2, 300L).as("l_partkey"),
      h(3, 50L).as("l_suppkey"))
  }

  /** Generate and write the inputs of the parts this run times. */
  private def setup(dir: String): Unit = {
    import Workload._
    if (webPart)
      Pages.synthesize(spark, NumPages, seed, Partitions).write.parquet(s"$dir/pages")
    if (componentsPart)
      GraphOps.clean(Pages.synthesizeEdges(spark, CorpusVertices, seed, AvgOut,
        Partitions)).write.parquet(s"$dir/edges")
    if (tier.nonEmpty) lineitem(Lineitems).write.parquet(s"$dir/lineitem.parquet")
  }

  // ------------------------------------------------------------- the pass

  private def collectRanks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  private def collectLabels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def skip(name: String, why: String): Unit =
    rec.ops += Op(name, Double.NaN, Some(s"not run: $why"))

  /** Sum of the named operations' seconds among `ops`, if every one of
    * them ran and none has failed so far. */
  private def total(ops: Seq[Op], names: String*): Option[Double] = {
    val os = ops.filter(o => names.contains(o.name))
    if (os.size == names.size && os.forall(_.failure.isEmpty)) Some(os.map(_.seconds).sum)
    else None
  }

  /** Html ingest, then PageRank to an L1 change of at most 1e-6, or for
    * `maxIter` supersteps. */
  private def webPass(in: String, i: Int, maxIter: Int, out: PassOut): Unit = {
    val pages = spark.read.parquet(s"$in/pages")
    rec.op("ingest")(WebGraph.fromPages(spark, pages, numPartitions = Partitions)) match {
      case Some((g, io)) =>
        layer("ingest_s") = io.seconds
        for ((pr, o) <- rec.op("converge")(PageRank.runTopo(g.adjacency, tol = 1e-6,
          maxIter = maxIter, store = Some(new SnapshotStore(s"$runDir/snap/web-$i", spark))))) {
          layer("converge_s") = o.seconds
          layer("pagerank.converge_eps") = pr.iterations.toDouble * g.adjacency.numEdges / o.seconds
          out.web = Some((g, pr, o))
        }
      case None => skip("converge", "ingest failed")
    }
  }

  /** Connected components, the directed LPA fixpoint and the
    * degree-oriented triangle count on the corpus. */
  private def componentsPass(in: String, i: Int, out: PassOut): Unit = {
    val edges = spark.read.parquet(s"$in/edges")
    rec.op("sym_build") {
      val sym = rec.span("graphops.symmetrize")(
        GraphOps.symmetrize(edges).localCheckpoint(true))
      (sym, rec.span("adjacency.build")(Adjacency.build(sym, numPartitions = Partitions)))
    } match {
      case Some(((sym, symAdj), so)) =>
        layer("sym_build_s") = so.seconds
        // the default 5M-edge floor keeps a graph of this size out of the
        // contraction phase; a floor of 0 runs it
        for (((res, labels), o) <- rec.op("cc") {
          val res = ConnectedComponents.run(symAdj, contractMinEdges = 0L,
            store = Some(new SnapshotStore(s"$runDir/snap/cc-$i", spark)))
          (res, collectLabels(res.components))
        }) {
          layer("cc_s") = o.seconds
          out.cc = Some((res, labels, symAdj.numEdges, o))
        }
        symAdj.unpersist()
        // the steps of the engine's triangle count, each forced and spanned
        for ((n, o) <- rec.op("triangles") {
          val oriented = rec.span("triangles.orient")(
            Triangles.orientFromSym(sym, Triangles.symDegrees(sym)).localCheckpoint(true))
          val olist = rec.span("triangles.outlists")(
            Mining.outLists(oriented).localCheckpoint(true))
          rec.span("triangles.listing")(Triangles.listingFrom(oriented, olist).count())
        }) {
          layer("triangles_s") = o.seconds
          out.triangles = Some((n, o))
        }
      case None => Seq("cc", "triangles").foreach(skip(_, "sym_build failed"))
    }
    rec.op("dir_build")(rec.span("adjacency.build")(
      Adjacency.build(edges, numPartitions = Partitions))) match {
      case Some((dirAdj, _)) =>
        for ((labels, o) <- rec.op("lpa")(
          collectLabels(LabelPropagation.runMin(dirAdj, 0)))) {
          layer("lpa_s") = o.seconds
          out.lpa = Some((labels, o))
        }
        dirAdj.unpersist()
      case None => skip("lpa", "dir_build failed")
    }
  }

  /** Pass `i` of the pipeline over the inputs in `in`; PageRank stops
    * after `maxIter` supersteps if it has not converged. */
  private def pass(in: String, i: Int, maxIter: Int): PassOut = {
    val out = new PassOut
    val first = rec.ops.size
    if (webPart) webPass(in, i, maxIter, out)
    if (componentsPart) componentsPass(in, i, out)

    // mining tier in a fresh session with AQE on; the engine's memos are
    // per session and input directory, so no pass reuses another's
    val tierSession = spark.newSession()
    tierSession.conf.set("spark.sql.adaptive.enabled", "true")
    out.tier = tier.flatMap { q =>
      rec.op(s"query.$q") {
        val df = SparkEntry.queries(q)(tierSession, in)
        (df.collect(), df.schema)
      }.map { case ((rows, schema), o) => (q, rows, schema, o) }
    }

    // load: input table to adjacency; compute: the kernels to their results
    val ops = rec.ops.drop(first).toSeq
    val (load, compute) =
      if (w.web) (total(ops, "ingest"), total(ops, "converge"))
      else (total(ops, "sym_build", "dir_build"), total(ops, "cc", "lpa", "triangles"))
    load.foreach(out.metrics("load_s") = _)
    compute.foreach(out.metrics("compute_s") = _)
    out
  }

  // --------------------------------------------------------------- checks

  /** numpy's allclose rule, |a - b| <= atol + rtol * |b|, at rtol 1e-6. */
  private def closeRanks(o: Op, what: String, got: Map[Long, Double],
      want: Map[Long, Double]): Unit =
    if (got.keySet != want.keySet)
      rec.fail(o, s"$what: vertex sets differ (${got.size} vs ${want.size})")
    else {
      val bad = want.count { case (v, b) => math.abs(got(v) - b) > 1e-12 + 1e-6 * math.abs(b) }
      if (bad > 0) rec.fail(o, s"$what: $bad of ${want.size} ranks not allclose 1e-6")
    }

  private def sameLabels(o: Op, what: String, got: Map[Long, Long],
      want: Map[Long, Long]): Unit =
    if (got != want) {
      val diff = want.count { case (v, l) => !got.get(v).contains(l) } +
        (got.keySet -- want.keySet).size
      rec.fail(o, s"$what: $diff vertices differ from the reference")
    }

  private def edgeArray(df: DataFrame): Array[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))

  private val referenceSecs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def reference[A](name: String)(f: => A): A = {
    val (r, s) = timed(rec.span(s"reference.$name")(f))
    referenceSecs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    r
  }

  /** Check the graph kernels of one pass against the references. */
  private def checkKernels(out: PassOut, in: String, maxIter: Int): Unit = {
    for ((g, r, o) <- out.web) {
      val verts = g.adjacency.vertices.collect().map(_.getLong(0))
      val es = edgeArray(g.edges)
      val (want, stop) = reference("pagerank")(References.pageRank(verts, es,
        PageRank.Alpha, 1e-6, maxIter))
      if (stop < maxIter && !r.converged) rec.fail(o, "converge: residual never reached 1e-6")
      if (r.iterations != stop)
        rec.fail(o, s"converge: ${r.iterations} supersteps, reference stops at $stop")
      closeRanks(o, "converge", collectRanks(r.ranks), want)
    }
    if (componentsPart) {
      val edges = edgeArray(spark.read.parquet(s"$in/edges"))
      for ((_, labels, _, o) <- out.cc)
        sameLabels(o, "cc", labels, reference("cc")(References.components(edges)))
      for ((labels, o) <- out.lpa)
        sameLabels(o, "lpa", labels, reference("lpa")(References.minLabels(edges)))
      for ((n, o) <- out.triangles) {
        val want = reference("triangles")(References.triangles(edges))
        if (n != want) rec.fail(o, s"triangles: counted $n, the reference $want")
      }
    }
  }

  /** Write the tier's results to parquet for the DuckDB oracle comparison
    * that run.py makes. */
  private def writeTier(out: PassOut): Unit = {
    val oracle = out.tier.map { case (q, rows, schema, _) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"$runDir/tier/$q")
      s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}"
    }
    Files.createDirectories(Paths.get(s"$runDir/tier"))
    Files.writeString(Paths.get(s"$runDir/tier/oracle_sql.json"), oracle.mkString("{", ",", "}"))
  }

  // ------------------------------------------------------------------ run

  def execute(): Unit = {
    val uptime = ManagementFactory.getRuntimeMXBean
    info("jvm_uptime_at_start_ms") = uptime.getUptime
    spark = session()
    // a fixed pass count, whatever the time budget: a count that followed
    // the budget would change with the speed of the code
    val warmups = if (trace) 0 else 1
    val dirs = (0 until (if (trace) 1 else 1 + w.timedPasses)).map(i => s"$runDir/in/$i")
    val setupSecs = dirs.map(d => timed(rec.span("setup")(setup(d)))._2)
    metrics("setup_s") = Stats.median(setupSecs)
    info("setup_samples_s") = setupSecs
    val in = dirs.last
    info("input_dir") = in
    info("budget_s") = seconds

    val passes = dirs.indices.map { i =>
      val maxIter = if (i < warmups) WarmupSteps else 1000
      val (out, s) = timed(rec.span(if (i < warmups) "pass.warmup" else "pass")(
        pass(dirs(i), i, maxIter)))
      info(s"pass${i}_s") = s
      rec.span("check")(checkKernels(out, dirs(i), maxIter))
      // the last pass's web adjacency stays cached for the traced loops
      if (i < dirs.size - 1) for ((g, _, _) <- out.web) g.adjacency.unpersist()
      out
    }
    if (tier.nonEmpty) rec.span("check")(writeTier(passes.last))
    val timedPasses = passes.drop(warmups)
    for (m <- Seq("load_s", "compute_s")) {
      val xs = timedPasses.flatMap(_.metrics.get(m))
      info(s"${m}_samples") = xs
      if (xs.size == timedPasses.size) metrics(m) = Stats.median(xs)
    }
    for ((n, xs) <- referenceSecs) layer(s"reference.${n}_s") = Stats.median(xs.toSeq)
    val out = passes.last
    for ((g, r, _) <- out.web) {
      info("web_vertices") = g.adjacency.numVertices
      info("web_edges") = g.adjacency.numEdges
      layer("pagerank.supersteps") = r.iterations.toDouble
      // one metrics row per superstep
      val stepMs = r.metrics.map(_.millis.toDouble)
      layer("pagerank.step_ms_p50") = Stats.percentile(stepMs, 0.5)
      layer("pagerank.step_ms_p80") = Stats.percentile(stepMs, 0.8)
      layer("adjacency.tiles") = g.adjacency.blocks.count().toDouble
      if (trace) pageRankLoops(g.adjacency)
    }
    for ((r, _, symEdges, _) <- out.cc) {
      info("sym_edges") = symEdges
      layer("cc.rounds") = r.iterations.toDouble
      layer("cc.round_ms_p50") = Stats.median(r.metrics.map(_.millis.toDouble))
      // the contraction adds one metrics row, under the superstep of the
      // round before it, holding the cross-cluster edges it kept
      val kept = r.metrics.sliding(2).collectFirst {
        case Seq(a, b) if a.superstep == b.superstep => b.l1Residual
      }
      layer("cc.contracted_edge_ratio") = kept.getOrElse(symEdges.toDouble) / symEdges
    }
    for ((n, _) <- out.triangles) layer("triangles.count") = n.toDouble
    info("tier_rows") = out.tier.map { case (q, rows, _, _) => q -> rows.length }.toMap
    if (trace) {
      rec.span("ingest.layers")(ingestLayers(in))
      traceLayers()
    }
    spark.stop()

    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    layer("jvm.gc_s") = gcs.map(_.getCollectionTime).sum / 1000.0
    info("jvm_gc_s") = layer("jvm.gc_s")
    layer("jvm.peak_heap_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
    snapshotLayers()
    info("jvm_uptime_at_end_ms") = uptime.getUptime
  }

  /** Fixed-iteration loops on the web adjacency with the listener attached
    * and detached in turn: their per-edge task totals, and the tracing
    * overhead as the ratio of the two medians. */
  private def pageRankLoops(adj: Adjacency): Unit = {
    val secs = Map(true -> mutable.ArrayBuffer.empty[Double],
      false -> mutable.ArrayBuffer.empty[Double])
    // one untimed loop first: it compiles the chained plan
    rec.span("pagerank.loop.warmup")(PageRank.runTopo(adj, tol = -1, maxIter = LoopSteps))
    for (i <- 0 until 2 * TracedLoops) {
      val traced = i % 2 == 0
      PerfbenchBus.drain(spark.sparkContext)
      if (!traced) spark.sparkContext.removeSparkListener(listener)
      val name = if (traced) "pagerank.loop" else "pagerank.loop.untraced"
      val (_, s) = timed(rec.span(name)(
        PageRank.runTopo(adj, tol = -1, maxIter = LoopSteps)))
      secs(traced) += s
      if (!traced) spark.sparkContext.addSparkListener(listener)
    }
    layer("trace.overhead") =
      Stats.median(secs(true).toSeq) / Stats.median(secs(false).toSeq) - 1.0
    info("loop_edges") = adj.numEdges
  }

  /** The public steps fromPages composes, each forced and spanned, so a
    * traced run can split ingest time by layer. */
  private def ingestLayers(in: String): Unit = {
    val pages = spark.read.parquet(s"$in/pages")
    val urlEdges = rec.span("sources.extract") {
      val e = WebGraph.extractEdges(spark, pages).localCheckpoint(true)
      layer("sources.url_edges") = e.count().toDouble
      e
    }
    val session = spark
    import session.implicits._
    val urls = pages.select(col("url")).as[String]
      .map(Extract.normalize(_)).toDF("url")
      .union(urlEdges.select(col("dst_url").as("url")))
    val dict = rec.span("sources.densify")(WebGraph.densify(spark, urls, Partitions))
    layer("sources.vertices") = dict.count().toDouble
    val edges = rec.span("sources.clean")(GraphOps.clean(
      urlEdges.join(dict.select(col("url").as("src_url"), col("id").as("src")), "src_url")
        .join(dict.select(col("url").as("dst_url"), col("id").as("dst")), "dst_url")
        .select(col("src"), col("dst"))).localCheckpoint(true))
    val before = cachedBytes()
    val adj = rec.span("adjacency.build")(Adjacency.build(edges,
      numPartitions = Partitions, explicitVertices = Some(dict.select(col("id")))))
    layer("adjacency.cached_bytes") = cachedBytes() - before
    adj.unpersist()
  }

  private def cachedBytes(): Double = spark.sparkContext.getRDDStorageInfo
    .map(i => (i.memSize + i.diskSize).toDouble).sum

  private def spanSeconds(name: String): Double =
    rec.spans.filter(_.name == name).map(s => (s.end - s.start) / 1000.0).sum

  /** Task totals per span, kept for spans.jsonl. */
  private var spanTotals = Map.empty[Int, Map[String, Double]]

  /** Per-layer totals from the listener. */
  private def traceLayers(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val a = new Attribution(rec, listener)
    spanTotals = rec.spans.map(s => s.id -> a.totals(s.id)).toMap
    def shuffleWrite(n: String) = a.tasksUnder(n).map(_.shuffleWrite.toDouble).sum
    val (total, unattributed) = a.jobMillis
    layer("trace.unattributed_share") = unattributed / math.max(1.0, total)
    layer("spark.spill_bytes") =
      listener.tasks.map(t => (t.memSpill + t.diskSpill).toDouble).sum
    val ck = listener.jobs.filter(j => j.end >= 0 && j.callSites.exists(c =>
      c.startsWith("localCheckpoint at") || c.startsWith("checkpointCapped at")))
    layer("checkpoint.jobs") = ck.size.toDouble
    layer("checkpoint.s") = ck.map(j => (j.end - j.submit) / 1000.0).sum
    for (n <- Seq("sources.extract", "sources.densify", "sources.clean",
        "adjacency.build", "graphops.symmetrize", "triangles.orient",
        "triangles.outlists", "triangles.listing"))
      layer(s"${n}_s") = spanSeconds(n)
    layer("pagerank.jobs") = a.jobsUnder("converge").size.toDouble
    layer("pagerank.tasks") = a.tasksUnder("converge").size.toDouble
    val loops = rec.spans.count(_.name == "pagerank.loop")
    val lt = a.tasksUnder("pagerank.loop")
    val loopEdges = info.get("loop_edges").map(_.asInstanceOf[Long].toDouble)
    layer("pagerank.shuffle_write_bytes_per_edge_step") =
      lt.map(_.shuffleWrite.toDouble).sum / (loopEdges.getOrElse(Double.NaN) * LoopSteps * loops)
    layer("pagerank.cpu_s") = lt.map(_.cpuNs / 1e9).sum
    layer("pagerank.gc_s") = lt.map(_.gcMs / 1000.0).sum
    layer("pagerank.task_skew") = a.taskSkew("pagerank.loop")
    layer("cc.shuffle_write_bytes") = shuffleWrite("cc")
    layer("lpa.jobs") = a.jobsUnder("lpa").size.toDouble
    layer("lpa.shuffle_write_bytes") = shuffleWrite("lpa")
    for (q <- AllQueries) {
      layer(s"query.${q}_s") = spanSeconds(s"query.$q")
      layer(s"query.$q.jobs") = a.jobsUnder(s"query.$q").size.toDouble
      layer(s"query.$q.shuffle_write_bytes") = shuffleWrite(s"query.$q")
    }
  }

  private def snapshotLayers(): Unit = {
    val root = Paths.get(s"$runDir/snap")
    val files: Seq[Path] =
      if (!Files.exists(root)) Nil
      else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    layer("snapshot.commits") = files.count(f =>
      f.getParent.getFileName.toString == "snapshots" && f.toString.endsWith(".json")).toDouble
    layer("snapshot.bytes") =
      files.filter(_.toString.contains("/data/")).map(Files.size(_).toDouble).sum
  }

  // --------------------------------------------------------------- output

  def write(outDir: String): Unit = {
    new File(outDir).mkdirs()
    val res = Map("workload" -> w.name, "seed" -> seed, "trace" -> trace,
      "metrics" -> metrics, "layers" -> layer,
      "ops" -> rec.ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds,
        "cpu_seconds" -> o.cpuSeconds, "failure" -> o.failure.orNull)),
      "run_failures" -> runFailures, "info" -> info)
    Files.writeString(Paths.get(s"$outDir/worker.json"), Json.of(res))
    Files.writeString(Paths.get(s"$outDir/spans.jsonl"), rec.spans.map(s =>
      Json.of(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.runId, "start_ms" -> s.start, "end_ms" -> s.end) ++
        spanTotals.getOrElse(s.id, Map.empty)))
      .mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and null. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case '\n'         => b ++= "\\n"
      case '\t'         => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    (b += '"').toString
  }

  def of(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${of(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(of).mkString("[", ",", "]")
    case other                   => str(other.toString)
  }
}
