package graft

import graft.operators._
import graft.sources.{Pages, TpchGraph, WebGraph}
import org.apache.spark.sql.SparkSession

/** Scratch profiling / demo main (not part of the driver contract).
  * Usage: runMain graft.Dev [pages|tpch] [n] */
object Dev {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("pages")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-graft")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    mode match {
      case "pages" =>
        val n = args.lift(1).map(_.toLong).getOrElse(2000L)
        var t0 = System.nanoTime()
        val pages = Pages.synthesize(spark, n, numPartitions = cpus.toInt)
        val web = WebGraph.fromPages(spark, pages, numPartitions = cpus.toInt)
        println(f"ingest: ${(System.nanoTime() - t0) / 1e9}%.1fs  " +
          f"V=${web.adjacency.numVertices} E=${web.adjacency.numEdges}")
        t0 = System.nanoTime()
        val r = PageRank.runTopo(web.adjacency, tol = 1e-6)
        val secs = (System.nanoTime() - t0) / 1e9
        val eps = r.iterations * web.adjacency.numEdges / secs
        println(f"pagerank: converged=${r.converged} iters=${r.iterations} " +
          f"${secs}%.1fs  ${eps}%.0f edges/sec/iter-agg")
        println("last 3 residuals: " +
          r.metrics.takeRight(3).map(m => f"${m.l1Residual}%.2e").mkString(", "))
        val top = PageRank.topK(r.ranks, 5).collect()
          .map(x => s"${x.getLong(0)}:${f"${x.getDouble(1)}%.6f"}").mkString(" ")
        println(s"top5: $top")
      case "buildadj" =>
        // usage: Dev buildadj <nPages> <avgOut> <path>
        val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
        val avgOut = args.lift(2).map(_.toInt).getOrElse(24)
        val path = args.lift(3).getOrElse("target/bench_adj")
        val t0 = System.nanoTime()
        val edges = graft.operators.GraphOps.clean(
          Pages.synthesizeEdges(spark, n, avgOut = avgOut, numPartitions = 64))
        val adj = Adjacency.build(edges, numPartitions = 64)
        Adjacency.save(adj, path)
        println(f"[scale] built+saved ${(System.nanoTime() - t0) / 1e9}%.1fs V=${adj.numVertices} E=${adj.numEdges} -> $path")
      case "scaleload" =>
        // usage: Dev scaleload <path> <iters> <parts>
        val path = args.lift(1).getOrElse("target/bench_adj")
        val iters = args.lift(2).map(_.toInt).getOrElse(10)
        val parts = args.lift(3).map(_.toInt).getOrElse(64)
        val adj = Adjacency.load(spark, path, numPartitions = parts)
        PageRank.topoFixed(adj, 1) // warm-up (JIT + cache fill)
        val t0 = System.nanoTime()
        PageRank.runTopo(adj, tol = -1, maxIter = iters)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale] threads=$cpus E=${adj.numEdges} iters=$iters " +
          f"secs=$secs%.1f eps=${iters * adj.numEdges / secs}%.3e")
      case "probe" =>
        import org.apache.spark.sql.functions._
        println(s"[probe] master=${spark.sparkContext.master} defaultParallelism=${spark.sparkContext.defaultParallelism} avail=${Runtime.getRuntime.availableProcessors}")
        // pure codegen (no shuffle)
        var t0 = System.nanoTime()
        for (rep <- 1 to 2) {
          t0 = System.nanoTime()
          spark.range(0, 2000000000L, 1, 64)
            .select(max(xxhash64(col("id")))).first()
          println(f"[probe] codegen-agg rep$rep: ${(System.nanoTime() - t0) / 1e9}%.1fs")
        }
        // shuffle-heavy groupBy (24M rows -> 1M keys)
        t0 = System.nanoTime()
        spark.range(0, 24000000L, 1, 64)
          .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
            col("id").cast("double").as("v"))
          .groupBy("k").agg(sum("v")).agg(count(lit(1))).first()
        println(f"[probe] shuffle-agg: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      case "mst" =>
        import spark.implicits._
        val rnd = new scala.util.Random(7)
        val n = args.lift(1).map(_.toInt).getOrElse(30)
        val es = (0 until n * 3).map { _ =>
          val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
          (math.min(a, b), math.max(a, b), (rnd.nextInt(12) + 1).toLong)
        }.filter(e => e._1 != e._2)
          .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
        val edf = es.toDF("src", "dst", "w")
        var t0 = System.nanoTime()
        val (mst, rounds) = Boruvka.run(edf)
        println(f"[mst] run: rounds=$rounds edges=${mst.count()} " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs")
        t0 = System.nanoTime()
        val fr = Boruvka.fixedRounds(edf, 5, 8).count()
        println(f"[mst] fixedRounds(5,8): $fr ${(System.nanoTime() - t0) / 1e9}%.1fs")

      case "trilist" =>
        // A/B the two triangle-listing forms over the suite graph:
        // wedge self-join (Triangles.listing) vs out-list intersection
        // (Triangles.listingFrom). usage: Dev trilist [sfDir] [reps]
        import org.apache.spark.sql.functions._
        val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val reps = args.lift(2).map(_.toInt).getOrElse(2)
        val sym = GraphOps.symmetrize(TpchGraph.edges(spark, sf))
          .localCheckpoint(true)
        val deg = Triangles.symDegrees(sym).localCheckpoint(true)
        var t0 = System.nanoTime()
        val o = Triangles.orientFromSym(sym, deg).localCheckpoint(true)
        println(f"orient: ${(System.nanoTime() - t0) / 1e9}%.2fs E=${o.count()}")
        t0 = System.nanoTime()
        val ol = Mining.outLists(o).localCheckpoint(true)
        println(f"olist build: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        for (r <- 1 to reps) {
          t0 = System.nanoTime()
          val a = Triangles.listing(o).count()
          println(f"[trilist] wedge-join rep$r: T=$a ${(System.nanoTime() - t0) / 1e9}%.2fs")
          t0 = System.nanoTime()
          val b = Triangles.listingFrom(o, ol).count()
          println(f"[trilist] intersect rep$r: T=$b ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      case "trilayout" =>
        // Does the intersection-built listing's inherited (edge-frame)
        // layout skew downstream consumers vs a (a,b,c)-hash layout?
        // Same JVM, interleaved reps. usage: Dev trilayout [sfDir] [reps]
        import org.apache.spark.sql.functions._
        val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        val sym = GraphOps.symmetrize(TpchGraph.edges(spark, sf))
          .localCheckpoint(true)
        val deg = Triangles.symDegrees(sym).localCheckpoint(true)
        val o = Triangles.orientFromSym(sym, deg).localCheckpoint(true)
        val ol = Mining.outLists(o).localCheckpoint(true)
        var t0 = System.nanoTime()
        val inherited = Triangles.listingFrom(o, ol).localCheckpoint(true)
        println(f"ckpt inherited: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        t0 = System.nanoTime()
        val hashed = Triangles.listingFrom(o, ol)
          .repartition(col("a"), col("b"), col("c")).localCheckpoint(true)
        println(f"ckpt hashed:    ${(System.nanoTime() - t0) / 1e9}%.2fs")
        def consume(tag: String, d: org.apache.spark.sql.DataFrame): Unit = {
          val t = System.nanoTime()
          val x = Mining.diamondCountFrom(d)
          println(f"[trilayout] $tag diamond=$x ${(System.nanoTime() - t) / 1e9}%.2fs")
        }
        def sizes(tag: String, d: org.apache.spark.sql.DataFrame): Unit = {
          val szs = d.rdd.mapPartitions(it => Iterator(it.size)).collect()
          println(s"[trilayout] $tag parts=${szs.length} max=${szs.max} " +
            s"min=${szs.min} avg=${szs.sum / szs.length}")
        }
        sizes("inherited", inherited); sizes("hashed", hashed)
        for (r <- 1 to reps) {
          consume(s"inherited rep$r", inherited)
          consume(s"hashed    rep$r", hashed)
        }
      case "motif5solo" =>
        import org.apache.spark.sql.functions._
        val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val sampled = TpchGraph.edges(spark, sf).filter(
          (shiftright(col("src"), 3) + lit(131L) * shiftright(col("dst"), 3))
            % 8 === 0)
        val arcs = GraphOps.symmetrize(GraphOps.clean(sampled))
          .select(col("src").as("x"), col("dst").as("y"))
          .localCheckpoint(true)
        println(s"arcs=${arcs.count()}")
        val k5 = (for { a <- 0 until 5; b <- a + 1 until 5 } yield (a, b)).toSeq
        var t0 = System.nanoTime()
        println("homCount K5 = " + Motif5.homCount(5, k5, arcs) +
          f" secs=${(System.nanoTime() - t0) / 1e9}%.1f")
        t0 = System.nanoTime()
        println("homCount K5 again = " + Motif5.homCount(5, k5, arcs) +
          f" secs=${(System.nanoTime() - t0) / 1e9}%.1f")
      case "tpch" =>
        val t0 = System.nanoTime()
        val adj = Adjacency.build(TpchGraph.edges(spark, "/root/testdata/sf0.001"),
          numPartitions = cpus.toInt)
        println(f"adj build: ${(System.nanoTime() - t0) / 1e9}%.1fs  V=${adj.numVertices} E=${adj.numEdges}")
        val r = PageRank.runTopo(adj, tol = -1, maxIter = 20)
        r.metrics.foreach(m => println(s"iter ${m.superstep}: ${m.millis} ms"))
    }
    spark.stop()
  }
}
