package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import scala.util.Using

/**
 * Iceberg-style snapshot layer over Parquet — the Spark-native replacement
 * for the reference's PMDK crash-consistent pools (LC_CSR_Graph_PM.h:547-587)
 * and boost binary graph serialization (LC_CSR_Graph.h:237-319).
 *
 * Layout under `root/`:
 *   data/<algo>/step=<n>/           Parquet vertex-state snapshot
 *   snapshots/<algo>-<n>.json       manifest: superstep, path, per-partition
 *                                   lineage (rows per written part file,
 *                                   from its Parquet footer)
 *   metrics/metrics.jsonl           one line per superstep (residual,
 *                                   edges processed, millis, edges/sec)
 *
 * Commit is atomic: the Parquet write completes first, then the manifest is
 * created via write-to-temp + ATOMIC_MOVE rename — a reader (or a resumed
 * run) only ever sees fully-written snapshots. This is the lightweight
 * snapshot-manifest pattern of Iceberg without the runtime dependency
 * (none ships in /opt/spark/jars).
 */
final class SnapshotStore(val root: String, spark: SparkSession) {

  private val snapDir = Paths.get(root, "snapshots")
  private val metricsPath = Paths.get(root, "metrics", "metrics.jsonl")
  Files.createDirectories(snapDir)
  Files.createDirectories(metricsPath.getParent)

  private def dataPath(algo: String, step: Int): String =
    s"$root/data/$algo/step=$step"

  /**
   * Commit a vertex-state DataFrame at `step` with one write job. The
   * manifest's per-partition lineage is one entry per written part file
   * (the writing task's partition, its rows), read from the Parquet
   * footers on the driver rather than by a second job over the re-read
   * snapshot. Returns the snapshot re-read with `state`'s schema, which
   * truncates the iterative plan's lineage (the known iterative-DataFrame
   * pitfall, SURVEY.md §4); a caller whose state is already a checkpoint
   * can keep that instead and ignore the re-read.
   */
  def commitState(algo: String, step: Int, state: DataFrame): DataFrame = {
    val path = dataPath(algo, step)
    state.write.mode("overwrite").parquet(path)

    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val partRows = dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
      .map { f =>
        val name = f.getPath.getName
        val rows = Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromStatus(f, conf)))(_.getRecordCount)
        s"""{"partition":${name.split("-")(1).toInt},"file":"$name","rows":$rows}"""
      }.mkString("[", ",", "]")

    val manifest =
      s"""{"algo":"$algo","superstep":$step,"path":"$path","committed_at_ms":${System.currentTimeMillis()},"partition_lineage":$partRows}"""
    val tmp = Files.createTempFile(snapDir, s".$algo-$step", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir.resolve(f"$algo-$step%09d.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    spark.read.schema(state.schema).parquet(path)
  }

  /** Latest committed snapshot for `algo`, if any — the resume point. */
  def latest(algo: String): Option[(Int, DataFrame)] = {
    if (!Files.isDirectory(snapDir)) return None
    val names = Files.list(snapDir).iterator()
    var best = -1
    while (names.hasNext) {
      val n = names.next().getFileName.toString
      if (n.startsWith(s"$algo-") && n.endsWith(".json")) {
        val step = n.stripPrefix(s"$algo-").stripSuffix(".json").toInt
        if (step > best) best = step
      }
    }
    if (best < 0) None
    else Some((best, spark.read.parquet(dataPath(algo, best))))
  }

  /** Append one superstep's metrics (the reference's -statFile CSV,
    * README.md:199-202, as a queryable table). */
  def appendMetrics(algo: String, step: Int, l1Residual: Double,
      edgesProcessed: Long, millis: Long): Unit = {
    val eps = if (millis > 0) edgesProcessed * 1000.0 / millis else 0.0
    val line =
      s"""{"algo":"$algo","superstep":$step,"l1_residual":$l1Residual,"edges_processed":$edgesProcessed,"millis":$millis,"edges_per_sec":$eps}\n"""
    Files.writeString(metricsPath, line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The metrics table. */
  def metrics(): DataFrame = spark.read.json(metricsPath.toString)
}
