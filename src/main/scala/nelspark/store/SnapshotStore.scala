package nelspark.store

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Using

/**
 * Iceberg-style snapshot layout over parquet (SURVEY.md §7.5 — no Iceberg
 * runtime jar ships in this sandbox, so the snapshot/lineage/metrics
 * semantics of the north rule are provided by a small facade; the layout
 * keeps a drop-in `writeTo` path for real Iceberg environments).
 *
 * Layout:
 *   root/<stage>/snapshot=<id>/part-*.parquet     -- stage output
 *   root/_snapshots/                              -- append-only parquet log
 *   root/_metrics/                                -- per-stage metrics
 *
 * The `_snapshots` log has the fixed schema [[SnapshotStore.LogSchema]],
 * one row per commit. Like an Iceberg manifest, the row carries the row
 * count of each data file of the snapshot (`file_rows`, in file-name
 * order); [[lineage]] explodes them into per-partition rows.
 *
 * Besides the data write (one job when the frame is already
 * materialized), a commit runs two Spark jobs:
 *   1. the next id: one narrow collect of the stage's ids from the log,
 *      read with its fixed schema, so no schema-inference job; a corrupt
 *      log fails here, before anything is written;
 *   2. the one-row log append, from local data.
 * The row counts come from the written files' parquet footers (one
 * footer read per file, outside Spark), and the returned frame is read
 * with the written frame's schema; neither runs a job.
 *
 * Resume contract: a stage snapshot is reusable iff its recorded
 * `conf` hash (pipeline config + input snapshot ids) matches the
 * requested one. `runStage` either replays the latest valid snapshot or
 * computes, commits and returns a freshly-read frame (so downstream
 * lineage is cut at the parquet boundary — plans never grow unbounded).
 */
class SnapshotStore(spark: SparkSession, root: String) {
  import SnapshotStore.LogSchema

  private def dir(parts: String*): String = (root +: parts).mkString("/")

  /** A missing path reads as absent. An existing path that cannot be
    * read throws: reading a corrupt `_snapshots` log as absent would
    * restart `commit` at id 1 and overwrite `<stage>/snapshot=1`. */
  private def readOpt(path: String, schema: Option[StructType] = None): Option[DataFrame] =
    if (new java.io.File(path).exists())
      Some(schema.fold(spark.read)(spark.read.schema).parquet(path))
    else None

  /** The _snapshots log (None when no snapshot committed yet). */
  def snapshots: Option[DataFrame] = readOpt(dir("_snapshots"), Some(LogSchema))

  def latest(stage: String, conf: String): Option[(Long, DataFrame)] =
    snapshots.flatMap { s =>
      val rows = s.filter(col("stage") === stage && col("conf") === conf)
        .orderBy(desc("snapshot_id")).limit(1).collect()
      rows.headOption.flatMap { r =>
        val id = r.getAs[Long]("snapshot_id")
        readOpt(dir(stage, s"snapshot=$id")).map(df => (id, df))
      }
    }

  /** Row count of each data file under `path`, in file-name order. The
    * files are the ones a parquet read lists: names starting with `_`
    * or `.` (`_SUCCESS`, checksums) are skipped. */
  private def fileRows(path: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter { f => val n = f.getPath.getName; !n.startsWith("_") && !n.startsWith(".") }
      .sortBy(_.getPath.getName)
      .map(f => Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf)))(
        _.getRecordCount))
  }

  /** Commit one stage output as the next snapshot; returns (id, re-read). */
  def commit(stage: String, df: DataFrame, conf: String,
      inputSnapshot: Long = -1L): (Long, DataFrame) = {
    import spark.implicits._
    val id = 1L + snapshots.fold(0L)(_.filter(col("stage") === stage)
      .select("snapshot_id").as[Long].collect().foldLeft(0L)(math.max))
    val out = dir(stage, s"snapshot=$id")
    val t0 = System.nanoTime()
    df.write.mode(SaveMode.Overwrite).parquet(out)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val rows = fileRows(out)
    Seq((id, stage, inputSnapshot, rows.sum, wallMs, conf,
        new java.sql.Timestamp(System.currentTimeMillis()), rows))
      .toDF(LogSchema.fieldNames.toIndexedSeq: _*)
      .write.mode(SaveMode.Append).parquet(dir("_snapshots"))
    (id, spark.read.schema(df.schema).parquet(out))
  }

  /** Replay-or-compute: the resumability primitive. */
  def runStage(stage: String, conf: String, inputSnapshot: Long = -1L)
      (compute: => DataFrame): (Long, DataFrame) =
    latest(stage, conf).getOrElse(commit(stage, compute, conf, inputSnapshot))

  def addMetric(stage: String, snapshotId: Long, name: String, value: Double): Unit = {
    import spark.implicits._
    Seq((stage, snapshotId, name, value))
      .toDF("stage", "snapshot_id", "name", "value")
      .write.mode(SaveMode.Append).parquet(dir("_metrics"))
  }

  def metrics: Option[DataFrame] = readOpt(dir("_metrics"))

  /** Per-partition rows of every committed snapshot: one row per data
    * file (`partition_id` = its position in file-name order). `rows_in`
    * is not tracked and reads -1. */
  def lineage: Option[DataFrame] = snapshots.map(_
    .select(col("stage"), col("snapshot_id"), col("wall_ms"),
      posexplode(col("file_rows")).as(Seq("partition_id", "rows_out")))
    .select(col("stage"), col("snapshot_id"), col("partition_id"),
      lit(-1L).as("rows_in"), col("rows_out"), col("wall_ms")))
}

object SnapshotStore {
  /** The fixed schema of the `_snapshots` log. */
  val LogSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType),
    StructField("stage", StringType),
    StructField("input_snapshot", LongType),
    StructField("row_count", LongType),
    StructField("wall_ms", LongType),
    StructField("conf", StringType),
    StructField("created_ts", TimestampType),
    StructField("file_rows", ArrayType(LongType))))
}

/** Checkpointed, resumable variant of the full pipeline DAG. */
object ResumablePipeline {
  import nelspark.pipeline._

  /** Stable config fingerprint (case-class toString is deterministic). */
  def confHash(cfg: ErConfig, extra: String = ""): String =
    java.lang.Long.toHexString(nelspark.expr.Kernels.hashString(cfg.toString + extra, 7L))

  /**
   * Runs [[nelspark.pipeline.Pipeline.stages]] with extract, mentions,
   * pairs, edges and clusters each committed as a snapshot, keyed by the
   * config hash and the previous committed stage's snapshot id; vecs and
   * scored stay lazy inside the stages that read them. A rerun over the
   * same store replays every committed stage (byte-identical outputs) and
   * recomputes only missing or config-invalidated ones. The four block
   * metrics are recorded only when pairs are computed, not replayed.
   */
  def run(spark: SparkSession, store: SnapshotStore, pages: DataFrame,
      cfg: ErConfig = ErConfig()): DataFrame = {
    val ch = confHash(cfg)
    var ids = Map.empty[String, Long] // snapshot id per committed stage
    var input = -1L                   // the last committed stage's id
    var pairsComputed = false
    val st = Pipeline.stages(pages, cfg)(new Pipeline.Boundary {
      def apply(stage: String, compute: => DataFrame): DataFrame = stage match {
        case "vecs" | "scored" => compute
        case "block_metrics" =>
          val m = compute
          if (pairsComputed) {
            val r = m.head()
            Seq("n_blocks", "n_chained", "n_purged", "max_block").foreach { n =>
              store.addMetric("pairs", ids("mentions"), n, r.getAs[Long](n).toDouble)
            }
          }
          m
        case _ =>
          val (id, df) = store.runStage(stage, ch, input) {
            if (stage == "pairs") pairsComputed = true
            compute
          }
          ids += stage -> id
          input = id
          df
      }
    })
    store.addMetric("clusters", ids("clusters"), "n_clusters",
      st.clusters.select("cluster_id").distinct().count().toDouble)
    st.clusters
  }
}
