package nelspark.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iceberg-style snapshot layout over parquet (SURVEY.md §7.5 — no Iceberg
 * runtime jar ships in this sandbox, so the snapshot/lineage/metrics
 * semantics of the north rule are provided by a small facade; the layout
 * keeps a drop-in `writeTo` path for real Iceberg environments).
 *
 * Layout:
 *   root/<stage>/snapshot=<id>/part-*.parquet     -- stage output
 *   root/_snapshots/                              -- append-only parquet log
 *   root/_lineage/                                -- per-partition rows
 *   root/_metrics/                                -- per-stage metrics
 *
 * Resume contract: a stage snapshot is reusable iff its recorded
 * `conf` hash (pipeline config + input snapshot ids) matches the
 * requested one. `runStage` either replays the latest valid snapshot or
 * computes, commits and returns a freshly-read frame (so downstream
 * lineage is cut at the parquet boundary — plans never grow unbounded).
 */
class SnapshotStore(spark: SparkSession, root: String) {

  private def dir(parts: String*): String = (root +: parts).mkString("/")

  /** A missing path reads as absent. An existing path that cannot be
    * read throws: reading a corrupt `_snapshots` log as absent would
    * restart `commit` at id 1 and overwrite `<stage>/snapshot=1`. */
  private def readOpt(path: String): Option[DataFrame] =
    if (new java.io.File(path).exists()) Some(spark.read.parquet(path)) else None

  /** The _snapshots log (None when no snapshot committed yet). */
  def snapshots: Option[DataFrame] = readOpt(dir("_snapshots"))

  def latest(stage: String, conf: String): Option[(Long, DataFrame)] =
    snapshots.flatMap { s =>
      val rows = s.filter(col("stage") === stage && col("conf") === conf)
        .orderBy(desc("snapshot_id")).limit(1).collect()
      rows.headOption.flatMap { r =>
        val id = r.getAs[Long]("snapshot_id")
        readOpt(dir(stage, s"snapshot=$id")).map(df => (id, df))
      }
    }

  /** Commit one stage output as the next snapshot; returns (id, re-read). */
  def commit(stage: String, df: DataFrame, conf: String,
      inputSnapshot: Long = -1L): (Long, DataFrame) = {
    val id = snapshots
      .map(_.filter(col("stage") === stage)
        .agg(coalesce(max("snapshot_id"), lit(0L))).head().getLong(0) + 1L)
      .getOrElse(1L)
    val out = dir(stage, s"snapshot=$id")
    val t0 = System.nanoTime()
    df.write.mode(SaveMode.Overwrite).parquet(out)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val back = spark.read.parquet(out)

    // per-partition lineage of the committed snapshot
    val lineage = back
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows_out"))
      .select(lit(stage).as("stage"), lit(id).as("snapshot_id"),
        col("partition_id"), lit(-1L).as("rows_in"), col("rows_out"),
        lit(wallMs).as("wall_ms"))
    lineage.write.mode(SaveMode.Append).parquet(dir("_lineage"))

    val rowCount = back.count()
    import spark.implicits._
    Seq((id, stage, inputSnapshot, rowCount, wallMs, conf,
        new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("snapshot_id", "stage", "input_snapshot", "row_count",
        "wall_ms", "conf", "created_ts")
      .write.mode(SaveMode.Append).parquet(dir("_snapshots"))
    (id, back)
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
  def lineage: Option[DataFrame] = readOpt(dir("_lineage"))
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
