package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline.{ErConfig, Pipeline}
import nelspark.store.{ResumablePipeline, SnapshotStore}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** North-rule resumability: snapshot commit/replay, lineage + metrics
  * tables, identical clusters across resume (SURVEY.md §5.4). */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("nelspark-store").toString

  test("stage snapshots replay instead of recompute; clusters identical across resume") {
    val root = tmpRoot()
    val store = new SnapshotStore(spark, root)
    val gen = CorpusGen.generate(spark, 600L, 120L).cache()
    val pages = CorpusGen.pages(gen)
    val run1 = ResumablePipeline.run(spark, store, pages)
      .as[(Long, Long)].collect().sorted.toSeq

    // all five stages committed exactly once
    val snaps = store.snapshots.get.select("stage", "snapshot_id")
      .as[(String, Long)].collect().toMap
    assert(snaps.keySet == Set("extract", "mentions", "pairs", "edges", "clusters"))
    assert(snaps.values.forall(_ == 1L))

    // resume: no new snapshots, identical output
    val run2 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run2 == run1)
    assert(store.snapshots.get.count() == 5L)

    // partial resume: clusters+edges dropped -> only they recompute
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/clusters")).deleteRecursively()
    new Directory(new java.io.File(s"$root/edges")).deleteRecursively()
    val run3 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run3 == run1)
    val after = store.snapshots.get.groupBy("stage").agg(max("snapshot_id").as("m"))
      .as[(String, Long)].collect().toMap
    assert(after("extract") == 1L && after("mentions") == 1L && after("pairs") == 1L)
    assert(after("edges") == 2L && after("clusters") == 2L)

    // batch and resumable wire the same DAG: same clusters
    def digest(a: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = a.agg(count(lit(1)), expr("bit_xor(xxhash64(mention_id, cluster_id))")).head()
      (r.getLong(0), r.getLong(1))
    }
    val batch = Pipeline.run(spark, pages, CorpusGen.gold(gen)).assignments
    assert(digest(batch) == digest(run1.toDF("mention_id", "cluster_id")))
  }

  test("config change invalidates snapshots (conf-hash keyed)") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
    ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages,
      ErConfig(tau = 0.8))
    val store = new SnapshotStore(spark, root)
    // second config committed its own snapshots
    assert(store.snapshots.get.select("conf").distinct().count() == 2L)
  }

  test("a corrupt _snapshots log fails commit loudly and leaves snapshot=1 intact") {
    val root = tmpRoot()
    val store = new SnapshotStore(spark, root)
    store.commit("stage", Seq(1L, 2L, 3L).toDF("x"), "c")
    val snap = new File(s"$root/stage/snapshot=1")
    def digest(dir: File): Map[String, String] =
      dir.listFiles().map { f =>
        f.getName -> java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      }.toMap
    val before = digest(snap)

    val log = new File(s"$root/_snapshots").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(log.nonEmpty)
    log.foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))

    intercept[Exception] { store.commit("stage", Seq(4L).toDF("x"), "c") }
    assert(digest(snap) == before, "snapshot=1 must not be overwritten")
  }

  test("lineage and metrics tables are populated") {
    val root = tmpRoot()
    val store = new SnapshotStore(spark, root)
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    ResumablePipeline.run(spark, store, CorpusGen.pages(gen))
    val lin = store.lineage.get
    assert(lin.columns.toSet ==
      Set("stage", "snapshot_id", "partition_id", "rows_in", "rows_out", "wall_ms"))
    assert(lin.filter(col("stage") === "mentions").agg(sum("rows_out")).head().getLong(0) > 0)
    val met = store.metrics.get
    assert(met.filter(col("name") === "n_clusters").count() == 1L)
    assert(met.filter(col("stage") === "pairs").count() >= 4L)

    // every snapshot: lineage rows, the log's row_count and the data agree
    val (id, back) = store.commit("direct", Seq(1L, 2L, 3L).toDF("x").repartition(2), "c")
    val rowsOut = lin.unionByName(store.lineage.get.filter(col("stage") === "direct"))
      .groupBy("stage", "snapshot_id").agg(sum("rows_out").as("rows_out"))
    val logged = store.snapshots.get
      .join(rowsOut, Seq("stage", "snapshot_id"), "left")
      .select("stage", "snapshot_id", "row_count", "rows_out")
      .as[(String, Long, Long, Option[Long])].collect()
    assert(logged.length == 6)
    logged.foreach { case (stage, sid, rowCount, out) =>
      val reread = spark.read.parquet(s"$root/$stage/snapshot=$sid").count()
      assert(out.contains(rowCount) && rowCount == reread,
        s"$stage/$sid: lineage $out, row_count $rowCount, re-read $reread")
    }
    assert(id == 1L && back.count() == 3L)
  }
}
