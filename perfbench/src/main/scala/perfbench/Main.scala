package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness for the ER engine, one workload per JVM:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --work <dir> --out <result.json>
 *
 * Untraced runs set the inputs up five times (setup_s is the median),
 * run one warm-up unit, then time units until `--seconds` have passed.
 * A traced run sets up once, repeats the untraced loop, then runs one
 * more unit with a span per layer call, the blocking-quality counters
 * and the kernel probes; it prints the per-layer table and writes the
 * spans as JSON next to the result.
 */
object Main {
  private val SetUps = 5

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, out: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--work")), new File(need("--out")))
  }

  /** The engine's session settings (nelspark.Main.session) on at most
    * four local cores, with scratch space inside the work directory. */
  def session(work: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("nelspark-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private val Spans = Seq("gen.CorpusGen", "pipeline.Extract", "pipeline.Mentions",
    "pipeline.Block.keys", "pipeline.Block.pairs", "pipeline.Tfidf", "pipeline.Score",
    "pipeline.Score.edges", "pipeline.Cluster", "pipeline.Evaluate",
    "store.SnapshotStore.commit", "store.ResumablePipeline.replay",
    "streaming.Incremental.processBatch")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.work)
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    val tr = new Tracer(spark.sparkContext, meter, s"${o.workload}-seed${o.seed}", o.trace)
    val w = Workload.byName(o.workload, Ctx(spark, meter, tr, o.work, o.seed))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    val setupS = (1 to (if (o.trace) 1 else SetUps)).map { _ =>
      val t0 = System.nanoTime(); w.setUp(); (System.nanoTime() - t0) / 1e9
    }
    val warm = w.warmUp()
    val samples = mutable.ArrayBuffer.empty[Sample]
    val run0 = meter.drained.snapshot
    val t0 = System.nanoTime()
    while (samples.isEmpty || (w.hasNext && System.nanoTime() - t0 < o.seconds * 1000000000L))
      samples += w.unit()
    val run1 = meter.drained.snapshot

    val units = warm +: samples.toSeq
    units.zipWithIndex.foreach { case (u, i) => check(s"unit $i outputs", u.ok) }
    val sums = units.flatMap(_.checksum).distinct
    check(s"assignment checksum identical across units (${sums.mkString(",")})", sums.size <= 1)

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) {
      val t = w.tracedUnit()
      t.f1.foreach(f => check("traced unit f1", f >= Workload.F1Gate))
      t.checksum.foreach(c => check("traced unit checksum equals the untraced units'",
        sums.forall(_ == c)))
      metrics ++= t.counters
      metrics ++= Probes.kernels(w.corpus.pages, w.cfg)
    }
    val (finalF1, finalChecks) = w.finalChecks()
    finalChecks.foreach { case (what, ok) => check(s"final state: $what", ok) }

    val secs = samples.map(_.seconds).toSeq
    val pipelineS = median(secs)
    val f1 = finalF1.getOrElse(median(units.flatMap(_.f1)))
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> median(setupS),
      "pipeline_s" -> pipelineS,
      "docs_per_s" -> median(samples.map(s => s.pages / s.seconds).toSeq),
      "task_s" -> median(samples.map(_.taskS).toSeq),
      "f1" -> f1,
      "peak_rss_mb" -> peakRssMb())

    if (o.trace) {
      val rows = tr.layers.map(r => r.name -> r).toMap
      Spans.foreach { n =>
        rows.get(n).foreach { r =>
          metrics ++= Seq(s"$n.self_s" -> r.selfS, s"$n.task_s" -> r.taskS,
            s"$n.gc_s" -> r.gcS, s"$n.shuffle_write_mb" -> r.shuffleWriteMb,
            s"$n.spill_mb" -> r.spillMb, s"$n.rows_out" -> r.rowsOut.toDouble,
            s"$n.jobs" -> r.jobs.toDouble)
        }
      }
      val root = tr.find("run").head
      val tracedTotal = (root.endNs - root.startNs) / 1e9
      def extra(k: String) = units.flatMap(_.extra.get(k)) match {
        case Seq() => 0.0
        case xs => median(xs)
      }
      metrics ++= Seq(
        "run.spark_jobs" -> (run1._5 - run0._5).toDouble / samples.size,
        "run.spark_stages" -> (run1._6 - run0._6).toDouble / samples.size,
        "run.batch_s_p50" -> pipelineS,
        "run.batch_s_max" -> secs.max,
        "run.batches" -> samples.size.toDouble,
        "run.warmup_s" -> warm.seconds,
        "run.replay_s" -> extra("replay_s"),
        "run.store_bytes_per_input_byte" -> extra("store_bytes_per_input_byte"),
        "run.traced_total_s" -> tracedTotal,
        "run.residual_s" -> tr.selfS(root),
        "run.trace_overhead_s" -> (tracedTotal - pipelineS))
      println(s"== ${o.workload} seed ${o.seed}: per-layer table of the traced unit")
      print(tr.table())
      println(f"tracing overhead: traced ${tracedTotal}%.3f s - untraced ${pipelineS}%.3f s = ${tracedTotal - pipelineS}%.3f s")
      tr.writeJson(new File(o.out.getParentFile, s"spans-${o.workload}-seed${o.seed}.json"))
    }
    println(s"== ${o.workload} seed ${o.seed}: ${samples.size} timed units " +
      s"(${secs.map(s => f"$s%.2f").mkString(" ")} s), warm-up ${"%.2f".format(warm.seconds)} s, " +
      s"set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    units.flatMap(_.extra).groupBy(_._1).foreach { case (k, kv) =>
      println(f"$k%s: ${median(kv.map(_._2))}%.4f (median of ${kv.size})")
    }
    failures.foreach(f => println(s"CHECK FAILED: $f"))

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":${failures.size},""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(metrics)}}"""
    java.nio.file.Files.writeString(o.out.toPath, json)
    spark.stop()
  }

}
