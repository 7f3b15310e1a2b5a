package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._

/** Task-metric totals of one job group (or of the whole run). */
final class Totals {
  @volatile var taskNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteB = 0L
  @volatile var spillB = 0L
  @volatile var jobs = 0L
  @volatile var stages = 0L
  def snapshot: (Long, Long, Long, Long, Long, Long) =
    (taskNs, gcMs, shuffleWriteB, spillB, jobs, stages)
}

/**
 * Attributes executor task metrics to the Spark job group that submitted
 * them. Attached for the whole run: untraced runs read the run-level
 * totals only; traced runs read one group per span.
 */
final class Meter(sc: SparkContext) extends SparkListener {
  val all = new Totals
  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
  private def totals(g: String): Totals = byGroup.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    all.jobs += 1; totals(group(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    all.stages += 1; totals(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val ts = Seq(all, totals(stageGroup.getOrDefault(e.stageId, "")))
      ts.foreach { t =>
        t.taskNs += m.executorRunTime * 1000000L
        t.gcMs += m.jvmGCTime
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.spillB += m.diskBytesSpilled
      }
    }
  }

  /** Totals of one group once every queued event has been delivered. */
  def of(g: String): Totals = { BusShim.drain(sc); totals(g) }
  def drained: Totals = { BusShim.drain(sc); all }
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = 0L, var rows: Long = 0L)

/** Per-name aggregate of every span instance with that name. */
final case class LayerRow(name: String, calls: Int, wallS: Double, selfS: Double,
    taskS: Double, gcS: Double, shuffleWriteMb: Double, spillMb: Double,
    rowsOut: Long, jobs: Long)

/**
 * Span recorder. Each span runs its body under a job group of its own,
 * so the [[Meter]] can attribute task metrics to it; spans stay in
 * memory until [[writeJson]]. Disabled, `span` only runs its body.
 */
final class Tracer(sc: SparkContext, meter: Meter, val runId: String,
    val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds `n` to the output row count of the innermost open span. */
  def rows(n: Long): Unit = stack.headOption.foreach(s => s.rows += n)

  private def groupOf(s: Span): String = s"$runId-span-${s.id}"
  private def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span duration minus the part of it that its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L; var cur = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { covered += b - from; cur = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def find(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def layers: Seq[LayerRow] = {
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val ts = ss.map(s => meter.of(groupOf(s)).snapshot)
      LayerRow(name, ss.size, ss.map(durS).sum, ss.map(s => selfS(s)).sum,
        ts.map(_._1).sum / 1e9, ts.map(_._2).sum / 1e3,
        ts.map(_._3).sum / 1048576.0, ts.map(_._4).sum / 1048576.0,
        ss.map(_.rows).sum, ts.map(_._5).sum)
    }.sortBy(r => find(r.name).head.startNs)
  }

  /** Human-readable per-layer table; the self times of a root span and
    * its descendants add up to the root's wall time, the root's own self
    * time being the residual no child span covers. */
  def table(): String = {
    val sb = new StringBuilder
    sb ++= f"${"span"}%-36s ${"calls"}%5s ${"wall_s"}%8s ${"self_s"}%8s ${"task_s"}%8s ${"gc_s"}%6s ${"shufW_MB"}%9s ${"spill_MB"}%9s ${"rows_out"}%10s ${"jobs"}%5s\n"
    layers.foreach { r =>
      sb ++= f"${r.name}%-36s ${r.calls}%5d ${r.wallS}%8.3f ${r.selfS}%8.3f ${r.taskS}%8.3f ${r.gcS}%6.2f ${r.shuffleWriteMb}%9.2f ${r.spillMb}%9.2f ${r.rowsOut}%10d ${r.jobs}%5d\n"
    }
    spans.filter(_.parent < 0).foreach { root =>
      val desc = descendants(root.id)
      val selfSum = (root +: desc).map(s => selfS(s)).sum
      sb ++= f"root ${root.name}: wall ${durS(root)}%.3f s = sum of self ${selfSum}%.3f s " +
        f"(residual outside child spans ${selfS(root)}%.3f s)\n"
    }
    sb.toString
  }

  private def descendants(id: Int): Seq[Span] = {
    val kids = spans.filter(_.parent == id).toSeq
    kids ++ kids.flatMap(k => descendants(k.id))
  }

  def writeJson(path: java.io.File): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = spans.map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run_id":${q(s.runId)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows_out":${s.rows}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    path.getParentFile.mkdirs()
    java.nio.file.Files.writeString(path.toPath, body)
  }
}
