package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import nelspark.gen.CorpusGen
import nelspark.pipeline._
import nelspark.store.{ResumablePipeline, SnapshotStore}
import nelspark.streaming.Incremental

final case class Ctx(spark: SparkSession, meter: Meter, tracer: Tracer,
    work: File, seed: Long)

/** One timed unit of work and the outcome of its output checks. */
final case class Sample(seconds: Double, taskS: Double, pages: Long,
    f1: Option[Double], checksum: Option[Long], ok: Boolean,
    extra: Map[String, Double] = Map.empty)

/** Counters measured at the traced unit's stage boundaries, and the
  * outputs its checks need. */
final case class Traced(counters: Map[String, Double], f1: Option[Double] = None,
    checksum: Option[Long] = None)

/** A workload: its corpus built in `setUp`, then timed units until the
  * run's time is spent. `tracedUnit` repeats one unit with a span per
  * layer call and returns the domain counters measured at its boundaries. */
abstract class Workload(val ctx: Ctx, val corpus: Corpus, val cfg: ErConfig) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tracer
  final def setUp(): Unit = corpus.build()
  def unit(): Sample
  /** Untimed, checked unit after set-up: codegen and JIT warm-up. */
  def warmUp(): Sample = unit()
  def hasNext: Boolean = true
  /** F1 and named checks over what the timed units left behind. */
  def finalChecks(): (Option[Double], Seq[(String, Boolean)]) = (None, Nil)
  def tracedUnit(): Traced

  /** Runs `body` and returns its result, wall seconds and task seconds. */
  protected def timed[T](body: => T): (T, Double, Double) = {
    val task0 = ctx.meter.drained.taskNs
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    (r, dt, (ctx.meter.drained.taskNs - task0) / 1e9)
  }

  /** Persist plus one action: later stages read the materialized frame,
    * so each traced stage is charged for its own work only. */
  protected def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    tr.rows(p.count())
    p
  }
}

object Workload {
  val F1Gate = 0.99

  /** Order-independent assignment checksum. */
  def checksum(assign: DataFrame): Long = {
    val r = assign.agg(expr("bit_xor(xxhash64(mention_id, cluster_id))")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def f1(mentions: DataFrame, gold: DataFrame, assign: DataFrame): Double =
    Evaluate.pairwiseF1(
      Evaluate.labeledPairs(Evaluate.labeledMentions(mentions, gold)), assign)
      .head().getAs[Double]("f1")

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }

  def byName(name: String, ctx: Ctx): Workload = name match {
    case "er_batch_hot" =>
      new BatchWorkload(ctx, Corpus(ctx, 2400, 480, hotFrac = 0.5, hotEntities = 3),
        ErConfig(ccLocalMax = 0L))
    case "er_incremental" =>
      new IncrementalWorkload(ctx, Corpus(ctx, 2000, 400, hotFrac = 0.0), base = 1500, batch = 100)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** A corpus regenerated from the run's seed on every set-up, written as
  * parquet pages and gold tables and read back from there. */
final case class Corpus(ctx: Ctx, nPages: Long, nEntities: Long,
    hotFrac: Double, hotEntities: Int = 1) {
  private val dir = new File(ctx.work, "corpus")
  private def path(t: String) = new File(dir, t).getPath

  def build(): Unit = ctx.tracer.span("gen.CorpusGen") {
    val g = CorpusGen.generate(ctx.spark, nPages, nEntities, ctx.seed, hotFrac,
      hotEntities).cache()
    CorpusGen.pages(g).write.mode("overwrite").parquet(path("pages"))
    CorpusGen.gold(g).write.mode("overwrite").parquet(path("gold"))
    g.unpersist()
    ctx.tracer.rows(nPages)
  }

  def pagesDir: String = path("pages")
  def pages: DataFrame = ctx.spark.read.parquet(pagesDir)
  def gold: DataFrame = ctx.spark.read.parquet(path("gold"))

  /** Pages whose generator index lies in [lo, hi). */
  def pagesIn(lo: Long, hi: Long): DataFrame = {
    val i = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
    pages.filter(i >= lo && i < hi)
  }
}

/** `Pipeline.run` over one corpus; each unit is a full run plus its F1. */
final class BatchWorkload(ctx: Ctx, corpus: Corpus, cfg: ErConfig)
    extends Workload(ctx, corpus, cfg) {
  def unit(): Sample = {
    val (r, dt, task) = timed {
      val r = Pipeline.run(spark, corpus.pages, corpus.gold, cfg)
      (r, r.f1.head().getAs[Double]("f1"))
    }
    val ck = Workload.checksum(r._1.assignments)
    spark.catalog.clearCache()
    Sample(dt, task, corpus.nPages, Some(r._2), Some(ck), r._2 >= Workload.F1Gate)
  }

  def tracedUnit(): Traced = {
    val gold = corpus.gold
    val (mentions, pairs, blockM, scored, edges, assign, f1) = tr.span("run") {
      val extracted = tr.span("pipeline.Extract") { materialize(Extract(corpus.pages)) }
      val mentions = tr.span("pipeline.Mentions") { materialize(Mentions(extracted, cfg)) }
      val keys = tr.span("pipeline.Block.keys") { materialize(Block.keys(mentions, cfg)) }
      val (pairs, blockM) = tr.span("pipeline.Block.pairs") {
        val (p, m) = Block.pairs(keys, mentions, cfg)
        (materialize(p), m.head())
      }
      val vecs = tr.span("pipeline.Tfidf") {
        materialize(Tfidf.pageVectors(extracted, cfg.ctxTopK))
      }
      val scored = tr.span("pipeline.Score") { materialize(Score(pairs, mentions, vecs, cfg)) }
      val edges = tr.span("pipeline.Score.edges") { materialize(Score.edges(scored, cfg)) }
      val assign = tr.span("pipeline.Cluster") {
        materialize(Cluster.connectedComponents(edges, mentions.select("mention_id"), cfg))
      }
      val f1 = tr.span("pipeline.Evaluate") { Workload.f1(mentions, gold, assign) }
      (mentions, pairs, blockM, scored, edges, assign, f1)
    }
    // counters, measured outside the spans at the stage boundaries above
    val nCand = pairs.count().toDouble
    val nScored = scored.count().toDouble
    val nEdges = edges.count().toDouble
    val nMentions = mentions.count().toDouble
    val truth = Evaluate.labeledPairs(Evaluate.labeledMentions(mentions, gold))
      .filter(col("is_match")).select("a_id", "b_id")
    val nTrue = truth.count().toDouble
    val found = truth.join(pairs.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_semi")
      .count().toDouble
    val counters = Map(
      "pipeline.Block.pairs.candidate_pairs" -> nCand,
      "pipeline.Block.pairs.max_block" -> blockM.getAs[Long]("max_block").toDouble,
      "pipeline.Block.pairs.n_chained" -> blockM.getAs[Long]("n_chained").toDouble,
      "pipeline.Block.pairs.n_purged" -> blockM.getAs[Long]("n_purged").toDouble,
      "pipeline.Block.pairs.true_match_pairs" -> nTrue,
      "pipeline.Block.pairs.pair_completeness" -> found / math.max(nTrue, 1.0),
      "pipeline.Block.pairs.mentions" -> nMentions,
      "pipeline.Block.pairs.reduction_ratio" ->
        (1.0 - nCand / math.max(nMentions * (nMentions - 1) / 2, 1.0)),
      "pipeline.Score.survivor_frac" -> nScored / math.max(nCand, 1.0),
      "pipeline.Score.edge_frac" -> nEdges / math.max(nScored, 1.0),
      "pipeline.Cluster.edges_in" -> nEdges,
      "pipeline.Cluster.clusters_out" ->
        assign.select("cluster_id").distinct().count().toDouble)
    val ck = Workload.checksum(assign)
    spark.catalog.clearCache()
    Traced(counters, Some(f1), Some(ck))
  }
}

/**
 * A stream bootstrapped by the resumable batch pipeline. The base corpus
 * goes through `ResumablePipeline.run` into an empty store (cold), a
 * restart replays it from the complete store, and the committed
 * snapshots become the `Incremental` state. Timed units are then
 * micro-batches much smaller than that state; after each, the four
 * state frames are committed to the store and re-read, as a production
 * loop does. The re-read also cuts the state's lineage, which otherwise
 * grows with every batch.
 */
final class IncrementalWorkload(ctx: Ctx, corpus: Corpus, base: Long, batch: Long)
    extends Workload(ctx, corpus, ErConfig()) {
  // one batch beyond the timed ones is kept for the traced unit
  private val maxBatches = ((corpus.nPages - base) / batch - 1).toInt
  private val conf = ResumablePipeline.confHash(cfg)
  private val storeDir = new File(ctx.work, "store")
  private def store = new SnapshotStore(spark, storeDir.getPath)
  private var state: Incremental.State = _
  private var done = 0

  private def commitAll(st: SnapshotStore, s: Incremental.State): Incremental.State =
    Incremental.State(
      st.commit("inc_mentions", s.mentions, conf)._2,
      st.commit("inc_vecs", s.vecs, conf)._2,
      st.commit("inc_edges", s.edges, conf)._2,
      st.commit("inc_assignments", s.assignments, conf)._2)

  private def snapshot(stage: String): DataFrame = store.latest(stage, conf).get._2
  private def seenPages: DataFrame = corpus.pagesIn(0, base + done * batch)
  private def nextPages: DataFrame = {
    val lo = base + done * batch
    corpus.pagesIn(lo, lo + batch)
  }

  /** Bootstrap (cold resumable run, then its replay) and the state it
    * leaves. Untimed: it is also the run's codegen and JIT warm-up. */
  override def warmUp(): Sample = {
    Workload.rmTree(storeDir)
    done = 0
    val basePages = corpus.pagesIn(0, base)
    val ((cold, f1), dt, task) = timed {
      val cl = ResumablePipeline.run(spark, store, basePages, cfg)
      (cl, Workload.f1(snapshot("mentions"), corpus.gold, cl))
    }
    val storeBytes = Workload.dirBytes(storeDir)
    val ck = Workload.checksum(cold)
    val (ckReplay, replayS, _) = timed {
      tr.span("store.ResumablePipeline.replay") {
        Workload.checksum(ResumablePipeline.run(spark, store, basePages, cfg))
      }
    }
    state = Incremental.State(
      snapshot("mentions").select("mention_id", "url", "name_norm", "ctx_sig"),
      store.commit("inc_vecs", Tfidf.pageVectors(snapshot("extract"), cfg.ctxTopK), conf)._2,
      snapshot("edges"),
      snapshot("clusters"))
    spark.catalog.clearCache()
    Sample(dt, task, base, Some(f1), Some(ck),
      ok = f1 >= Workload.F1Gate && ck == ckReplay,
      Map("replay_s" -> replayS,
        "store_bytes_per_input_byte" -> storeBytes /
          (Workload.dirBytes(new File(corpus.pagesDir)) * base.toDouble / corpus.nPages)))
  }

  override def hasNext: Boolean = done < maxBatches

  def unit(): Sample = {
    val pages = nextPages
    val (s, dt, task) = timed {
      commitAll(store, Incremental.processBatch(spark, state, pages, cfg))
    }
    state = s
    done += 1
    spark.catalog.clearCache()
    Sample(dt, task, batch, None, None, ok = true)
  }

  /** F1 of the final state against the gold labels of every page folded
    * in so far, and every mention assigned exactly once. */
  override def finalChecks(): (Option[Double], Seq[(String, Boolean)]) = {
    val mentions = Mentions(Extract(seenPages), cfg)
    val f1 = tr.span("pipeline.Evaluate") { Workload.f1(mentions, corpus.gold, state.assignments) }
    val nAssigned = state.assignments.count()
    val nDistinct = state.assignments.select("mention_id").distinct().count()
    val nMentions = state.mentions.count()
    (Some(f1), Seq(
      "f1" -> (f1 >= Workload.F1Gate),
      "one cluster per mention" -> (nAssigned == nDistinct && nDistinct == nMentions)))
  }

  def tracedUnit(): Traced = {
    val pages = nextPages
    val traced = new TracedStore(spark, storeDir.getPath, tr)
    var planNodes = 0L
    val s = tr.span("run") {
      val next = tr.span("streaming.Incremental.processBatch") {
        val n = Incremental.processBatch(spark, state, pages, cfg)
        val frames = Seq(n.mentions, n.vecs, n.edges, n.assignments)
        planNodes = frames.map(_.queryExecution.analyzed.collect { case p => p }.size.toLong).sum
        val Seq(m, v, e, a) = frames.map(materialize)
        Incremental.State(m, v, e, a)
      }
      commitAll(traced, next)
    }
    state = s
    done += 1
    val stateRows = Seq(s.mentions, s.vecs, s.edges, s.assignments).map(_.count()).sum
    spark.catalog.clearCache()
    Traced(Map(
      "streaming.Incremental.plan_nodes" -> planNodes.toDouble,
      "streaming.Incremental.state_rows" -> stateRows.toDouble,
      "store.SnapshotStore.bytes_written" -> traced.bytesWritten.toDouble))
  }
}

/** A [[SnapshotStore]] whose commits are spans of their own. */
final class TracedStore(spark: SparkSession, root: String, tr: Tracer)
    extends SnapshotStore(spark, root) {
  var bytesWritten = 0L
  override def commit(stage: String, df: DataFrame, conf: String,
      inputSnapshot: Long): (Long, DataFrame) =
    tr.span("store.SnapshotStore.commit") {
      val before = Workload.dirBytes(new File(root))
      val r = super.commit(stage, df, conf, inputSnapshot)
      bytesWritten += Workload.dirBytes(new File(root)) - before
      tr.rows(r._2.count())
      r
    }
}
