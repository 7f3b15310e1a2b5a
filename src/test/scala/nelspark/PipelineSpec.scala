package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline._
import org.apache.spark.sql.functions._

/** End-to-end gate tests (SURVEY.md §5.4–5.5; BASELINE.json binding
  * metric: pairwise F1 ≥ 0.99 on labeled pairs at the shared blocking key). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gen = CorpusGen.generate(spark, 2000L, 400L).cache()
  private lazy val pages = CorpusGen.pages(gen)
  private lazy val gold = CorpusGen.gold(gen)
  private lazy val result = Pipeline.run(spark, pages, gold)

  test("generator is deterministic and partition-count-independent") {
    val a = CorpusGen.generate(spark, 200L, 50L, partitions = 2)
      .select("url", "text", "entity_id").as[(String, String, Long)].collect().sortBy(_._1)
    val b = CorpusGen.generate(spark, 200L, 50L, partitions = 7)
      .select("url", "text", "entity_id").as[(String, String, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("extraction is byte-identical to the corpus text column (north rule invariant)") {
    val mismatch = Extract(pages)
      .withColumnRenamed("text", "re_text")
      .join(pages.select("url", "text"), "url")
      .filter(col("re_text") =!= col("text"))
      .count()
    assert(mismatch == 0L)
  }

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking key (BINDING GATE)") {
    val row = result.f1.head()
    val f1 = row.getAs[Double]("f1")
    val labeled = Evaluate.labeledPairs(
      Evaluate.labeledMentions(Mentions(Extract(pages)), gold))
    val negatives = labeled.filter(!col("is_match")).count()
    val positives = labeled.filter(col("is_match")).count()
    info(s"f1=$f1 tp=${row.getAs[Long]("tp")} fp=${row.getAs[Long]("fp")} " +
      s"fn=${row.getAs[Long]("fn")} labeledPos=$positives labeledNeg=$negatives")
    assert(positives > 1000, "gate must be non-trivial: enough positive pairs")
    assert(f1 >= 0.99, s"pairwise F1 gate failed: $f1")
  }

  test("clustering is deterministic across parallelism (local repartition probe)") {
    val cfg = ErConfig()
    val mentions = Mentions(Extract(pages), cfg).cache()
    val keys = Block.keys(mentions, cfg)
    val (pairs, _) = Block.pairs(keys, mentions, cfg)
    val vecs = Tfidf.pageVectors(Extract(pages))
    val edges = Score.edges(Score(pairs, mentions, vecs, cfg), cfg).cache()
    val a1 = Cluster.connectedComponents(edges.repartition(2), mentions.select("mention_id"), cfg)
    val a2 = Cluster.connectedComponents(edges.repartition(13), mentions.select("mention_id"), cfg)
    val d1 = a1.as[(Long, Long)].collect().sorted.toSeq
    val d2 = a2.as[(Long, Long)].collect().sorted.toSeq
    assert(d1 == d2)
  }

  test("connected components: known graphs (local AND distributed paths)") {
    // path 1-2-3-4, triangle 10-11-12, singleton 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a_id", "b_id")
    val ids = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L)).toDF("mention_id")
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (99L, 99L))
    for (cfg <- Seq(ErConfig(maxIter = 30),                  // local union-find
                    ErConfig(maxIter = 30, ccLocalMax = 0))) // distributed fixpoint
      assert(Cluster.connectedComponents(edges, ids, cfg)
        .as[(Long, Long)].collect().sorted.toSeq == expected)
  }

  test("connected components: long path converges in O(log n) rounds (distributed)") {
    val n = 500
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val ids = (1 to n).map(_.toLong).toDF("mention_id")
    val got = Cluster.connectedComponents(edges, ids,
      ErConfig(maxIter = 30, ccLocalMax = 0))
    assert(got.select("cluster_id").distinct().count() == 1L)
    assert(got.agg(min("cluster_id")).head().getLong(0) == 1L)
  }

  test("local and distributed CC paths agree on a pseudo-random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 3000).map { _ =>
      (rnd.nextInt(800).toLong, rnd.nextInt(800).toLong)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a_id", "b_id")
    val ids = (0 until 800).map(_.toLong).toDF("mention_id")
    val local = Cluster.connectedComponents(edges, ids, ErConfig(maxIter = 30))
      .as[(Long, Long)].collect().sorted.toSeq
    val dist = Cluster.connectedComponents(edges, ids,
      ErConfig(maxIter = 30, ccLocalMax = 0))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(local == dist)
  }

  test("chained mega-blocks still cluster hot entities (scale path)") {
    // force every block through the chain tier
    val cfg = ErConfig(cliqueMax = 2, chainWindow = 3)
    val mentions = Mentions(Extract(pages), cfg).cache()
    val keys = Block.keys(mentions, cfg)
    val (pairs, metrics) = Block.pairs(keys, mentions, cfg)
    val vecs = Tfidf.pageVectors(Extract(pages))
    val edges = Score.edges(Score(pairs, mentions, vecs, cfg), cfg)
    val assign = Cluster.connectedComponents(edges, mentions.select("mention_id"), cfg)
    val labeled = Evaluate.labeledMentions(mentions, gold)
    val f1 = Evaluate.pairwiseF1(Evaluate.labeledPairs(labeled), assign)
      .head().getAs[Double]("f1")
    info(s"chain-only f1=$f1 metrics=${metrics.head()}")
    assert(f1 >= 0.98, s"chain-tier recall degraded: $f1")
  }

  test("Tfidf.pageVectors launches no job at DAG-construction time") {
    val ex = Extract(pages)
    ex.count() // materialize inputs first — the probe targets pageVectors only
    // an eager head()/count() in pageVectors would fire a job
    val (df, jobs) = jobsOf(Tfidf.pageVectors(ex))
    assert(jobs == 0, s"plan construction launched $jobs job(s)")
    assert(df.columns.toSeq == Seq("url", "hs", "ws"))
  }

  test("a boundary that never forces compute builds no stage and runs no job") {
    // Extract(noHtml) would throw AnalysisException if it were built
    val noHtml = pages.drop("html")
    val canned = Seq((1L, 1L)).toDF("mention_id", "cluster_id")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val (st, jobs) = jobsOf(Pipeline.stages(noHtml)(new Pipeline.Boundary {
      def apply(stage: String, compute: => org.apache.spark.sql.DataFrame) = {
        seen += stage
        canned
      }
    }))
    assert(jobs == 0, s"stages launched $jobs job(s)")
    assert(seen.toSeq == Seq("extract", "mentions", "vecs", "pairs",
      "block_metrics", "scored", "edges", "clusters"))
    assert(st.clusters eq canned)
  }

  test("scaling-bench inputs: a legacy _DONE-only or stale-tag pre-stage regenerates") {
    import java.nio.file.{Files, Paths}
    val fixDir = Files.createTempDirectory("nelspark-bench").resolve("bench_200").toString
    val cfg = ErConfig()
    val pre = Main.stageBenchInputs(spark, fixDir, 200L, cfg)
    def mentionsDigest(): (Long, Long) = {
      val r = spark.read.parquet(s"$pre/mentions.parquet")
        .agg(count(lit(1)), expr("bit_xor(mention_id)")).head()
      (r.getLong(0), r.getLong(1))
    }
    val fresh = mentionsDigest()
    assert(fresh._1 > 0L)
    val tagPath = Paths.get(pre, "_FIXTURE_TAG")
    val goodTag = Files.readString(tagPath)
    def parts() = new java.io.File(s"$pre/mentions.parquet").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    // a current pre-stage is reused as is
    val before = parts()
    Main.stageBenchInputs(spark, fixDir, 200L, cfg)
    assert(parts() == before, "current pre-stage was rewritten")
    // the old layout: a dir carrying only the untagged _DONE marker
    new scala.reflect.io.Directory(new java.io.File(pre)).deleteRecursively()
    Files.createDirectories(Paths.get(pre))
    Files.writeString(Paths.get(pre, "_DONE"), "ok")
    Main.stageBenchInputs(spark, fixDir, 200L, cfg)
    assert(Files.readString(tagPath) == goodTag && mentionsDigest() == fresh)
    assert(!new java.io.File(pre, "_DONE").exists())
    // a tag written by other pipeline code (or another config)
    Files.writeString(tagPath, "stale-pipeline-tag")
    Main.stageBenchInputs(spark, fixDir, 200L, cfg)
    assert(Files.readString(tagPath) == goodTag && mentionsDigest() == fresh)
    assert(parts() != before, "stale pre-stage was reused")
  }

  test("block metrics report chained/purged tiers") {
    val m = result.metrics.head()
    assert(m.getAs[Long]("n_blocks") > 0)
    assert(m.getAs[Long]("max_block") > ErConfig().cliqueMax) // title block is mega
  }
}
