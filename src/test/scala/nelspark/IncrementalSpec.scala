package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline._
import nelspark.store.SnapshotStore
import nelspark.streaming.Incremental
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** S4 incremental clustering: batch-wise micro-batches converge to the
  * same clusters as one full batch run over the union. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  /** Order-independent assignment checksum. */
  private def checksum(assign: DataFrame): Long = {
    val r = assign.agg(expr("bit_xor(xxhash64(mention_id, cluster_id))")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** `pages` split by url hash into `n` disjoint micro-batches. */
  private def batches(pages: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(b => pages.filter(pmod(xxhash64(col("url")), lit(n)) === b))

  /** The production loop's step: commit the four state frames and
    * continue from the re-read snapshots. */
  private def commitAll(store: SnapshotStore, s: Incremental.State): Incremental.State =
    Incremental.State(
      store.commit("inc_mentions", s.mentions, "c")._2,
      store.commit("inc_vecs", s.vecs, "c")._2,
      store.commit("inc_edges", s.edges, "c")._2,
      store.commit("inc_assignments", s.assignments, "c")._2)

  private def tmpStore(): SnapshotStore =
    new SnapshotStore(spark, Files.createTempDirectory("nelspark-inc").toString)

  test("two micro-batches equal one full run (same clusters)") {
    val gen = CorpusGen.generate(spark, 800L, 160L).cache()
    val pages = CorpusGen.pages(gen).cache()
    val Seq(half1, half2) = batches(pages, 2)

    // incremental: batch1 then batch2
    var st = Incremental.empty(spark)
    st = Incremental.processBatch(spark, st, half1)
    st = Incremental.processBatch(spark, st, half2)

    // full batch over the union
    val full = Pipeline.run(spark, pages, CorpusGen.gold(gen))

    val inc = st.assignments.as[(Long, Long)].collect().toMap
    val bat = full.assignments.as[(Long, Long)].collect().toMap
    assert(inc.keySet == bat.keySet, "same mention universe")

    // cluster PARTITIONS must agree (ids may differ only if min-member
    // identity differs, which it cannot — both use min member id; but
    // context-vector drift (per-batch idf) may split borderline pairs, so
    // compare pairwise co-clustering agreement and require it near-exact)
    val mentionsList = inc.keys.toSeq.sorted
    val sample = mentionsList.take(2000)
    var agree = 0L; var total = 0L
    for (i <- sample.indices; j <- (i + 1) until math.min(i + 40, sample.size)) {
      val a = sample(i); val b = sample(j)
      val same1 = inc(a) == inc(b); val same2 = bat(a) == bat(b)
      if (same1 == same2) agree += 1
      total += 1
    }
    val agreement = agree.toDouble / total
    info(s"pairwise co-clustering agreement incremental vs batch: $agreement")
    assert(agreement >= 0.995, s"agreement $agreement")
  }

  test("chained micro-batches keep plans linear without a caller-side cut") {
    val gen = CorpusGen.generate(spark, 240L, 48L).cache()
    val pages = CorpusGen.pages(gen).cache()
    def nodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.size

    var st = Incremental.empty(spark)
    val sizes = batches(pages, 10).map { b =>
      st = Incremental.processBatch(spark, st, b)
      Seq(st.mentions, st.vecs, st.edges, st.assignments).map(nodes)
    }
    info(s"analyzed plan nodes (mentions, vecs, edges, assignments) per batch: " +
      sizes.map(_.mkString("(", ",", ")")).mkString(" "))
    Seq("mentions", "vecs", "edges", "assignments").zipWithIndex.foreach { case (f, i) =>
      assert(sizes(9)(i) <= 2 * sizes(4)(i),
        s"$f plan grew superlinearly: ${sizes(4)(i)} nodes at batch 5, ${sizes(9)(i)} at batch 10")
    }
    // vecs and edges come back as leaves: chaining does not grow them
    Seq("vecs" -> 1, "edges" -> 2).foreach { case (f, i) =>
      assert(sizes(9)(i) == sizes(4)(i),
        s"$f plan grew: ${sizes(4)(i)} nodes at batch 5, ${sizes(9)(i)} at batch 10")
    }

    val nAssigned = st.assignments.count()
    val nDistinct = st.assignments.select("mention_id").distinct().count()
    val nMentions = st.mentions.count()
    assert(nMentions > 0)
    assert(nAssigned == nDistinct && nDistinct == nMentions,
      s"$nAssigned assignments, $nDistinct assigned mentions, $nMentions mentions")
  }

  test("chained in memory and committed-and-reread between batches give the same clusters") {
    val gen = CorpusGen.generate(spark, 400L, 80L).cache()
    val pages = CorpusGen.pages(gen).cache()
    val bs = batches(pages, 2)

    val inMemory = bs.foldLeft(Incremental.empty(spark)) { (st, b) =>
      Incremental.processBatch(spark, st, b)
    }

    val store = tmpStore()
    val committed = bs.foldLeft(Incremental.empty(spark)) { (st, b) =>
      commitAll(store, Incremental.processBatch(spark, st, b))
    }

    assert(committed.assignments.count() == inMemory.assignments.count())
    assert(inMemory.assignments.count() > 0)
    assert(checksum(committed.assignments) == checksum(inMemory.assignments))
  }

  test("one micro-batch and its four commits run a bounded number of Spark jobs") {
    val gen = CorpusGen.generate(spark, 400L, 80L).cache()
    val pages = CorpusGen.pages(gen).cache()
    val Seq(b1, b2) = batches(pages, 2)
    val store = tmpStore()
    val st1 = commitAll(store, Incremental.processBatch(spark, Incremental.empty(spark), b1))
    b2.count()

    val (st2, batchJobs) = jobsOf(Incremental.processBatch(spark, st1, b2))
    val (_, commitJobs) = jobsOf(commitAll(store, st2))
    info(s"jobs: processBatch $batchJobs, four commits $commitJobs")
    // measured 36-37 + 12; the unshared plans (two copies of the blocker,
    // a full-state re-cluster) and the schema-inferring commits ran 52 + 42
    assert(commitJobs <= 12, s"four commits ran $commitJobs jobs")
    assert(batchJobs + commitJobs <= 55, s"$batchJobs + $commitJobs jobs")
  }
}
