package nelspark.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import nelspark.pipeline._

/**
 * S4: incremental clustering (SURVEY.md §2.10). Streaming connected
 * components is not expressible as one Structured Streaming query, so
 * the engine processes page micro-batches as snapshot diffs:
 *
 *   1. extract + detect mentions for the NEW batch only;
 *   2. blocking keys for new mentions; candidate pairs = new×new plus
 *      new×old — the old side restricted by a semi-join to blocks the
 *      batch touches (at web scale this prunes almost the entire
 *      accumulated key table; only touched blocks are re-read);
 *   3. score the new pairs with the same cascade scorer against the
 *      maintained page-vector state;
 *   4. re-cluster by contraction: each prior cluster is connected and
 *      named by its min member id, so the new edges, with every old
 *      endpoint replaced by its cluster id, are the whole graph that
 *      connected components needs; clusters the batch does not touch
 *      keep their ids, and prior edges are never re-read. The state
 *      must hold that invariant: `empty`, the batch pipeline's
 *      clusters and every `processBatch` result do.
 *
 * Lineage contract: every frame that more than one later query reads is
 * materialized once with an eager `localCheckpoint()`, so each batch
 * computes it once and later plans see it as a leaf:
 *
 *   - `newMentions` (keys, pairs, scoring, the returned state);
 *   - `vecs`, the prior vectors plus the batch's, deduplicated by url
 *     (both broadcast sides of the scorer, the returned state);
 *   - `touchedOld`, the prior blocking keys in blocks the batch touches
 *     (the blocking keys and the mentions the blocker reads);
 *   - `newEdges` (the contraction, the returned edges);
 *   - `oldEnds`, the prior endpoints of new edges with their clusters
 *     (both endpoint joins of the contraction, the node set).
 *
 * Join sides the size of the batch (its mention ids and block keys, the
 * endpoints of its edges, the clusters it merges) are broadcast by hint:
 * a micro-batch is far smaller than the state, and without the hint a
 * checkpoint's unknown size plans a sort-merge join that shuffles the
 * state side first. The returned `vecs`, `edges` and `assignments` are
 * local checkpoints too: chained in memory, their plans stay one node.
 * `mentions` is the prior state unioned with the batch's checkpoint, so
 * its plan grows by one union per chained batch.
 *
 * A `.cache()`d frame would keep its full logical plan, which every
 * later query re-analyzes, matches against the cache and re-plans under
 * AQE; a local checkpoint is a leaf.
 *
 * Local-checkpoint blocks live in the executors' block managers and do
 * not survive executor loss. Resume-on-failure therefore comes from
 * committing the returned state per micro-batch with
 * [[nelspark.store.SnapshotStore]]`.commit` and continuing from the
 * re-read frames, which also resets the growth of `mentions`.
 *
 * Known approximation (documented): per-batch IDF is computed from the
 * batch corpus, not re-fitted globally each batch — tf-idf drifts
 * slowly and re-fitting is a periodic compaction job in production.
 */
object Incremental {

  case class State(mentions: DataFrame, vecs: DataFrame,
      edges: DataFrame, assignments: DataFrame)

  def empty(spark: SparkSession): State = {
    import spark.implicits._
    State(
      Seq.empty[(Long, String, String, Seq[Long])]
        .toDF("mention_id", "url", "name_norm", "ctx_sig"),
      Seq.empty[(String, Seq[Long], Seq[Float])].toDF("url", "hs", "ws"),
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"),
      Seq.empty[(Long, Long)].toDF("mention_id", "cluster_id"))
  }

  /** Process one micro-batch of pages; returns the updated state. */
  def processBatch(spark: SparkSession, state: State, newPages: DataFrame,
      cfg: ErConfig = ErConfig()): State = {
    val extracted = Extract(newPages)
    val newMentions = Mentions(extracted, cfg)
      .select("mention_id", "url", "name_norm", "ctx_sig").localCheckpoint()
    val vecs = state.vecs.unionByName(Tfidf.pageVectors(extracted, cfg.ctxTopK))
      .dropDuplicates("url").localCheckpoint()

    // candidate pairs: new×new ∪ new×old-in-touched-blocks
    val newKeys = Block.keys(newMentions, cfg)
    val touchedOld = Block.keys(state.mentions, cfg)
      .join(broadcast(newKeys.select("block_key")), Seq("block_key"), "left_semi")
      .localCheckpoint()
    val unionKeys = newKeys.unionByName(touchedOld)
    val unionMentions = newMentions.unionByName(
      state.mentions.join(touchedOld.select("mention_id"), Seq("mention_id"), "left_semi"))
    val (pairs, _) = Block.pairs(unionKeys, unionMentions, cfg)
    // pairs with a new endpoint, flagged by two left joins so that the
    // plan reads `pairs` once: a semi-join per endpoint would give each
    // side its own copy of the whole blocking subtree
    val isNew = broadcast(newMentions.select(col("mention_id"), lit(true).as("new")))
    val newPairs = pairs
      .join(isNew.withColumnsRenamed(Map("mention_id" -> "a_id", "new" -> "a_new")),
        Seq("a_id"), "left")
      .join(isNew.withColumnsRenamed(Map("mention_id" -> "b_id", "new" -> "b_new")),
        Seq("b_id"), "left")
      .filter(col("a_new").isNotNull || col("b_new").isNotNull)
      .drop("a_new", "b_new")

    val newEdges = Score.edges(Score(newPairs, unionMentions, vecs, cfg), cfg)
      .localCheckpoint()

    // re-cluster by contraction: an old endpoint's cluster id stands in
    // for all its members; CC names each merged cluster by its min node
    val oldEnds = state.assignments
      .join(broadcast(newEdges.select(col("a_id").as("mention_id"))
        .unionByName(newEdges.select(col("b_id").as("mention_id")))),
        Seq("mention_id"), "left_semi")
      .localCheckpoint()
    def clusterOf(end: String): DataFrame =
      oldEnds.select(col("mention_id").as(end), col("cluster_id").as(s"${end}_cl"))
    val contracted = newEdges
      .join(clusterOf("a_id"), Seq("a_id"), "left")
      .join(clusterOf("b_id"), Seq("b_id"), "left")
      .select(coalesce(col("a_id_cl"), col("a_id")).as("a_id"),
        coalesce(col("b_id_cl"), col("b_id")).as("b_id"))
    val merged = Cluster.connectedComponents(contracted,
      newMentions.select("mention_id")
        .unionByName(oldEnds.select(col("cluster_id").as("mention_id")).distinct()),
      cfg)
      .select(col("mention_id").as("cluster_id"), col("cluster_id").as("merged_id"))

    State(
      state.mentions.unionByName(newMentions),
      vecs,
      state.edges.unionByName(newEdges)
        .dropDuplicates("a_id", "b_id").localCheckpoint(),
      state.assignments.select("mention_id", "cluster_id")
        .unionByName(newMentions.select(col("mention_id"), col("mention_id").as("cluster_id")))
        .join(broadcast(merged), Seq("cluster_id"), "left")
        .select(col("mention_id"), coalesce(col("merged_id"), col("cluster_id")).as("cluster_id"))
        .localCheckpoint())
  }
}
