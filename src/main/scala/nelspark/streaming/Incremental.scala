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
 *   4. re-cluster ONLY the affected subgraph: new edges ∪ prior edges
 *      incident to affected components; untouched components keep
 *      their cluster ids verbatim.
 *
 * Lineage contract: four boundary frames are materialized once with an
 * eager `localCheckpoint()`, so each batch plans its DAG once:
 *
 *   - `newMentions`, `newVecs` and `newEdges` are each read by several
 *     downstream queries (keys, pairs, scoring, the affected subgraph
 *     and the returned state); as checkpoints they are computed once
 *     and appear in those plans as leaves;
 *   - the returned `assignments` reads `state.assignments` three times,
 *     so without a cut a chain of batches grows its plan geometrically.
 *
 * A `.cache()`d frame would keep its full logical plan, which every
 * later query re-analyzes, matches against the cache and re-plans under
 * AQE; a local checkpoint is a leaf. The returned `mentions`, `vecs` and
 * `edges` are the prior state unioned with checkpointed frames, so their
 * plans grow linearly with the number of chained batches.
 *
 * Local-checkpoint blocks live in the executors' block managers and do
 * not survive executor loss. Resume-on-failure therefore comes from
 * committing the returned state per micro-batch with
 * [[nelspark.store.SnapshotStore]]`.commit` and continuing from the
 * re-read frames, which also resets the linear growth above.
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
    val newVecs = Tfidf.pageVectors(extracted, cfg.ctxTopK).localCheckpoint()
    val vecs = state.vecs.unionByName(newVecs).dropDuplicates("url")

    // candidate pairs: new×new ∪ new×old-in-touched-blocks
    val newKeys = Block.keys(newMentions, cfg)
    val touchedOld = Block.keys(state.mentions, cfg)
      .join(newKeys.select("block_key").distinct(), Seq("block_key"), "left_semi")
    val unionKeys = newKeys.unionByName(touchedOld)
    val unionMentions = newMentions.unionByName(
      state.mentions.join(touchedOld.select("mention_id").distinct(),
        Seq("mention_id"), "left_semi"))
    val (pairs, _) = Block.pairs(unionKeys, unionMentions, cfg)
    val newIds = newMentions.select(col("mention_id"))
    val newPairs = pairs.join(newIds.withColumnRenamed("mention_id", "a_id"),
        Seq("a_id"), "left_semi")
      .unionByName(pairs.join(newIds.withColumnRenamed("mention_id", "b_id"),
        Seq("b_id"), "left_semi"))
      .dropDuplicates("a_id", "b_id")

    val newEdges = Score.edges(Score(newPairs, unionMentions, vecs, cfg), cfg)
      .localCheckpoint()

    // affected components: any prior component touching a new edge
    val touchedIds = newEdges.select(col("a_id").as("mention_id"))
      .unionByName(newEdges.select(col("b_id").as("mention_id"))).distinct()
    val touchedClusters = state.assignments
      .join(touchedIds, Seq("mention_id"), "left_semi")
      .select("cluster_id").distinct()
    val affectedAssign = state.assignments
      .join(touchedClusters, Seq("cluster_id"), "left_semi")
    val affectedIds = affectedAssign.select("mention_id")
      .unionByName(touchedIds).distinct()
    val priorAffectedEdges = state.edges
      .join(affectedIds.withColumnRenamed("mention_id", "a_id"),
        Seq("a_id"), "left_semi")

    // re-cluster the affected subgraph only; untouched clusters verbatim
    val subEdges = newEdges.select("a_id", "b_id")
      .unionByName(priorAffectedEdges.select("a_id", "b_id"))
      .dropDuplicates("a_id", "b_id")
    val subAssign = Cluster.connectedComponents(
      subEdges,
      affectedIds.unionByName(newMentions.select("mention_id")).distinct(),
      cfg)
    val untouched = state.assignments
      .join(touchedClusters, Seq("cluster_id"), "left_anti")

    State(
      state.mentions.unionByName(newMentions),
      vecs,
      state.edges.unionByName(newEdges.select("a_id", "b_id"))
        .dropDuplicates("a_id", "b_id"),
      untouched.select("mention_id", "cluster_id")
        .unionByName(subAssign.select("mention_id", "cluster_id"))
        .localCheckpoint())
  }
}
