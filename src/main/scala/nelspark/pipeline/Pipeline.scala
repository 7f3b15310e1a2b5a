package nelspark.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import nelspark.functions._

/**
 * End-to-end record-linkage pipeline configuration (BASELINE.json
 * north_rule): extraction → mention detection → multi-pass blocking
 * (normalized name + char-n-gram MinHash/LSH) → pairwise scoring
 * (Jaro-Winkler / Levenshtein + TF-IDF cosine) → transitive clustering.
 *
 * Reference flow: nel's batch-link pipeline (nel/harness.py +
 * nel/process/, reference absent at survey time — SURVEY.md §0).
 */
case class ErConfig(
    ngramN: Int = 3,
    minhashK: Int = 12,
    bands: Int = 4,
    seed: Long = 42L,
    /** Blocks up to this size generate the full pair clique (quadratic). */
    cliqueMax: Int = 200,
    /** Oversized blocks (≤ chainMax) fall back to windowed chain pairs
      * over context-LSH sub-blocks — linear in block size; transitive
      * closure recovers the clique. Beyond chainMax a block is purged
      * (degenerate stop-name semantics; SparkER block purging, EDBT 2019). */
    chainMax: Int = 200000,
    chainWindow: Int = 3,
    /** Per-page context MinHash components used to sub-block mega blocks. */
    ctxK: Int = 4,
    /** Per-page TF-IDF vector length cap (top-K heaviest terms). */
    ctxTopK: Int = 32,
    wJw: Double = 0.45,
    wLev: Double = 0.15,
    wCtx: Double = 0.40,
    tau: Double = 0.72,
    maxIter: Int = 25,
    /** Edge count at or below which connected components runs as a
      * driver-local union-find (one job) instead of the distributed
      * large-star/small-star fixpoint. Both paths produce identical
      * clusters (tested); at web scale the distributed path always runs. */
    ccLocalMax: Long = 1000000L)

/** P1: deterministic text extraction over the pages table. */
object Extract {
  /** Recompute `text` from `html` with the pinned extractor (byte-identical
    * invariant: equals the corpus' `text` column; asserted in tests). */
  def apply(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("warc_ts"), col("lang"),
      extract_text(col("html")).as("text"))
}

/** P2–P4: mention detection + normalization. One row per mention.
  * `ctx_sig` = per-page context MinHash components (used to sub-block
  * oversized blocks; 1-row "bands" so same-entity pages collide with
  * probability ≈ their token Jaccard per component). */
object Mentions {
  def apply(extracted: DataFrame, cfg: ErConfig = ErConfig()): DataFrame =
    extracted
      .filter(col("lang") === "en") // P6 predicate filter, pushed to scan
      .select(col("url"),
        minhash_signature(array_distinct(split(lower(col("text")), "\\s+")),
          cfg.ctxK, cfg.seed + 99).as("ctx_sig"),
        posexplode(extract_mentions(col("text"))).as(Seq("pos", "m")))
      .select(
        // Deterministic 64-bit mention id (url × begin); at true 10^12 scale
        // widen to a 128-bit pair — collision odds are noted in SURVEY §7.6.
        xxhash64(col("url"), col("m.begin")).as("mention_id"),
        col("url"), col("m.begin").as("begin"), col("m.end").as("end"),
        col("m.name").as("name"),
        normalize_name(col("m.name")).as("name_norm"),
        col("ctx_sig"))
      .filter(length(col("name_norm")) >= 2)
}

/** B1+B2: multi-pass blocking. Pass 1 = exact normalized-name key;
  * pass 2 = char-n-gram MinHash LSH band keys. */
object Block {
  /** (mention_id, name_norm, url, block_key, pass) — both passes unioned.
    * Mention attributes ride along so pair generation emits fully-attributed
    * pairs and the scorer needs NO join back to the mention table (two
    * fewer 10^?-row shuffles at any scale; no broadcast assumption). */
  def keys(mentions: DataFrame, cfg: ErConfig): DataFrame = {
    // Single pass, not name-branch ∪ lsh-branch: the union form scanned
    // the mention table twice (two map stages, two reads of the cache /
    // two passes over 10^12 rows at corpus scale) to emit per row one
    // name key + `bands` LSH keys. One explode over the concatenated
    // key array emits the IDENTICAL rows in one scan. Key strings and
    // the pass column are byte-identical to the old branches (transform
    // index ≡ posexplode pos).
    mentions.select(col("mention_id"), col("name_norm"), col("url"),
      explode(concat(
        array(struct(concat(lit("n:"), col("name_norm")).as("block_key"),
          lit("name").as("pass"))),
        transform(
          minhash_bands(
            minhash_ngrams(col("name_norm"), cfg.ngramN, cfg.minhashK, cfg.seed),
            cfg.bands),
          (bh, band) => struct(
            concat(lit("l:"), band, lit(":"), bh).as("block_key"),
            lit("lsh").as("pass"))))).as("k"))
      .select(col("mention_id"), col("name_norm"), col("url"),
        col("k.block_key").as("block_key"), col("k.pass").as("pass"))
  }

  /**
   * Candidate pairs (a_id < b_id), deduped across passes (SET2). Skew
   * handling is explicit and three-tiered (SURVEY.md §7.6.1):
   *
   *  - sz ≤ cliqueMax          → full clique via self equi-join (quadratic
   *                              but bounded: ≤ cliqueMax² pairs per key);
   *  - cliqueMax < sz ≤ chainMax → windowed chain pairs inside context-LSH
   *                              sub-blocks: each mention joins its next
   *                              `chainWindow` neighbors ordered by id
   *                              within (block_key, ctx-minhash component).
   *                              Linear in block size; connected components
   *                              recovers the full cluster from the chain.
   *                              This is what keeps Zipfian head names
   *                              (hot entities) recallable WITHOUT an O(n²)
   *                              blow-up at 10^12 rows;
   *  - sz > chainMax           → purged (degenerate stop-name block; the
   *                              SparkER block-purging bound, EDBT 2019).
   *
   * AQE skew-join splitting remains on as backstop. Returns (pairs, metrics).
   */
  def pairs(keys: DataFrame, mentions: DataFrame, cfg: ErConfig): (DataFrame, DataFrame) = {
    // Block size via an unordered window count, NOT groupBy+join-back:
    // the agg+join form shuffled the keys subtree twice (once into the
    // agg, once into the join) and computed the key-generation kernels
    // (minhash bands posexplode) twice. One window = ONE exchange on
    // block_key, keys computed once — and the window's hash partitioning
    // + block_key sort are exactly what the tier-1 self-join below needs,
    // so it runs exchange-free (guide §2.4: share one exchange between
    // operations keyed the same way).
    val k2 = keys.withColumn("sz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("block_key")))

    // tier 1: bounded cliques
    val small = k2.filter(col("sz") <= cfg.cliqueMax)
    val a = small.select(col("block_key"), col("mention_id").as("a_id"),
      col("name_norm").as("a_norm"), col("url").as("a_url"))
    val b = small.select(col("block_key"), col("mention_id").as("b_id"),
      col("name_norm").as("b_norm"), col("url").as("b_url"))
    val clique = a.join(b, Seq("block_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_norm", "b_norm", "a_url", "b_url")

    // tier 2: chained mega-blocks, sub-blocked by context minhash component.
    // Name-pass only: a mega LSH block's members are (a) hot exact names —
    // already chained via their mega name block — or (b) stop-name n-gram
    // collisions (noise); generating chains for them re-shuffles the same
    // membership ~bands× times for zero recall. LSH keeps catching typo
    // variants through its SMALL blocks (tier 1), which is its entire job.
    val mega = k2
      .filter(col("pass") === "name" &&
        col("sz") > cfg.cliqueMax && col("sz") <= cfg.chainMax)
      .select("block_key", "mention_id", "name_norm", "url")
      .join(mentions.select("mention_id", "ctx_sig"), Seq("mention_id"))
      .select(col("block_key"), col("mention_id"), col("name_norm"), col("url"),
        posexplode(col("ctx_sig")).as(Seq("bi", "bv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block_key", "bi", "bv").orderBy("mention_id")
    val rn = mega.withColumn("rn", row_number().over(w))
    val rnA = rn.select(col("block_key"), col("bi"), col("bv"),
      col("mention_id").as("a_id"), col("name_norm").as("a_norm"),
      col("url").as("a_url"), col("rn").as("ra"))
    val rnB = rn.select(col("block_key"), col("bi"), col("bv"),
      col("mention_id").as("b_id"), col("name_norm").as("b_norm"),
      col("url").as("b_url"), col("rn").as("rb"))
    // window pairs (local robustness) ∪ anchor/hub pairs (first W rows
    // pair with every member → component diameter ≈ 2, so connected
    // components converges in O(1) rounds instead of O(log blockSize)).
    // CRITICAL plan shape: the rank predicate must be part of the
    // equi-join key. A join on (block_key,bi,bv) alone followed by a
    // rank-range filter makes SMJ emit the FULL n² cross product of each
    // sub-block before filtering — a hidden quadratic that dominated the
    // bench (hot sub-blocks of 4.5k rows → 20M-row join groups). Explode
    // the W target ranks on the build side and join on (…, rn) exactly:
    // every join group has size 1 and the stage is linear in block size.
    val windowPairs = rnA
      .select(col("block_key"), col("bi"), col("bv"), col("a_id"),
        col("a_norm"), col("a_url"),
        explode(sequence(col("ra") + 1, col("ra") + cfg.chainWindow)).as("rb"))
      .join(rnB, Seq("block_key", "bi", "bv", "rb"))
    val anchorPairs = rnB
      .filter(col("rb") > cfg.chainWindow + 1) // rb ≤ W+1 covered by window
      .select(col("block_key"), col("bi"), col("bv"), col("b_id"),
        col("b_norm"), col("b_url"),
        explode(sequence(lit(1), lit(cfg.chainWindow))).as("ra"))
      .join(rnA, Seq("block_key", "bi", "bv", "ra"))
    val chains = windowPairs
      .select("a_id", "b_id", "a_norm", "b_norm", "a_url", "b_url")
      .unionByName(anchorPairs
        .select("a_id", "b_id", "a_norm", "b_norm", "a_url", "b_url"))
      // ordered by mention_id ⇒ a_id < b_id

    val p = clique.unionByName(chains)
      .dropDuplicates("a_id", "b_id") // dedupe BEFORE scoring (SET2 barrier)

    val metrics = k2.select("block_key", "pass", "sz").distinct()
      .agg(
        count("*").as("n_blocks"),
        sum(when(col("pass") === "name" &&
          col("sz") > cfg.cliqueMax && col("sz") <= cfg.chainMax, 1L)
          .otherwise(0L)).as("n_chained"),
        sum(when(col("sz") > cfg.chainMax ||
          (col("pass") === "lsh" && col("sz") > cfg.cliqueMax), 1L)
          .otherwise(0L)).as("n_purged"),
        max("sz").as("max_block"))
    (p, metrics)
  }
}

/** A3–A4 + J3: page-level TF-IDF vectors for context cosine.
  * Vectors are PACKED per page as h-sorted array<struct<h,w>> so the
  * pair cosine is a single merge-scan expression (no term-level shuffle
  * per pair — the explode/join/re-agg plan shuffled O(pairs × terms)
  * rows and dominated the bench at 50k pages). */
object Tfidf {
  /** (url, hs: array<long> sorted asc, ws: array<float>) — parallel
    * primitive arrays (compact UnsafeArrayData through shuffles),
    * L2-normalized, pruned to the topK heaviest terms per page (web pages
    * have thousands of distinct terms at 10^12 scale; pruning bounds both
    * vector length and pair-scoring payload). */
  def pageVectors(extracted: DataFrame, topK: Int = 32): DataFrame = {
    val terms = extracted
      .select(col("url"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("url", "term").agg(count("*").cast("double").as("tf"))
    // N arrives via a broadcast 1-row cross join (same form as q_tfidf) —
    // an eager .head() here forced a full corpus scan at DAG-CONSTRUCTION
    // time, before the caller even acts on the plan (round-2 advice)
    val nDf = extracted.agg(
      approx_count_distinct("url").cast("double").as("n_docs"))
    // df falls out of tf as a window count — each (url, term) row IS one
    // distinct doc (the q_tfidf form): one exchange on term replaces the
    // groupBy(term) agg + join-back pair, and the tf subtree (tokenize +
    // explode + first agg) is computed once instead of twice.
    val weighted = terms
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .crossJoin(broadcast(nDf))
      .withColumn("w",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
    val topped = weighted
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("url").orderBy(desc("w"), asc("term"))))
      .filter(col("rk") <= topK)
    // pack: re-normalize over kept terms, sort by term hash for merge scan
    topped
      .groupBy("url")
      .agg(collect_list(struct(xxhash64(col("term")).as("h"), col("w"))).as("hw"))
      .select(col("url"), sort_array(col("hw")).as("hw"))
      .withColumn("nrm", sqrt(expr("aggregate(hw, 0d, (acc, y) -> acc + y.w * y.w)")))
      .select(col("url"),
        expr("transform(hw, x -> x.h)").as("hs"),
        expr("transform(hw, x -> cast(x.w / nrm as float))").as("ws"))
  }
}

/** F3/F4/F12: batched pairwise scoring. */
object Score {
  /**
   * (a_id, b_id, jw, lev_ratio, ctx_cos, score). Name features come from
   * an equi-join of pairs to the mention table (twice); context cosine is
   * a sparse dot product computed once per distinct URL pair (join+agg
   * form, J3) and reused by every mention pair on those pages.
   */
  def apply(pairs: DataFrame, mentions: DataFrame, pageVecs: DataFrame,
      cfg: ErConfig): DataFrame = {
    // pairs arrive fully attributed from Block.pairs (a/b norm + url) —
    // no join back to the mention table at any scale.
    val named = pairs
      .withColumn("jw", jaro_winkler(col("a_norm"), col("b_norm")))
      .withColumn("lev_ratio", levenshtein_ratio(col("a_norm"), col("b_norm")))
      // cascade: a pair whose best-possible score (ctx_cos = 1) cannot
      // reach τ will never become an edge — drop it BEFORE the expensive
      // context joins. Name features are cheap codegen'd scalar exprs;
      // the context cosine requires shuffling vector payloads.
      .filter(lit(cfg.wJw) * col("jw") + lit(cfg.wLev) * col("lev_ratio")
        + lit(cfg.wCtx) >= cfg.tau)
      // norm strings are consumed above — dropping them here keeps them
      // out of BOTH context-join shuffles (~60B/row × pair count × 2)
      .select("a_id", "b_id", "a_url", "b_url", "jw", "lev_ratio")
    // two vec joins by url; the sparse_dot projection drops the vector
    // payloads immediately so only narrow rows continue downstream
    named
      .join(pageVecs.withColumnsRenamed(
        Map("url" -> "a_url", "hs" -> "a_hs", "ws" -> "a_ws")), Seq("a_url"))
      .join(pageVecs.withColumnsRenamed(
        Map("url" -> "b_url", "hs" -> "b_hs", "ws" -> "b_ws")), Seq("b_url"))
      .select(col("a_id"), col("b_id"), col("jw"), col("lev_ratio"),
        nelspark.functions.sparse_dot_arrays(col("a_hs"), col("a_ws"),
          col("b_hs"), col("b_ws")).as("ctx_cos"))
      .withColumn("score",
        lit(cfg.wJw) * col("jw") + lit(cfg.wLev) * col("lev_ratio") +
          lit(cfg.wCtx) * col("ctx_cos"))
  }

  /** Edges above the match threshold τ. */
  def edges(scored: DataFrame, cfg: ErConfig): DataFrame =
    scored.filter(col("score") >= cfg.tau).select("a_id", "b_id")
}

/**
 * G1: transitive closure via alternating large-star / small-star
 * connected components on DataFrames (Kiveris et al., "Connected
 * Components in MapReduce and Beyond", SoCC 2014). O(log n) rounds;
 * per-round localCheckpoint truncates lineage. No GraphFrames / no RDDs.
 */
object Cluster {

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(e.select(col("b_id").as("u"), col("a_id").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a_id"), least(col("mn"), col("u")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("a_id"), col("b_id")).as("u"),
      least(col("a_id"), col("b_id")).as("v"))
    val mins = oriented.groupBy("u").agg(min("v").as("mn"))
    val part1 = oriented.join(mins, "u")
      .filter(col("v") =!= col("mn"))
      .select(col("v").as("a_id"), col("mn").as("b_id"))
    val part2 = mins.select(col("u").as("a_id"), col("mn").as("b_id"))
    part1.unionAll(part2)
      .filter(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The alternating large/small-star fixpoint is exactly a star forest:
    * every child has ONE parent (count == distinct a_id) and no parent is
    * itself a child (b_id ∩ a_id = ∅). Both steps preserve component
    * connectivity and leave star forests unchanged (Kiveris et al., SoCC
    * 2014), so testing the structural property converges one full
    * iteration EARLIER than edge-set-equality-with-previous — it skips
    * the redundant confirm round (~6 shuffles) entirely. Two tiny jobs
    * over localCheckpoint'ed edges. */
  private def isStarForest(e: DataFrame): Boolean = {
    val r = e.agg(count(lit(1)), countDistinct(col("a_id"))).head()
    r.getLong(0) == r.getLong(1) &&
      e.select("b_id").join(e.select(col("a_id").as("b_id")), Seq("b_id"), "left_semi")
        .isEmpty
  }

  /**
   * @param edges    (a_id, b_id) undirected match edges
   * @param allIds   one-column DF of every node id (singletons included)
   * @return         (mention_id, cluster_id) with cluster_id = min member id
   */
  /** Driver-local union-find over a collected edge array; cluster id =
    * min member id (same contract as the distributed path — CC tests
    * assert both paths agree on the same graphs). */
  private def localUnionFind(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, java.lang.Long](rows.length * 2)
    def find(x: Long): Long = {
      var r = x
      var p = parent.get(r)
      while (p != null && p.longValue != r) { r = p.longValue; p = parent.get(r) }
      // path compression
      var c = x
      while (c != r) { val n = parent.get(c).longValue; parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = find(row.getLong(0)); val b = find(row.getLong(1))
      if (a != b) {
        // smaller root wins → root IS the min member id
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet().forEach { k => out += ((k.longValue, find(k.longValue))) }
    out.toSeq
  }

  def connectedComponents(edges: DataFrame, allIds: DataFrame,
      cfg: ErConfig): DataFrame = {
    var e = edges.select("a_id", "b_id").localCheckpoint(true)
    val sess = e.sparkSession
    val n0 = e.count()

    val assign: DataFrame =
      if (n0 <= cfg.ccLocalMax) {
        // Small-graph fast path: below ~10^6 edges the distributed
        // fixpoint pays 5+ shuffle rounds of near-empty partitions per
        // iteration for a graph that fits in driver memory many times
        // over — one collect + union-find is both faster and exact. At
        // web scale n0 exceeds the bound on the first call and the
        // distributed loop below always runs.
        import sess.implicits._
        sess.createDataset(localUnionFind(e.collect()))
          .toDF("mention_id", "cluster_id")
      } else {
        // Size the fixpoint loop's shuffles to the LIVE edge count, not
        // the session default: ~100k edges/partition keeps partitions
        // in memory while avoiding near-empty tasks; at web scale the
        // count clamps to the session default (plans unchanged).
        val sessParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
        val loopParts = math.max(1L, math.min(sessParts.toLong, n0 / 100000L + 1L)).toInt
        val prevParts = sess.conf.getOption("spark.sql.shuffle.partitions")
        var it = 0
        var converged = false
        try {
          // (measured: disabling AQE inside the loop is ~40% SLOWER —
          // its tiny-stage coalescing earns more than its replanning costs)
          if (loopParts < sessParts) sess.conf.set("spark.sql.shuffle.partitions", loopParts)
          while (it < cfg.maxIter && !converged) {
            e = smallStar(largeStar(e)).localCheckpoint(true)
            converged = isStarForest(e)
            it += 1
          }
        } finally {
          prevParts.foreach(p => sess.conf.set("spark.sql.shuffle.partitions", p))
        }
        System.err.println(s"[cc] distributed fixpoint: iters=$it edges0=$n0 loopParts=$loopParts")
        e.select(col("a_id").as("mention_id"), col("b_id").as("cluster_id"))
          .unionAll(e.select(col("b_id").as("mention_id"), col("b_id").as("cluster_id")))
          .groupBy("mention_id").agg(min("cluster_id").as("cluster_id"))
      }

    val idCol = allIds.columns.head
    allIds.select(col(idCol).as("mention_id"))
      .join(assign, Seq("mention_id"), "left")
      .select(col("mention_id"),
        coalesce(col("cluster_id"), col("mention_id")).as("cluster_id"))
  }
}

/** J4 + A6: pairwise evaluation against gold labels at the shared blocking key. */
object Evaluate {

  /** Gold-labeled mentions: detected mentions that exactly match the
    * generated surface on their page. (mention_id, entity_id, name_norm) */
  def labeledMentions(mentions: DataFrame, gold: DataFrame): DataFrame =
    mentions.join(gold.withColumnRenamed("surface", "name"), Seq("url", "name"))
      .select("mention_id", "entity_id", "name_norm")

  /** labeled_pairs fixture (FIXTURES.md §2): pairs sharing the
    * normalized-name blocking key; is_match = same entity. */
  def labeledPairs(labeled: DataFrame): DataFrame = {
    val a = labeled.withColumnsRenamed(Map(
      "mention_id" -> "a_id", "entity_id" -> "a_ent"))
    val b = labeled.withColumnsRenamed(Map(
      "mention_id" -> "b_id", "entity_id" -> "b_ent"))
    a.join(b, Seq("name_norm"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("name_norm").as("block_key"),
        (col("a_ent") === col("b_ent")).as("is_match"))
  }

  /** Pairwise P/R/F1 of predicted co-clustering vs labeled pairs (1 row). */
  def pairwiseF1(labeledPairs: DataFrame, assignments: DataFrame): DataFrame = {
    val ca = assignments.withColumnsRenamed(Map(
      "mention_id" -> "a_id", "cluster_id" -> "a_cl"))
    val cb = assignments.withColumnsRenamed(Map(
      "mention_id" -> "b_id", "cluster_id" -> "b_cl"))
    labeledPairs
      .join(ca, Seq("a_id")).join(cb, Seq("b_id"))
      .withColumn("pred", col("a_cl") === col("b_cl"))
      .agg(
        sum(when(col("is_match") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_match") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_match") && !col("pred"), 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        (col("tp") / greatest(col("tp") + col("fp"), lit(1L))).as("precision"),
        (col("tp") / greatest(col("tp") + col("fn"), lit(1L))).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
  }
}

/**
 * The ER DAG, wired once:
 *
 * {{{
 *   pages → extract ─┬→ mentions → pairs (+ block_metrics) ─┐
 *                    └→ vecs ─────────────────────────────────┴→ scored → edges → clusters
 * }}}
 *
 * [[stages]] builds every stage through a caller-supplied [[Boundary]],
 * which decides what happens to each stage's output before later stages
 * read it: return it as is (lazy), cache it, commit it to a
 * [[nelspark.store.SnapshotStore]], or substitute a pre-staged copy.
 * `compute` is by-name, so a boundary that substitutes a stored copy
 * never builds that stage's plan — and never runs connected components,
 * which is eager. Callers ([[run]], ResumablePipeline, the scaling bench,
 * the plan dump, the phase timer) differ only in their boundary.
 */
object Pipeline {
  case class Result(mentions: DataFrame, assignments: DataFrame,
      metrics: DataFrame, f1: DataFrame)

  /** What happens to one stage's output before later stages read it.
    * Stage names, in call order: `extract`, `mentions`, `vecs`, `pairs`,
    * `block_metrics`, `scored`, `edges`, `clusters`. */
  trait Boundary {
    def apply(stage: String, compute: => DataFrame): DataFrame
  }

  /** Every stage's output as its boundary returned it. */
  case class Stages(extracted: DataFrame, mentions: DataFrame,
      vecs: DataFrame, pairs: DataFrame, blockMetrics: DataFrame,
      scored: DataFrame, edges: DataFrame, clusters: DataFrame)

  def stages(pages: DataFrame, cfg: ErConfig = ErConfig())(at: Boundary): Stages = {
    val extracted = at("extract", Extract(pages))
    val mentions = at("mentions", Mentions(extracted, cfg))
    val vecs = at("vecs", Tfidf.pageVectors(extracted, cfg.ctxTopK))
    // lazy: built only if the boundary computes `pairs` or `block_metrics`
    lazy val blocked = Block.pairs(Block.keys(mentions, cfg), mentions, cfg)
    val pairs = at("pairs", blocked._1)
    val blockMetrics = at("block_metrics", blocked._2)
    val scored = at("scored", Score(pairs, mentions, vecs, cfg))
    val edges = at("edges", Score.edges(scored, cfg))
    val clusters = at("clusters",
      Cluster.connectedComponents(edges, mentions.select("mention_id"), cfg))
    Stages(extracted, mentions, vecs, pairs, blockMetrics, scored, edges, clusters)
  }

  def run(spark: SparkSession, pages: DataFrame, gold: DataFrame,
      cfg: ErConfig = ErConfig()): Result = {
    val st = stages(pages, cfg)(new Boundary {
      def apply(stage: String, compute: => DataFrame): DataFrame = stage match {
        case "mentions" =>
          // Eager cache fill, ONE job, before the fan-out: downstream the
          // DAG has ~8 independent AQE leaf stages (clique sides, mega
          // tier, tfidf, eval join) that are submitted concurrently —
          // against a COLD cache every one of them recomputes
          // generation+extraction end to end (measured: 8 × ~15 task-s of
          // duplicated work at 2k pages, >75% of the flagship's total
          // CPU). One count() materializes mentions (and, transitively,
          // any cached upstream corpus) exactly once.
          // `cache()` is MEMORY_AND_DISK: partitions that do not fit in
          // storage memory go to local disk instead of being recomputed.
          // Right while mentions fit in storage memory (a few MB at the
          // flagship's 2k pages). Wrong at corpus scale: spilled
          // partitions are deserialized once per consumer, the cache
          // competes with shuffles and CC for executor memory, and it dies
          // with its executor. There, commit mentions to parquet as
          // ResumablePipeline does.
          val m = compute.cache()
          m.count(): Unit
          m
        case "clusters" => compute.cache()
        case _ => compute
      }
    })
    val labeled = Evaluate.labeledMentions(st.mentions, gold)
    val f1 = Evaluate.pairwiseF1(Evaluate.labeledPairs(labeled), st.clusters)
    Result(st.mentions, st.clusters, st.blockMetrics, f1)
  }
}
