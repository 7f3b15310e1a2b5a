package nelspark.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * L2 ranker training (SURVEY.md §2.9): the reference fits an sklearn
 * linear ranker over gold-vs-non-gold candidate feature vectors on the
 * driver (nel/learn/ranking.py, reference absent at survey time). The
 * Spark-native equivalent keeps the same shape — a distributed feature
 * assembly, a SMALL collected labeled sample, a deterministic
 * driver-side logistic fit, and the learned weights broadcast back into
 * the codegen'd score expression ([[Linker.Weights]]).
 *
 * Deliberately NOT Spark MLlib: the dependency surface stays sql-only
 * and the sample is a few thousand rows — driver fit is the right
 * altitude (same pattern as the IVF centroid model and threshold
 * calibration).
 */
object Ranker {

  /**
   * Deterministic full-batch logistic regression: P(match) =
   * sigmoid(w·x + b). Zero init, fixed iteration count, L2 on weights
   * (not bias) — no RNG, so the fit is bit-reproducible.
   *
   * @return weights array of length dim+1; last element is the bias
   */
  def fitLogistic(xs: Array[Array[Double]], ys: Array[Boolean],
      iters: Int = 500, lr: Double = 0.5, l2: Double = 1e-4): Array[Double] = {
    require(xs.nonEmpty && xs.length == ys.length)
    val d = xs(0).length
    val n = xs.length
    val w = new Array[Double](d + 1)
    var it = 0
    while (it < iters) {
      val g = new Array[Double](d + 1)
      var i = 0
      while (i < n) {
        val x = xs(i)
        var z = w(d)
        var j = 0
        while (j < d) { z += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val err = p - (if (ys(i)) 1.0 else 0.0)
        j = 0
        while (j < d) { g(j) += err * x(j); j += 1 }
        g(d) += err
        i += 1
      }
      var j = 0
      while (j < d) { w(j) -= lr * (g(j) / n + l2 * w(j)); j += 1 }
      w(d) -= lr * g(d) / n
      it += 1
    }
    w
  }

  /**
   * Fit [[Linker.Weights]] over a labeled mention sample.
   *
   * Training pairs: the alias-store candidates of each sampled mention
   * labeled gold/non-gold ([[Linker.candidateFeatures]] — nel's own
   * training set shape), PLUS one synthesized negative per mention (the
   * gold entity of the NEXT mention in hash order) featurized through
   * the same joins ([[Linker.featurize]]). The synthesized negatives
   * keep the fit well-posed when the alias store is unambiguous (every
   * candidate gold — true of clean generated corpora), and are honest:
   * their p_name is the real nameProb lookup (0.0 on miss), their
   * ctx_cos the real context cosine.
   *
   * The mention sample is capped by a deterministic hash filter before
   * any feature work (the driver-side fit must stay driver-sized no
   * matter the corpus). The NIL threshold falls out of the fit for
   * free: score = w·x, and the logistic decision boundary w·x + b >= 0
   * becomes tauNil = -b.
   *
   * @param mentions (mention_id, url, name_norm) labeled mentions
   * @param gold     (mention_id, entity_id) gold resolutions
   */
  def fit(mentions: DataFrame, pageTerms: DataFrame, entityPrior: DataFrame,
      nameProb: DataFrame, entityTfidf: DataFrame, gold: DataFrame,
      maxSample: Long = 50000L, iters: Int = 500, lr: Double = 0.5,
      l2: Double = 1e-4, topN: Int = 8, saltBuckets: Int = 16): Linker.Weights = {
    import org.apache.spark.sql.expressions.Window
    val g = gold.select(col("mention_id"), col("entity_id").as("gold_ent"))
    val m0 = mentions.select("mention_id", "url", "name_norm")
      .join(g, Seq("mention_id"))
    val n = m0.count()
    val m = (if (n <= maxSample) m0
             else m0.filter(pmod(xxhash64(col("mention_id")),
               lit(n / maxSample + 1)) === 0)).cache()

    // train over the SAME candidate cutoff the caller will serve with —
    // a hard-coded topN here would silently diverge from scoring-time
    // behavior whenever Linker.link runs with non-default Weights
    val pos = Linker.candidateFeatures(m.select("mention_id", "url", "name_norm"),
        pageTerms, entityPrior, nameProb, entityTfidf, topN, saltBuckets)
      .join(g, Seq("mention_id"))
      .select(col("p_prior"), col("p_name"), col("ctx_cos"),
        (col("entity_id") === col("gold_ent")).as("y"))

    // one shifted negative per mention over one global order, so the
    // window runs in a single partition on purpose: the sample is capped
    // at maxSample rows. Spark logs its WindowExec single-partition
    // warning for it; a literal partition key would not avoid that, since
    // the optimizer (EliminateWindowPartitions) drops foldable keys.
    val wOrd = Window.orderBy(xxhash64(col("mention_id")), col("mention_id"))
    val negPairs = m
      .withColumn("neg_ent", coalesce(lead(col("gold_ent"), 1).over(wOrd),
        first(col("gold_ent")).over(wOrd)))
      .filter(col("neg_ent") =!= col("gold_ent"))
      .select(col("mention_id"), col("url"), col("name_norm"),
        col("neg_ent").as("entity_id"))
    val neg = Linker.featurize(negPairs, pageTerms, entityPrior, nameProb,
        entityTfidf)
      .select(col("p_prior"), col("p_name"), col("ctx_cos"), lit(false).as("y"))

    val rows = pos.unionByName(neg).collect()
    m.unpersist() // collected — don't leak executor storage in long sessions
    val xs = rows.map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val ys = rows.map(_.getBoolean(3))
    require(ys.exists(identity) && ys.exists(!_),
      "ranker training needs both positive and negative candidates")
    val w = fitLogistic(xs, ys, iters, lr, l2)
    Linker.Weights(prior = w(0), nameProb = w(1), ctx = w(2), tauNil = -w(3),
      topN = topN, saltBuckets = saltBuckets)
  }
}
