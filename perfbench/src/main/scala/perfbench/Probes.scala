package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import nelspark.expr.{ExprHelpers, Kernels}
import nelspark.pipeline._

/**
 * Kernel cost probes: each public kernel timed in a plain loop over
 * inputs sampled from the workload's own pages and from the candidate
 * pairs that blocking forms over those pages.
 */
object Probes {
  private val SamplePages = 1500
  private val MinNs = 200L * 1000 * 1000

  /** ns per input row of `f` over `rows`: the median of timed passes
    * (at least five and 0.2 s), after one untimed pass. */
  private def nsPerRow[A](rows: IndexedSeq[A])(f: A => Double): Double = {
    var sink = 0.0
    def pass(): Double = {
      val t0 = System.nanoTime()
      rows.foreach(r => sink += f(r))
      (System.nanoTime() - t0).toDouble / rows.size
    }
    pass()
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < 5 || System.nanoTime() - t0 < MinNs) passes += pass()
    // the sink keeps the calls from being optimized away
    if (sink.isNaN) passes += 0.0
    Main.median(passes.toSeq)
  }

  def kernels(pages: DataFrame, cfg: ErConfig): Map[String, Double] = {
    val sample = pages.orderBy("url").limit(SamplePages).cache()
    val docs = sample.select("html", "text").collect()
      .map(r => (r.getAs[Array[Byte]](0), r.getString(1))).toIndexedSeq
    val extracted = Extract(sample)
    val mentions = Mentions(extracted, cfg).cache()
    val names = mentions.select("name", "name_norm").collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    val (pairs, _) = Block.pairs(Block.keys(mentions, cfg), mentions, cfg)
    val vecs = Tfidf.pageVectors(extracted, cfg.ctxTopK)
    val va = vecs.withColumnsRenamed(Map("url" -> "a_url", "hs" -> "a_hs", "ws" -> "a_ws"))
    val vb = vecs.withColumnsRenamed(Map("url" -> "b_url", "hs" -> "b_hs", "ws" -> "b_ws"))
    val pairRows = pairs.join(va, Seq("a_url")).join(vb, Seq("b_url"))
      .orderBy("a_id", "b_id").limit(20000)
      .select("a_norm", "b_norm", "a_hs", "a_ws", "b_hs", "b_ws").collect()
    val namePairs = pairRows.map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    val vecPairs = pairRows.map { r =>
      def arr(i: Int) = r.getSeq[Any](i)
      (UnsafeArrayData.fromPrimitiveArray(arr(2).map(_.asInstanceOf[Long]).toArray),
        UnsafeArrayData.fromPrimitiveArray(arr(3).map(_.asInstanceOf[Float]).toArray),
        UnsafeArrayData.fromPrimitiveArray(arr(4).map(_.asInstanceOf[Long]).toArray),
        UnsafeArrayData.fromPrimitiveArray(arr(5).map(_.asInstanceOf[Float]).toArray))
    }.toIndexedSeq
    sample.unpersist(); mentions.unpersist()
    Map(
      "expr.Kernels.jaroWinkler.ns_per_row" ->
        nsPerRow(namePairs) { case (a, b) => Kernels.jaroWinkler(a, b) },
      "expr.Kernels.levenshteinRatio.ns_per_row" ->
        nsPerRow(namePairs) { case (a, b) => Kernels.levenshteinRatio(a, b) },
      "expr.Kernels.normalizeName.ns_per_row" ->
        nsPerRow(names) { case (n, _) => Kernels.normalizeName(n).length.toDouble },
      "expr.Kernels.extractText.ns_per_row" ->
        nsPerRow(docs) { case (h, _) => Kernels.extractText(h).length.toDouble },
      "expr.Kernels.extractMentions.ns_per_row" ->
        nsPerRow(docs) { case (_, t) => Kernels.extractMentions(t).length.toDouble },
      "expr.Kernels.minHashNgrams.ns_per_row" ->
        nsPerRow(names) { case (_, n) =>
          Kernels.minHashNgrams(n, cfg.ngramN, cfg.minhashK, cfg.seed)(0).toDouble },
      "expr.ExprHelpers.sparseDotArrays.ns_per_row" ->
        nsPerRow(vecPairs) { case (ha, wa, hb, wb) =>
          ExprHelpers.sparseDotArrays(ha, wa, hb, wb) })
  }
}
