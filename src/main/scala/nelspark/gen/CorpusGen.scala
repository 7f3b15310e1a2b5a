package nelspark.gen

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.sql.Timestamp

/** One generated page plus its gold labeling (dropped for the `pages` view). */
case class GenPage(
    url: String, warc_ts: Timestamp, html: Array[Byte], text: String,
    lang: String, entity_id: Long, surface: String)

/**
 * Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1;
 * seed=42, no external data per BASELINE.json). Every draw derives from a
 * per-row SplitMix64 stream seeded by xxhash-style mixing of (seed, i) —
 * no global RNG state, so generation is partition-order-independent and
 * identical at any parallelism.
 *
 * Content model: |E| entities with canonical 2–3 token person names (some
 * with diacritics) and a 20-word topic vocabulary from a 500-word list.
 * Each page mentions one entity; the surface passes through 0–1 corruption
 * ops (identity / typo / abbreviation / token-drop / diacritic-fold).
 * Context is lowercase (60% topic / 40% common words), so the capitalized
 * mention is recoverable exactly. A fraction of entities is "hot"
 * (Zipf-ish head) to exercise skew handling (SURVEY.md §7.6.1).
 */
object CorpusGen {

  // --- deterministic per-row PRNG -------------------------------------
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = (Math.floorMod(nextLong(), n.toLong)).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  // --- fixed vocabularies (syllable-composed, deterministic) ----------
  private val firstNames: IndexedSeq[String] = IndexedSeq(
    "James", "Mary", "John", "Patricia", "Robert", "Jennifer", "Michael",
    "Linda", "William", "Elizabeth", "David", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen", "Daniel",
    "Nancy", "Matthew", "Lisa", "Anthony", "Margaret", "Mark", "Betty",
    "Donald", "Sandra", "Steven", "Ashley", "Paul", "Dorothy", "Andrew",
    "Kimberly", "Joshua", "Emily", "Kenneth", "Donna", "Kevin", "Michelle",
    "Brian", "Carol", "George", "Amanda", "Edward", "Melissa", "Ronald",
    "Deborah", "José", "François", "Søren", "Björn", "Zoë", "Renée",
    "André", "Agnès", "Jürgen", "Åsa", "Chloé", "Eugène", "Håkon", "Inés",
    "László", "Mårten", "Noël", "Óscar", "Pål", "Raúl", "Siân", "Tomás",
    "Valérie", "Wojtek", "Yusuf", "Zbigniew", "Aiko", "Bao", "Chen", "Dae",
    "Emeka", "Fatima", "Gopal", "Hana", "Imani", "Jin", "Kwame", "Leila",
    "Mei", "Nadia", "Omar", "Priya", "Qiang", "Rafi", "Sana", "Tariq",
    "Uma", "Vikram", "Wei", "Xiu", "Yara", "Zara")
  private val lastNames: IndexedSeq[String] = IndexedSeq(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen", "King",
    "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores", "Green",
    "Adams", "Nelson", "Baker", "Hall", "Rivera", "Campbell", "Mitchell",
    "Carter", "Roberts", "Gómez", "Müller", "Núñez", "Söderberg", "Fernández",
    "Ibáñez", "Kovács", "Lindqvist", "Moreau", "Ødegård", "Petrović",
    "Quintana", "Rüdiger", "Sæther", "Takács", "Urbánek", "Vázquez",
    "Wagner", "Xióng", "Yamamoto", "Zelenka", "Abara", "Bakshi", "Chowdhury",
    "Dlamini", "Endo", "Farouk", "Gupta", "Habib", "Ito", "Jafari", "Kato",
    "Luong", "Mensah", "Ngoya", "Okafor", "Patel", "Qureshi", "Rahman",
    "Saito", "Tanaka", "Ueda", "Verma", "Wang", "Xu", "Yoshida", "Zhang")

  private def syllableWords(prefixes: IndexedSeq[String], n: Int): IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "ro", "mi", "ta", "lu", "ve", "no", "si",
      "da", "pe", "go", "ri", "mu", "te", "la", "vo", "ne", "sa", "di", "po")
    (0 until n).map { i =>
      val a = syl(i % syl.length); val b = syl((i / syl.length) % syl.length)
      val c = syl((i / (syl.length * syl.length)) % syl.length)
      prefixes(i % prefixes.length) + a + b + c
    }
  }
  /** 500 distinct topic words, all lowercase (never mentions). */
  private val topicVocab: IndexedSeq[String] =
    syllableWords(IndexedSeq("z", "q", "x", "j", "w"), 500)
  /** 100 common (high-df) filler words. */
  private val commonWords: IndexedSeq[String] = (IndexedSeq(
    "the", "of", "and", "to", "in", "was", "for", "on", "with", "as", "by",
    "at", "from", "that", "this", "were", "been", "has", "had", "its") ++
    syllableWords(IndexedSeq("b", "c", "d", "f", "g"), 80)).distinct

  private val Fold: Map[Char, Char] = Map(
    'é' -> 'e', 'è' -> 'e', 'ê' -> 'e', 'ë' -> 'e', 'á' -> 'a', 'à' -> 'a',
    'â' -> 'a', 'ä' -> 'a', 'å' -> 'a', 'ã' -> 'a', 'í' -> 'i', 'î' -> 'i',
    'ï' -> 'i', 'ó' -> 'o', 'ô' -> 'o', 'ö' -> 'o', 'ø' -> 'o', 'õ' -> 'o',
    'ú' -> 'u', 'ü' -> 'u', 'û' -> 'u', 'ñ' -> 'n', 'ç' -> 'c', 'ý' -> 'y',
    'É' -> 'E', 'Á' -> 'A', 'Å' -> 'A', 'Ø' -> 'O', 'Ó' -> 'O', 'Ú' -> 'U',
    'Ü' -> 'U', 'Ñ' -> 'N', 'Ö' -> 'O', 'Ä' -> 'A', 'Í' -> 'I', 'Æ' -> 'A',
    'æ' -> 'a', 'ß' -> 's', 'ő' -> 'o', 'ű' -> 'u', 'č' -> 'c', 'ć' -> 'c',
    'š' -> 's', 'ž' -> 'z', 'ò' -> 'o', 'ą' -> 'a', 'ę' -> 'e', 'ł' -> 'l')
  private def fold(s: String): String = s.map(c => Fold.getOrElse(c, c))

  /** Canonical entity name: First [Middle] Last; deterministic in (seed, e). */
  def entityName(e: Long, seed: Long): String = {
    val r = new Rng(nelspark.expr.Kernels.mix64(seed ^ (e * 0xC0FFEEL + 1)))
    val first = firstNames(r.nextInt(firstNames.length))
    val last = lastNames(r.nextInt(lastNames.length))
    if (r.nextDouble() < 0.4) {
      val mid = firstNames(r.nextInt(firstNames.length))
      s"$first $mid $last"
    } else s"$first $last"
  }

  /** Entity topic vocabulary: 20 deterministic distinct topic words. */
  def entityTopics(e: Long, seed: Long): IndexedSeq[String] = {
    val r = new Rng(nelspark.expr.Kernels.mix64(seed ^ (e * 0xBEEFL + 7)))
    val out = collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 20) out += topicVocab(r.nextInt(topicVocab.length))
    out.toIndexedSeq
  }

  /** Apply one corruption op chosen by the rng; never touches a token's
    * first character (keeps capitalization → detector-recoverable). */
  def corrupt(name: String, r: Rng): String = {
    val toks = name.split(' ')
    val p = r.nextDouble()
    if (p < 0.60) name                                    // identity
    else if (p < 0.72) {                                  // single-char typo
      val ti = r.nextInt(toks.length)
      val t = toks(ti)
      if (t.length < 4) name
      else {
        val pos = 1 + r.nextInt(t.length - 2)
        val op = r.nextInt(3)
        toks(ti) = op match {
          case 0 => t.substring(0, pos) + t.charAt(pos + 1) + t.charAt(pos) +
            t.substring(pos + 2) // swap
          case 1 => t.substring(0, pos) + t.substring(pos + 1) // delete
          case _ => t.substring(0, pos) + t.charAt(pos) + t.substring(pos) // dup
        }
        toks.mkString(" ")
      }
    } else if (p < 0.82) {                                // abbreviate first
      if (toks.length >= 2) (toks(0).charAt(0) + ".") +: toks.drop(1) mkString " "
      else name
    } else if (p < 0.90) {                                // drop middle token
      if (toks.length == 3) s"${toks(0)} ${toks(2)}" else name
    } else fold(name)                                     // diacritic fold
  }

  /** Generate the labeled corpus as a typed Dataset (no shuffle; scales
    * linearly with partitions). `hotFrac` of pages go to `hotEntities`
    * head entities — a Zipf-ish skew knob. */
  def generate(spark: SparkSession, nPages: Long, nEntities: Long,
      seed: Long = 42L, hotFrac: Double = 0.2, hotEntities: Int = 20,
      partitions: Int = 0): Dataset[GenPage] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, nPages, 1, parts).map { i =>
      val r = new Rng(nelspark.expr.Kernels.mix64(seed ^ (i * 0x5EEDL + 13)))
      val e =
        if (r.nextDouble() < hotFrac) r.nextInt(math.min(hotEntities.toLong, nEntities).toInt).toLong
        else Math.floorMod(r.nextLong(), nEntities)
      val canonical = entityName(e, seed)
      val surface = corrupt(canonical, r)
      val topics = entityTopics(e, seed)
      val nCtx = 40 + r.nextInt(41)
      val mentionAt = 5 + r.nextInt(10)
      val sb = new StringBuilder
      var w = 0
      while (w < nCtx) {
        if (w == mentionAt) { sb.append(surface); sb.append(' ') }
        val word =
          if (r.nextDouble() < 0.6) topics(r.nextInt(topics.length))
          else commonWords(r.nextInt(commonWords.length))
        sb.append(word)
        if (w < nCtx - 1) sb.append(' ')
        w += 1
      }
      val body = sb.toString
      val site = Math.floorMod(nelspark.expr.Kernels.mix64(i * 31L + seed), 100L)
      val url = s"https://site$site.example/p/$i"
      val title = s"Report $i"
      val html = s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val text = nelspark.expr.Kernels.extractText(html)
      val lang = {
        val lr = r.nextDouble()
        if (lr < 0.9) "en" else if (lr < 0.94) "es" else if (lr < 0.97) "zh" else "de"
      }
      GenPage(url, new Timestamp(1704067200000L + i * 97000L), html, text,
        lang, e, surface)
    }
  }

  /** The `input_hint`-shaped pages view (gold columns dropped). */
  def pages(gen: Dataset[GenPage]): DataFrame =
    gen.toDF().select("url", "warc_ts", "html", "text", "lang")

  /** Gold labels: (url, entity_id, surface). */
  def gold(gen: Dataset[GenPage]): DataFrame =
    gen.toDF().select("url", "entity_id", "surface")

  /** Materialize a fixture dir (pages.parquet + gold.parquet), pinned by
    * [[Fixtures.ensurePinned]]: regenerated when the params or the
    * generator code change. */
  def ensureFixture(spark: SparkSession, dir: String, nPages: Long,
      nEntities: Long, seed: Long = 42L): Unit =
    Fixtures.ensurePinned(dir, Fixtures.tag(s"corpus:$nPages:$nEntities:$seed")) { tmp =>
      val g = generate(spark, nPages, nEntities, seed)
      g.cache()
      pages(g).write.parquet(s"$tmp/pages.parquet")
      gold(g).write.parquet(s"$tmp/gold.parquet")
      g.unpersist(): Unit
    }
}
