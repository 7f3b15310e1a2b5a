package nelspark.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * SRC2/SRC3: gold-corpus TSV reader (the reference parses CoNLL-YAGO
 * TSV into docs + gold links, nel/corpora/conll.py — reference absent
 * at survey time, SURVEY.md §0/§2.1). Format here is CoNLL-2003-style:
 * one token per line, tab-separated `(line_no, token, ner)`, docs
 * delimited by `-DOCSTART-` rows, mentions as B-ENT/I-ENT runs. The
 * explicit line_no column makes row order engine-independent (CSV scan
 * order is not a contract in either Spark or DuckDB).
 *
 * Two regroup paths:
 *  - [[tokens]]: running count over a per-file ordered window — the
 *    contract is ONE bounded gold-corpus file (CoNLL-YAGO is ~1400 docs
 *    in one file), so this is a single partition in practice without a
 *    no-partition global window in the plan;
 *  - [[tokensMultiFile]]: the 100-TB shape — per-FILE windows keyed by
 *    `input_file_name()` plus a two-pass boundary-offset join: pass 1
 *    aggregates one tiny row per file (doc count, first line) and
 *    prefix-sums the doc offsets on the driver (bounded: 1 row/file);
 *    pass 2 broadcasts the offsets back so every file regroups
 *    independently in parallel. A doc (or mention) split across a file
 *    boundary lands in the previous file's last doc index by
 *    construction (leading tokens have local doc count 0).
 *    ConllSpec asserts multi-file ≡ single-file mentions.
 */
object Conll {

  /**
   * Deterministically derive a CoNLL TSV fixture from a documents
   * parquet table (first `nDocs` docs by doc_id; capitalized-run B/I
   * tagging — the same convention as the P3 mention detector) and write
   * it idempotently (atomic move, byte-stable across calls) to `path`.
   * Derives from a FIXED sf level so every run at any sf produces the
   * same bytes — the DuckDB oracle reads this file by literal path.
   */
  def ensureFixture(spark: SparkSession, docsParquet: String, path: String,
      nDocs: Int = 100): String = {
    // Skip-if-current (optimization round 6): the fixture bytes are a
    // pure function of (params, input parquet, generator code) — the
    // same self-validating tag contract as Fixtures.ensurePinned (the
    // kernel-hash component covers every package in
    // Fixtures.kernelPackages, this one included, so a recompile here
    // regenerates the file; `:v1` remains for intentional contract
    // bumps). Previously every call re-collected the docs and rewrote
    // the file.
    val tagVal = nelspark.gen.Fixtures.tag(s"conll_tsv:v1:$nDocs", docsParquet)
    val tagPath = Paths.get(path + ".tag")
    if (Files.exists(Paths.get(path)) && Files.exists(tagPath) &&
        Files.readString(tagPath).trim == tagVal) return path
    val docs = spark.read.parquet(docsParquet).select("doc_id", "text")
      .filter(col("doc_id") < nDocs).orderBy("doc_id").collect()
    val sb = new StringBuilder
    var ln = 0L
    def line(tok: String, ner: String): Unit = {
      sb.append(ln).append('\t').append(tok).append('\t').append(ner).append('\n')
      ln += 1
    }
    // synthetic docs are all-lowercase: proper-case a fixed word set so
    // the fixture has real B/I entity runs (same trick as q_mentions)
    val capWords = Set("spark", "customer", "table", "window", "query")
    docs.foreach { r =>
      line("-DOCSTART-", "O")
      val toks = r.getString(1).split("\\s+").filter(_.nonEmpty)
      var prevCap = false
      toks.foreach { t0 =>
        // strip CSV-hostile chars so both engines parse without quoting
        val t1 = t0.replaceAll("[\"\\\\\t]", "")
        val t = if (capWords(t1)) t1.capitalize else t1
        if (t.nonEmpty) {
          val cap = Character.isUpperCase(t.charAt(0))
          val ner = if (!cap) "O" else if (prevCap) "I-ENT" else "B-ENT"
          line(t, ner)
          prevCap = cap
        }
      }
    }
    val tmp = Paths.get(path + ".tmp." + ProcessHandle.current().pid())
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    // tag AFTER the fixture lands: a crash in between leaves a missing/
    // stale tag and the next call simply regenerates
    val tagTmp = Paths.get(path + ".tag.tmp." + ProcessHandle.current().pid())
    Files.writeString(tagTmp, tagVal)
    Files.move(tagTmp, tagPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    path
  }

  /** Sharded twin of [[ensureFixture]] (drives the multi-file regroup
    * through the driver oracle): the SAME fixture bytes split into
    * `nShards` contiguous chunks at fixed line offsets — mid-doc (and
    * possibly mid-mention) by construction, so shard boundaries exercise
    * the two-pass offset join. Idempotent: same bytes every call.
    *
    * The shard SET is swapped atomically (round-3 advice): shards are
    * written into a fresh temp directory which is then renamed into
    * place — a concurrent reader globbing the dir sees either the whole
    * old set or the whole new set (or, in the instant between the two
    * renames, a missing dir → loud failure), never a mixed set or a
    * stale higher-index shard from a wider previous run. */
  def ensureShards(spark: SparkSession, docsParquet: String, dir: String,
      nDocs: Int = 100, nShards: Int = 4): String = {
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    // sweep leftovers of crashed prior swaps (same naming scheme) — but
    // never a live sibling JVM's in-flight generation (round-4 advice:
    // its embedded pid is still alive). Runs BEFORE the skip-if-current
    // early return so hygiene is preserved even when regeneration is
    // skipped.
    Option(Paths.get(dir).getParent.toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches(
        java.util.regex.Pattern.quote(Paths.get(dir).getFileName.toString) +
          "\\.(tmp|old)\\.\\d+"))
      .filterNot(f => nelspark.gen.Fixtures.ownerAlive(f.getName))
      .foreach(rmTree)
    // Skip-if-current, same contract as ensureFixture above. The tag's
    // params cover nShards too, which also closes the name-only
    // installedOk acceptance gap (a same-name different-size install no
    // longer passes silently — its tag differs).
    val shardsTag = nelspark.gen.Fixtures.tag(
      s"conll_shards:v1:$nDocs:$nShards", docsParquet)
    val shardsTagPath = Paths.get(dir + ".tag")
    if (Files.exists(Paths.get(dir)) && Files.exists(shardsTagPath) &&
        Files.readString(shardsTagPath).trim == shardsTag) return dir
    val single = ensureFixture(spark, docsParquet, dir + ".tsv", nDocs)
    val lines = Files.readAllLines(Paths.get(single))
    val pid = ProcessHandle.current().pid()
    val tmpDir = Paths.get(s"$dir.tmp.$pid")
    Files.createDirectories(tmpDir)
    val per = (lines.size + nShards - 1) / nShards
    for (i <- 0 until nShards) {
      val from = math.min(i * per, lines.size)
      val to = math.min((i + 1) * per, lines.size)
      Files.write(tmpDir.resolve(f"shard$i%03d.tsv"), lines.subList(from, to))
    }
    // the installed set is valid iff it is exactly the nShards files this
    // call would write — the fixture bytes are deterministic, so a
    // concurrent JVM's winning swap installed a byte-equivalent set
    def installedOk: Boolean = {
      val fs = Option(Paths.get(dir).toFile.listFiles())
        .getOrElse(Array.empty).map(_.getName).sorted
      fs.sameElements((0 until nShards).map(i => f"shard$i%03d.tsv"))
    }
    val target = Paths.get(dir)
    val old = Paths.get(s"$dir.old.$pid")
    try {
      if (Files.exists(target))
        Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmpDir, target, StandardCopyOption.ATOMIC_MOVE)
      rmTree(old.toFile)
    } catch {
      // a concurrent JVM can win the swap race (round-4 advice — the
      // loser's second move throws); its installed set is byte-equivalent
      // by determinism, so accept it and drop our temp copy
      case _: java.io.IOException if installedOk =>
        rmTree(tmpDir.toFile)
    }
    val tagTmp = Paths.get(s"$dir.tag.tmp.$pid")
    Files.writeString(tagTmp, shardsTag)
    Files.move(tagTmp, shardsTagPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    dir
  }

  /** Raw one-token-per-line TSV scan. Quoting and escaping are DISABLED
    * (round-3 advice): CoNLL TSV is raw tab-separated text, not CSV — a
    * real-world token containing `"` or `\` must parse as itself, one
    * token per line, exactly as the DuckDB oracle's `quote=''` read and
    * the documented raw-TSV contract do. Spark's CSV defaults would
    * silently re-join/mangle such lines. */
  private def rawTsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t")
      .option("quote", "").option("escape", "")
      .schema("line_no LONG, token STRING, ner STRING").csv(path)

  /** Token rows regrouped into docs: doc_idx from a running count of
    * `-DOCSTART-` boundary rows, tok_pos the 0-based position within
    * the doc. */
  def tokens(spark: SparkSession, path: String): DataFrame = {
    // The contract is ONE bounded gold-corpus file (see header;
    // tokensMultiFile is the scale path), so the running doc count is
    // partitioned by the file name: semantically the same single
    // partition, but through a real (non-foldable) key. A literal
    // partition key would NOT silence the WindowExec no-partition
    // warning — round-4 verdict verified empirically that Catalyst
    // optimizes a foldable key away and the warning still fires — and
    // leaving the warning in the bench tail misleads anyone auditing it
    // for genuine single-partition regressions.
    val raw = rawTsv(spark, path).withColumn("fname", input_file_name())
    val w = Window.partitionBy("fname").orderBy("line_no")
    raw
      .withColumn("doc_idx",
        sum(when(col("token") === "-DOCSTART-", 1L).otherwise(0L)).over(w))
      .filter(col("token") =!= "-DOCSTART-")
      .withColumn("tok_pos",
        (row_number().over(Window.partitionBy("doc_idx").orderBy("line_no")) - 1)
          .cast("long"))
      .drop("fname")
  }

  /** Scalable multi-file token regroup (the 100-TB shape — see header).
    * Expects a directory of TSV shards whose `line_no` is globally
    * consistent (shards of one logical corpus). Every window below is
    * keyed by file or by doc — nothing forces a single partition; the
    * cross-file doc-offset prefix sum is a bounded driver-side scan of
    * the 1-row-per-file summary. */
  def tokensMultiFile(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawTsv(spark, dir).withColumn("fname", input_file_name())
    val isStart = when(col("token") === "-DOCSTART-", 1L).otherwise(0L)
    // pass 1: one tiny row per file → prefix-sum of doc counts in file
    // order (first global line_no wins; fname tie-break for determinism).
    // The prefix sum runs on the DRIVER: the input is 1 row per FILE —
    // bounded at any corpus scale — and a driver-side scan of it is
    // honest where a global ordered window over the same rows would both
    // fire the WindowExec no-partition warning and hide a real
    // single-partition stage in the plan (round-4 verdict: a foldable
    // lit(0) partition key does not suppress the warning — Catalyst
    // optimizes it away).
    val perFile = raw.groupBy("fname").agg(
      sum(isStart).as("n_docs"), min("line_no").as("first_line"))
      .collect()
      .sortBy(r => (r.getAs[Long]("first_line"), r.getAs[String]("fname")))
    var acc = 0L
    val offsetRows = perFile.map { r =>
      val off = acc; acc += r.getAs[Long]("n_docs")
      (r.getAs[String]("fname"), off)
    }.toSeq
    import spark.implicits._
    val offsets = offsetRows.toDF("fname", "doc_offset")
    // pass 2: per-file running count + broadcast offset join
    val wf = Window.partitionBy("fname").orderBy("line_no")
    raw
      .withColumn("ldoc", sum(isStart).over(wf))
      .join(broadcast(offsets), Seq("fname"))
      .withColumn("doc_idx", col("doc_offset") + col("ldoc"))
      .filter(col("token") =!= "-DOCSTART-")
      .withColumn("tok_pos",
        (row_number().over(Window.partitionBy("doc_idx").orderBy("line_no")) - 1)
          .cast("long"))
      .select("line_no", "token", "ner", "doc_idx", "tok_pos")
  }

  /** Gold mentions reassembled from B-ENT/I-ENT runs (gaps-and-islands:
    * island id = running count of B tags PER DOC — unique within the
    * (doc_idx, mid) group key, and partitioned by doc so the step scales
    * with either token source). One row per mention with [begin_tok,
    * end_tok) token span and the space-joined surface name. */
  def mentionsFrom(t: DataFrame): DataFrame = {
    val wd = Window.partitionBy("doc_idx").orderBy("line_no")
    t.withColumn("mid",
        sum(when(col("ner") === "B-ENT", 1L).otherwise(0L)).over(wd))
      .filter(col("ner") =!= "O")
      .groupBy("doc_idx", "mid")
      .agg(min("tok_pos").as("begin_tok"),
        (max(col("tok_pos")) + lit(1L)).as("end_tok"),
        array_join(
          transform(array_sort(collect_list(struct(col("tok_pos"), col("token")))),
            x => x.getField("token")), " ").as("name"))
      .select("doc_idx", "begin_tok", "end_tok", "name")
  }

  /** Single-file gold mentions (fixture path). */
  def mentions(spark: SparkSession, path: String): DataFrame =
    mentionsFrom(tokens(spark, path))

  /** Multi-file gold mentions (scalable path). */
  def mentionsMultiFile(spark: SparkSession, dir: String): DataFrame =
    mentionsFrom(tokensMultiFile(spark, dir))
}
