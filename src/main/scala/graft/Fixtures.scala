package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Curation, Dedup, Similarity, TextFunctions}

/** Per-JVM SHARED gate fixtures (VERDICT r16 #1: the 215-query suite's
  * idle floor no longer fits the driver's bench window when every gate
  * rebuilds its own expensive fixture). Each fixture is deterministic
  * and built ONCE per JVM per scale-factor dir, then reused by every
  * gate that starts from it; gates whose VERB mutates an on-disk
  * fixture tree operate on a fresh [[copyTree]] so samples stay
  * independent. Correctness is untouched — every consuming gate is
  * still hash-gated against its composed DuckDB oracle, and the
  * fixture build itself runs the exact library calls the gates ran
  * inline before. What moves is the ACCOUNTING: a fixture's cost is
  * paid once per run (inside whichever gate samples first), not once
  * per gate per sample.
  *
  * On-disk fixtures live under [[Scratch]] paths: pid-suffixed (two
  * JVMs never collide) and deleted at JVM exit.
  *
  * FIXTURE CHARTER (VERDICT r18 #6 — the accounting rule every entry
  * here must satisfy): a fixture may be (a) deterministic raw INPUT
  * data a gate consumes (file drops, planted corpora, sizing memos),
  * or (b) ANOTHER gate's verb artifact (an index/model whose build IS
  * some other gate's timed verb, e.g. [[lmModelPair]] for s20 where
  * training is t33/t40's verb) — NEVER the consuming gate's own
  * dominant declared stage. A gate whose verb is "build X" keeps
  * building X inside its sample. Per-fixture build seconds are
  * recorded in [[buildCosts]] and emitted by [[GateRunner.time]] as the
  * `"fixtures"` map, so the warmup cost that moved out of per-gate
  * numbers stays visible in the artifact instead of landing silently
  * in elapsed − total.
  */
object Fixtures {

  /** Wall seconds of every fixture build that has run in this JVM,
    * keyed by the fixture's short name (memo key minus the session /
    * dir prefix). Read by [[GateRunner.Timing.emit]]. */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def buildCosts: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
  }

  /** One memoized fixture slot. The builder runs inside the cell's
    * `lazy val` (synchronized on the cell, built at most once), NOT
    * inside a `ConcurrentHashMap` bin update — so a builder that
    * needs ANOTHER fixture (every `ivfPqTree*` calls [[ivfPqModel]])
    * re-enters [[of]] through plain `get`/`putIfAbsent` calls that
    * never hold a bin, instead of a nested `computeIfAbsent` that
    * throws `IllegalStateException("Recursive update")` whenever the
    * inner key hashes into the bin the thread is already updating
    * (VERDICT r17 #1: order-dependent — invisible after
    * [[prewarm]], fatal when a tree is built before the model). */
  private final class Cell(build: () => AnyRef) {
    lazy val value: AnyRef = build()
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** Build-once per key; the builder must be deterministic and
    * acyclic (fixtures may depend on other fixtures, never on
    * themselves). Two-phase get-then-putIfAbsent: the map update
    * only ever inserts an unevaluated cell. */
  private def of[T <: AnyRef](key: String)(build: => T): T = {
    val cell = memo.get(key) match {
      case existing: Cell => existing
      case null =>
        val fresh = new Cell(() => {
          // time the one real build for the emitted "fixtures" cost
          // map; the short name is the memo key minus its session/dir
          // prefix (stable across runs where the full key is not)
          val t0 = System.nanoTime()
          val v = build
          buildSecs.put(key.substring(key.lastIndexOf('#') + 1),
            (System.nanoTime() - t0) / 1e9)
          v
        })
        val prior = memo.putIfAbsent(key, fresh)
        if (prior == null) fresh else prior
    }
    cell.value.asInstanceOf[T]
  }

  /** Test-only: drop every memoized fixture so a spec can exercise
    * cold-map build orders (builders reset their scratch dirs, so a
    * rebuild is safe — just paid again by the next caller). */
  private[graft] def resetForTest(): Unit = memo.clear()

  /** DataFrame fixtures are session-bound (local relations resolve
    * against the session that made them); path fixtures are keyed by
    * dir alone (the bytes are session-independent). */
  private def skey(s: SparkSession, dir: String, name: String): String =
    s"${System.identityHashCode(s)}#$dir#$name"

  /** Copy a canonical fixture tree to a fresh per-gate scratch path —
    * the copy-on-mutate rule for gates whose verb (append / compact /
    * retrain / delete) changes the tree. Resets the destination first:
    * the bench samples a gate several times per JVM. */
  def copyTree(s: SparkSession, src: String, dir: String,
      destTag: String): String = {
    val dest = Scratch.path(dir, destTag)
    Scratch.reset(dest)
    require(TreeCopy.copy(s, src, dest),
      s"copyTree: fixture source $src is missing")
    dest
  }

  // ------------------------------------------------------------------
  // IVF-PQ family: the e11-shaped corpus split (queries = vec_id < 10)
  // with the k=8 coarse / m=4×k=8 PQ model over dims=64.
  // ------------------------------------------------------------------

  private def embSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables.df(s, dir, "embeddings")
    (emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10))
  }

  /** The full-corpus (centroids, codebooks) model — identical
    * training in e10–e14, e16, e19, s11 before sharing (8 × ~16
    * driver-scheduled Lloyd jobs). */
  def ivfPqModel(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    of(skey(s, dir, "ivfpq_model")) {
      val (corpus, _) = embSplit(s, dir)
      Similarity.trainIvfPq(corpus, kCoarse = 8, m = 4, k = 8, dims = 64)
    }

  /** Canonical e11 tree (full corpus, one-shot build) — READ-ONLY:
    * e12 searches it in place; e19 copies it before deleting. */
  def ivfPqTreeFull(s: SparkSession, dir: String): String =
    of(s"$dir#tree_full") {
      val (corpus, _) = embSplit(s, dir)
      val (cents, cb) = ivfPqModel(s, dir)
      val p = Scratch.path(dir, "fx_ivfpq_full")
      Scratch.reset(p)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus, cents, cb, m = 4, dims = 64), p)
      p
    }

  /** Canonical HALF tree (even vec_ids under the full-corpus model) —
    * e13's append starting point. */
  def ivfPqTreeHalfEven(s: SparkSession, dir: String): String =
    of(s"$dir#tree_half_even") {
      val (corpus, _) = embSplit(s, dir)
      val (cents, cb) = ivfPqModel(s, dir)
      val p = Scratch.path(dir, "fx_ivfpq_half")
      Scratch.reset(p)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 2 === 0),
          cents, cb, m = 4, dims = 64), p)
      p
    }

  /** Canonical FIVE-epoch fragmented tree (one file per cell per
    * epoch — the continuous-ingest debris) — e14's compaction
    * starting point. */
  def ivfPqTree5Epoch(s: SparkSession, dir: String): String =
    of(s"$dir#tree_5epoch") {
      val (corpus, _) = embSplit(s, dir)
      val (cents, cb) = ivfPqModel(s, dir)
      val p = Scratch.path(dir, "fx_ivfpq_5ep")
      Scratch.reset(p)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 5 === 0),
          cents, cb, m = 4, dims = 64), p)
      (1 until 5).foreach(r => Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 5 === r),
          cents, cb, m = 4, dims = 64), p))
      p
    }

  /** Canonical STALE-model tree (model trained on the even half only,
    * full corpus encoded under it) — e15's retrain starting point. */
  def ivfPqTreeStale(s: SparkSession, dir: String): String =
    of(s"$dir#tree_stale") {
      val (corpus, _) = embSplit(s, dir)
      val stale = corpus.filter(col("vec_id") % 2 === 0)
      val (cents0, cb0) = Similarity.trainIvfPq(stale, kCoarse = 8,
        m = 4, k = 8, dims = 64)
      val p = Scratch.path(dir, "fx_ivfpq_stale")
      Scratch.reset(p)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(stale, cents0, cb0, m = 4, dims = 64), p)
      Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 2 === 1),
          cents0, cb0, m = 4, dims = 64), p)
      p
    }

  /** Canonical SELF-CONTAINED (retrained) tree — READ-ONLY: s14's
    * stream search reads it in place. */
  def ivfPqTreeRetrained(s: SparkSession, dir: String): String =
    of(s"$dir#tree_retrained") {
      val (corpus, _) = embSplit(s, dir)
      val p = Scratch.path(dir, "fx_ivfpq_retrained")
      Scratch.reset(p)
      Similarity.retrainIvfPqIndex(s, p, corpus)
      p
    }

  // ------------------------------------------------------------------
  // Web-recipe family: p10/p11/p13 share the synthesized crawl and the
  // whole stage-1–4 survivor frame; only the FINAL stage differs
  // (drop-decontaminate vs span-cut vs DSIR select).
  // ------------------------------------------------------------------

  /** The synthesized crawl over `documents` (doc_id >= 20): markup
    * wrapped on every 4th doc, mixed-case/tracking-params URL variants,
    * near-dup url groups via the pid fold. Lazy projection — cheap —
    * shared so the three recipes stay literally the same corpus. */
  def crawlFrame(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("doc_id") >= 20)
    val pid = when(col("doc_id") % 10 < 2,
      col("doc_id") - (col("doc_id") % 10)).otherwise(col("doc_id"))
    base.select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("<div class=\"x\">"), col("text"),
          lit("</div> <script>var a = 1 < 2;</script>")))
        .otherwise(col("text")).as("raw"),
      when(col("doc_id") % 2 === 0,
        concat(lit("HTTP://WWW.web"), (pid % 40).cast("string"),
          lit(".COM:80/a/"), pid.cast("string"),
          lit("/?utm_source=x&b=2&a=1#f")))
        .otherwise(concat(lit("http://web"), (pid % 40).cast("string"),
          lit(".com/a/"), pid.cast("string"), lit("?a=1&b=2")))
        .as("url"))
  }

  /** Stage-1–4 survivors of the shared crawl (markup strip →
    * canonical-URL keep-first → gopher gate at minWords=10 →
    * near-dedup), materialized ONCE to parquet; p10/p11/p13 each
    * apply only their final stage on top. */
  def webSurvivors(s: SparkSession, dir: String): DataFrame = {
    val p = of(s"$dir#web_survivors") {
      val docs = Tables.df(s, dir, "documents")
      val path = Scratch.path(dir, "fx_web_surv")
      Scratch.reset(path)
      Curation.webSurvivors(crawlFrame(docs), col("doc_id"), col("url"),
          col("raw"),
          quality = Some(TextFunctions.gopherRules(col("text"),
            minWords = 10).getField("pass")))
        .write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  // ------------------------------------------------------------------
  // Record-linkage family: d25 is d24's full blocking + Levenshtein +
  // transitive closure plus ONE extra arg-max — share the closure.
  // ------------------------------------------------------------------

  /** Build every shared fixture up front — called from the bench
    * warmup (alongside the JVM/codegen warmup) so gate samples measure
    * their VERB, not the one-time fixture build; the build time still
    * lands inside the bench's budget window as warmup, and Verify
    * builds lazily on first touch. */
  def prewarm(s: SparkSession, dir: String): Unit = {
    ivfPqModel(s, dir)
    ivfPqTreeFull(s, dir)
    ivfPqTreeHalfEven(s, dir)
    ivfPqTree5Epoch(s, dir)
    ivfPqTreeStale(s, dir)
    ivfPqTreeRetrained(s, dir)
    webSurvivors(s, dir)
    linkageEntities(s, dir)
    semDedupLabels(s, dir)
    semDedupModelPath(s, dir)
    // optimization-r18 gate fixtures (two-epoch shard tree, span
    // indexes, LM/BPE model artifacts) — frames live next to their
    // gates, so the builds are triggered from there
    ExtensionQueries.prewarmFixtures(s, dir)
    ()
  }

  /** The d34 semantic-dedup labels over the planted embedding corpus
    * (d34's exact chain — Lloyd train + within-cluster pairs +
    * star-CC — via `semDedupWithDist`, which adds each row's exact
    * assignment distance off the same materialized pass),
    * materialized ONCE to parquet. d34 projects (vec_id, rep_id),
    * d35's quality arg-max and d37's farthest-from-centroid arg-max
    * both read it (the d24/d25 sharing shape on the embedding
    * groups). */
  def semDedupLabels(s: SparkSession, dir: String): DataFrame = {
    val p = of(s"$dir#semdedup_labels") {
      val emb = Tables.df(s, dir, "embeddings")
      val checked = emb.filter(
        assert_true(col("vec_id") < 100000,
          lit("semDedup fixture: vec_id >= 100000 collides with " +
            "planted duplicates — raise the plant offset")).isNull)
      val planted = checked.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      val path = Scratch.path(dir, "fx_semdedup")
      Scratch.reset(path)
      Similarity.semDedupWithDist(checked.unionByName(planted), k = 8,
          threshold = 0.95)
        .write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  /** The d36/s22 SemDeDup model artifact over the PLAIN embeddings
    * archive (no plants — the plants arrive as the increment), built
    * ONCE per JVM per dir; both gates only READ it
    * (semDedupIncrement / the streaming ingest never mutate the
    * tree), so no copy-on-mutate is needed. */
  def semDedupModelPath(s: SparkSession, dir: String): String =
    of(s"$dir#semdedup_model") {
      val emb = Tables.df(s, dir, "embeddings")
      val checked = emb.filter(
        assert_true(col("vec_id") < 100000,
          lit("semDedup model fixture: vec_id >= 100000 collides with " +
            "planted increment ids — raise the plant offset")).isNull)
      val p = Scratch.path(dir, "fx_semdedup_model")
      Scratch.reset(p)
      Similarity.writeSemDedupModel(checked, p, k = 8, threshold = 0.95)
      p
    }

  /** The (rec_id, entity_id) assignment over `customer` (d24's exact
    * call), materialized ONCE to parquet. */
  def linkageEntities(s: SparkSession, dir: String): DataFrame = {
    val p = of(s"$dir#linkage_entities") {
      val path = Scratch.path(dir, "fx_linkage")
      Scratch.reset(path)
      Dedup.linkRecords(Tables.df(s, dir, "customer"),
          col("c_custkey"), col("c_name"),
          struct(col("c_nationkey"), col("c_mktsegment")),
          maxDist = 1)
        .write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  // ------------------------------------------------------------------
  // Optimization-round-18 fixtures (guide §1.2: the gates' VERBS are
  // what the bench must time; deterministic inputs and read-only
  // side artifacts they start from are one-time fixtures). Every
  // consuming gate stays hash-gated against its unchanged oracle.
  // ------------------------------------------------------------------

  /** (max(doc_id), count) of the documents table — the split bounds
    * and micro-batch sizing inputs a dozen gates re-aggregated per
    * sample. One job, memoized per session+dir. */
  def docStats(s: SparkSession, dir: String): (Long, Long) =
    of(skey(s, dir, "doc_stats")) {
      val r = Tables.df(s, dir, "documents")
        .agg(max(col("doc_id")), count(lit(1))).head
      (r.getLong(0), r.getLong(1))
    }

  /** Memoized count of a gate-specific deterministic frame (micro-
    * batch partition sizing input — one count job per JVM, not per
    * sample). Keyed per session+dir+name; the builder must be the
    * same frame every call. */
  def countOf(s: SparkSession, dir: String, name: String)
      (df: => DataFrame): Long =
    of(skey(s, dir, s"count_$name")) { java.lang.Long.valueOf(df.count()) }
      .longValue()

  /** A memoized STREAMING-INPUT directory: the ordered file drops a
    * streaming gate feeds through `maxFilesPerTrigger=1`, written once
    * per JVM (each drop one `coalesce(1)` append — preserving the
    * drop order via strictly increasing mod-times, exactly as the
    * gates wrote them inline before). The input is deterministic gate
    * INPUT (not a result); every sample still runs the full streaming
    * computation over it against a fresh checkpoint/output. */
  def streamInput(s: SparkSession, dir: String, name: String)
      (drops: => Seq[DataFrame]): String =
    of(s"$dir#in_$name") {
      val p = Scratch.path(dir, s"fx_in_$name")
      Scratch.reset(p)
      // ENFORCE the strictly-increasing mod-time contract instead of
      // asserting it (ADVICE r18: sequential appends can land within
      // the filesystem's mtime granularity, and FileStreamSource
      // orders drops by mtime — a tie could reorder an
      // order-sensitive stream like s13's out-of-order-then-repair):
      // after each drop's write, its new data files are stamped with
      // the drop's own strictly increasing timestamp.
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = System.currentTimeMillis()
      val seen = scala.collection.mutable.Set.empty[String]
      drops.zipWithIndex.foreach { case (d, i) =>
        d.coalesce(1).write.mode("append").parquet(p)
        fs.listStatus(root).foreach { f =>
          val n = f.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".") && seen.add(n))
            fs.setTimes(f.getPath, base + i * 1000L, -1)
        }
      }
      p
    }

  /** Two-epoch [[graft.functions.Curation.appendShards]] tree over
    * `documents` (lower/upper doc_id halves, budget 20000) — the
    * identical build p07 and p12 each ran per sample; both verbs
    * MUTATE the tree (compactShardEpochs / deleteFromShards), so each
    * sample operates on a [[copyTree]]. */
  def shardTree2Epoch(s: SparkSession, dir: String): String =
    of(s"$dir#shard_tree_2ep") {
      val base = Tables.df(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val (maxId, _) = docStats(s, dir)
      val p = Scratch.path(dir, "fx_shard_2ep")
      Scratch.reset(p)
      Curation.appendShards(base.filter(col("doc_id") <= maxId / 2),
        "lang", "doc_id", "n_chars", budget = 20000L, p, epoch = 0L)
      Curation.appendShards(base.filter(col("doc_id") > maxId / 2),
        "lang", "doc_id", "n_chars", budget = 20000L, p, epoch = 1L)
      p
    }

  /** The d33/s19 planted span corpus: slogan suffix on every 7th doc. */
  def spanPlanted(docs: DataFrame, slogan: String): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + slogan)))
        .otherwise(col("text")).as("text"))

  /** The d33/s19 archive span index (planted lower-half corpus at the
    * shared [[ExtensionQueries.SpanSlogan]], k = 8), built once. d33
    * READS it in place (removeRepeatedSpansIncremental never writes);
    * s19's stream GROWS it, so that gate runs on a [[copyTree]].
    * Parameter-free on purpose (ADVICE r18: a memo key that omits a
    * builder parameter silently hands the first caller's artifact to
    * every later caller — so the shared frame builders are called
    * INTERNALLY instead of being passed in). */
  def spanArchiveIndex(s: SparkSession, dir: String): String =
    of(s"$dir#span_archive_idx") {
      val (maxId, _) = docStats(s, dir)
      val archive = spanPlanted(Tables.df(s, dir, "documents"),
          ExtensionQueries.SpanSlogan)
        .filter(col("doc_id") <= maxId / 2)
      val p = Scratch.path(dir, "fx_spanidx_archive")
      Scratch.reset(p)
      Dedup.writeCorpusSpanIndex(archive, col("doc_id"), col("text"),
        p, k = 8)
      p
    }

  /** The d31/d32/s16 benchmark span index (the shared
    * [[ExtensionQueries.spanBenchFrame]], k = 5) — READ-ONLY for
    * s16's per-batch decontamination sweep. Parameter-free (see
    * [[spanArchiveIndex]]). */
  def benchSpanIndex(s: SparkSession, dir: String): String =
    of(s"$dir#span_bench_idx") {
      val p = Scratch.path(dir, "fx_spanidx_bench")
      Scratch.reset(p)
      Dedup.writeSpanIndex(ExtensionQueries.spanBenchFrame(s, dir),
        col("text"), p, k = 5)
      p
    }

  /** The t39/t40/s20 DSIR model pair (target = en docs, raw = all
    * docs, order-2) — READ-ONLY artifacts the scoring re-reads per
    * batch. Returns (targetPath, rawPath). */
  def lmModelPair(s: SparkSession, dir: String): (String, String) =
    of(skey(s, dir, "lm_model_pair")) {
      val docs = Tables.df(s, dir, "documents")
      val tPath = Scratch.path(dir, "fx_lm_target")
      val rPath = Scratch.path(dir, "fx_lm_raw")
      Seq(tPath, rPath).foreach(Scratch.reset)
      TextFunctions.writeLmModel(docs.filter(col("lang") === "en"),
        col("text"), tPath, order = 2)
      TextFunctions.writeLmModel(docs, col("text"), rPath, order = 2)
      (tPath, rPath)
    }

  /** The organic near-dup pair graph — exact-Jaccard pairs at 0.8
    * over word-3-gram shingles of `documents` — materialized ONCE to
    * parquet. NINE gates consume this identical frame as their INPUT
    * graph (d08/d10 connected components, g01–g07 graph analytics);
    * the pair GENERATION itself stays d03's timed verb. */
  def neardupPairs(s: SparkSession, dir: String): DataFrame = {
    val p = of(s"$dir#neardup_pairs") {
      val path = Scratch.path(dir, "fx_neardup_pairs")
      Scratch.reset(path)
      Dedup.jaccardPairs(
          Dedup.shingleRows(Tables.df(s, dir, "documents"),
            col("doc_id"), col("text")), 0.8)
        .write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  /** The s18 BPE model artifact (8 merges over the shared
    * [[ExtensionQueries.bpeTrainFrame]] t36 training corpus) —
    * READ-ONLY for the per-batch encode (the artifact ROUND-TRIP
    * gates t38/p14 keep building theirs inline: there the write is
    * part of the verb). Parameter-free (see [[spanArchiveIndex]]). */
  def bpeModel8(s: SparkSession, dir: String): String =
    of(s"$dir#bpe_model8") {
      val p = Scratch.path(dir, "fx_bpe_model8")
      Scratch.reset(p)
      TextFunctions.writeBpeModel(ExtensionQueries.bpeTrainFrame(s, dir),
        col("text"), p, numMerges = 8)
      p
    }
}
