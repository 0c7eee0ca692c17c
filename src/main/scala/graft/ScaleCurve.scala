package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GateRunner.jsonString
import graft.functions.{Curation, Dedup, Graph, Similarity, TextFunctions}
import graft.functions.expressions.LshBuckets

/** Scaling-curve harness: times the banded/LSH operators at several corpus
  * sizes so SCALE.md's "near-linear" claims are measured, not argued.
  *
  * Two modes:
  *
  * `gen <srcDir> <outDir> <replicas>` — writes a `replicas`× copy of
  * `documents.parquet` / `embeddings.parquet`. Replicas are built to keep
  * the corpus a LARGER SAMPLE OF THE SAME DISTRIBUTION rather than a
  * duplicate explosion: every word in replica r>0 gets a replica tag
  * appended (shingle sets disjoint across replicas ⇒ the planted near-dup
  * structure repeats per replica, cross-replica similarity is zero, so
  * pair counts scale linearly with corpus size); embeddings are rotated
  * by a replica-dependent offset (rotation preserves all pairwise dot
  * products within a replica, cross-replica cosines are near zero). Ids
  * are `id*replicas + r`, which preserves d06's `% 50` plant rate and
  * e02's `< 10` query count exactly across scales.
  *
  * `time <out.json> <label=dir> [label=dir ...]` — runs each curve query
  * at each dir (noop-executed: full plan, no sink IO), `n` samples each,
  * and prints one JSON document with per-sample times, minima, and input
  * row counts. Exponent fitting happens outside (log t vs log rows).
  *
  * The curve set is the gate configs for d03/d04/d06/t04/e02, the
  * PRODUCTION 56-bit config for d07 (the 16-bit gate config is
  * deliberately recall-heavy — 4-bit chunks give 16 buckets/band, which
  * is quadratic by design and documented as gate-only), and guard-enabled
  * variants of d03/d04 so the round-4 hot-bucket/stop-shingle caps are
  * exercised at 10×.
  */
object ScaleCurve {

  private def docs(s: SparkSession, dir: String) = Tables.df(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.df(s, dir, "embeddings")

  /** Per-tree epoch counters for the s12 curve entry: the tree is
    * seeded once per (JVM, dir) and every sample appends one more
    * fixed-size epoch on top — the steady-state cost the curve
    * reports via the min over samples. */
  private val s12Epochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Corpus + planted near-duplicates whose ids are guaranteed disjoint:
    * the plant offset is max(vec_id)+1, not a fixed constant — a fixed
    * 100000 collides with real ids once a generated corpus exceeds 100k
    * embeddings and silently skews the measured candidate counts. The
    * max() is one columnar scan per call, noise next to the candidate
    * stage it feeds, and identical in cost across scales.
    */
  private def withPlanted(e: DataFrame): DataFrame = {
    val maxId = e.agg(max(col("vec_id"))).first().getLong(0)
    e.unionByName(e.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + lit(maxId + 1)))
  }

  /** Queries measured for the curve. Shapes mirror SparkEntry gates
    * (minus the oracle-only orderBy — sorting tiny outputs is noise).
    */
  val curve: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "d03_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8)),
    "d03_guarded" -> ((s, dir) =>
      Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8,
        maxShingleDocFreq = 50)),
    "d04_minhash_lsh" -> ((s, dir) => {
      val sh = Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text"))
      Dedup.jaccardForPairs(sh,
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(sh, 8), 4, 2), 0.8)
    }),
    "d04_guarded" -> ((s, dir) => {
      val sh = Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text"))
      Dedup.jaccardForPairs(sh,
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(sh, 8), 4, 2,
          maxBucketSize = 100), 0.8)
    }),
    "d06_embedding_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        withPlanted(emb(s, dir)), 0.95, planes = 8, dims = 64, tables = 4)),
    "d07_simhash56" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(docs(s, dir), col("doc_id"), col("text"), 56),
        bits = 56, maxHamming = 3)),
    "t04_winnowing" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"), 5, 4)).as("fp"))),
    "e02_knn_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLsh(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        5, planes = 8, dims = 64)
    }),
    "d13_winnow_pairs" -> ((s, dir) => {
      val fps = docs(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"), 12, 8)).as("fp"))
      Dedup.winnowPairs(fps, minShared = 5L, maxFpDocFreq = 20)
    }),
    // round-10 curve additions: the COMPOSED one-call paths the r9
    // verdict asked to evidence at scale (gate configs d16/d17/d22),
    // plus the large×large ANN join (e04 gate config)
    "d16_dedup_near_lsh" -> ((s, dir) =>
      Dedup.dedupNear(docs(s, dir), col("doc_id"), col("text"), 0.8,
        strategy = Dedup.MinHashLsh(bands = 4, rowsPerBand = 2))),
    "d17_incremental_lsh" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupIncremental(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), threshold = 0.8,
        strategy = Dedup.MinHashLsh(bands = 4, rowsPerBand = 2))
    }),
    "d22_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(d.filter(col("doc_id") >= 20),
        d.filter(col("doc_id") < 20),
        col("doc_id"), col("text"), minCommon = 10)
    }),
    "e04_ann_join" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.annJoin(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        k = 3, planes = 8, dims = 64, tables = 2)
    }),
    // round-10-tail curve additions: exact-substring span removal (the
    // d23 gate config minus the planted slogan — the corpus's own
    // duplication volume drives the marked-window term) and the
    // cluster-balanced sample (e06 gate config; the quota window must
    // stay flat per-cluster as the corpus grows)
    "d23_repeated_spans" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(docs(s, dir), col("doc_id"), col("text"), 8)),
    "e06_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(emb(s, dir), k = 8, perCluster = 5)),
    // round-11 curve additions: record linkage on a documents-derived
    // entity table (fixed (lang, source) blocking — the unguarded
    // quadratic — vs the maxBlockSize guard), the triangle stage over
    // the d03 pair graph, and the JL-prefilter ANN
    "d24_linkage" -> ((s, dir) =>
      Dedup.linkRecords(
        docs(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 24).as("name"),
          concat_ws("|", col("lang"), col("source")).as("blk")),
        col("doc_id"), col("name"), col("blk"),
        maxDist = 3, maxBlockSize = Int.MaxValue - 1)),
    "d24_guarded" -> ((s, dir) =>
      Dedup.linkRecords(
        docs(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 24).as("name"),
          concat_ws("|", col("lang"), col("source")).as("blk")),
        col("doc_id"), col("name"), col("blk"),
        maxDist = 3, maxBlockSize = 100)),
    "g02_triangles" -> ((s, dir) =>
      Graph.triangleCounts(Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8))),
    "e08_knn_jl" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnJlPrefilter(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        k = 5, candidates = 50)
    }),
    // round-11-tail curve additions: k-core peeling over the organic
    // near-dup graph (rounds × edges — the iterative-join cost), the
    // KMV sketch over the exploded word stream (aggregation input is
    // corpus-linear, sketch state is k-bounded), and the shard
    // manifest (the t12 packing window + rollup)
    "g04_kcore" -> ((s, dir) =>
      Graph.kCore(Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8),
        k = 2)),
    "x09_kmv" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextFunctions.words(col("text"))).as("w"))
        .agg(graft.functions.expressions.KmvDistinct(col("w"), 4096)
          .as("n_distinct_words"))),
    "p04_manifest" -> ((s, dir) =>
      Curation.shardManifest(docs(s, dir), col("lang"), col("doc_id"),
        col("n_chars"), budget = 2000L)),
    // round-12 additions — the same shapes the new gates run, on the
    // replica tables (documents/embeddings are all a replica dir has)
    "d27_linkage_multikey" -> ((s, dir) => {
      val name = substring(col("text"), 1, 24)
      val keys = (0 until 4).map { q =>
        concat(substring(name, 1, q * 6), lit("*"),
          substring(name, q * 6 + 7, 18 - q * 6))
      }
      Dedup.linkRecordPairsMultiKey(docs(s, dir), col("doc_id"), name,
        keys, maxDist = 1)
    }),
    "d28_decontam_artifact" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = Scratch.path(dir, "curve_d28")
      Dedup.writeBenchIndex(d.filter(col("doc_id") < 20),
        col("doc_id"), col("text"), path)
      Dedup.decontaminateWithIndex(d.filter(col("doc_id") >= 20), path,
        col("doc_id"), col("text"), minCommon = 10)
    }),
    "e12_ivfpq_disk" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val cents = Similarity.ivfTrain(corpus, k = 8)
      val cb = Similarity.pqTrain(corpus, m = 4, k = 8, dims = 64)
      val path = Scratch.path(dir, "curve_e12")
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus, cents, cb, m = 4, dims = 64), path)
      Similarity.knnIvfPqOnDisk(s, path, cents, cb, queries, corpus,
        k = 5, nprobe = 2, rerank = 50)
    }),
    "g05_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(
        Dedup.jaccardPairs(
          Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8)
          .select(col("id_a"), col("id_b")),
        iters = 4)),
    // round-13 additions: the incremental-shard claim, measured. Both
    // entries time ONE maintenance epoch as the accumulated corpus
    // grows 1×→3×→10×:
    //  - s12_append_epoch packs a FIXED 512-doc increment into a tree
    //    seeded with the whole corpus (the seed pack lands in sample 1;
    //    the reported MIN is the steady-state epoch) — expected FLAT;
    //  - s10_rebuild_epoch is the full writeShards re-pack the old
    //    streaming path paid per micro-batch — expected corpus-linear.
    // The gap between the two curves IS the scale defect s12 removed.
    "s12_append_epoch" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = Scratch.path(dir, "curve_s12")
      val ctr = s12Epochs.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.AtomicLong(0))
      val epoch = ctr.getAndIncrement()
      val maxId = d.agg(max(col("doc_id"))).first().getLong(0)
      if (epoch == 0)
        Curation.appendShards(d, "lang", "doc_id", "n_chars",
          budget = 2000L, path = path, epoch = 0L)
      val inc = d.orderBy(col("doc_id")).limit(512)
        .withColumn("doc_id", col("doc_id") + lit((maxId + 1) * (epoch + 1)))
      Curation.appendShards(inc, "lang", "doc_id", "n_chars",
        budget = 2000L, path = path, epoch = epoch + 1)
      s.range(1).toDF("ok")
    }),
    "s10_rebuild_epoch" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = Scratch.path(dir, "curve_s10r")
      Scratch.reset(path)
      Curation.writeShards(d, "lang", "doc_id", "n_chars",
        budget = 2000L, path = path)
      s.range(1).toDF("ok")
    }),
    // round-14 additions: the new corpus-scale text/graph operators.
    //  - t29: model trained on the en slice (corpus-linear aggregates,
    //    vocabulary²-bounded output), whole corpus scored through the
    //    broadcast join — expected ~linear end to end;
    //  - d31: span decontamination at the d22 bench convention (ids
    //    < 20 = a CONSTANT bench while the corpus grows — replica ids
    //    are id·replicas + r, so the slice stays the two original
    //    docs' replicas); cost = the corpus window projection plus a
    //    rebuild bounded by the contaminated fraction — expected
    //    ~linear;
    //  - g06: personalized PageRank over the organic d03 pair graph
    //    (g01's per-sweep cost with the seed flag riding a broadcast).
    "t29_lm_familiarity" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = TextFunctions.lmTrainBigrams(
        d.filter(col("lang") === "en"), col("text"))
      TextFunctions.lmFamiliarity(d, model, col("doc_id"), col("text"))
    }),
    "d31_decontam_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminateSpans(d.filter(col("doc_id") >= 20),
        d.filter(col("doc_id") < 20),
        col("doc_id"), col("text"), col("text"), k = 5)
    }),
    // round 15: order-3 LM — same train/score shape as t29, the wider
    // shingle only fattens the projection and the model frame
    "t32_lm_ngram3" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = TextFunctions.lmTrainNgrams(
        d.filter(col("lang") === "en"), col("text"), order = 3)
      TextFunctions.lmFamiliarityNgrams(d, model, col("doc_id"),
        col("text"), order = 3)
    }),
    // round 15: the composed crawl recipe — expected ≈ the sum of its
    // gated stage curves; the synthesized URL/markup columns are the
    // p10 gate's (zero-shuffle projections, not measured work)
    "p10_curate_web" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val base = d.filter(col("doc_id") >= 20)
      val pid = when(col("doc_id") % 10 < 2,
        col("doc_id") - (col("doc_id") % 10)).otherwise(col("doc_id"))
      val crawl = base.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("<p>"), col("text"), lit("</p>")))
          .otherwise(col("text")).as("raw"),
        concat(lit("http://web"), (pid % 40).cast("string"),
          lit(".com/a/"), pid.cast("string")).as("url"))
      Curation.curateWeb(crawl, col("doc_id"), col("url"), col("raw"),
        bench, col("doc_id"), col("text"),
        quality = Some(TextFunctions.gopherRules(col("text"),
          minWords = 10).getField("pass")))
    }),
    "g06_ppr" -> ((s, dir) => {
      val d = docs(s, dir)
      Graph.personalizedPageRank(
        Dedup.jaccardPairs(
          Dedup.shingleRows(d, col("doc_id"), col("text")), 0.8),
        d.filter(col("doc_id") % 10 === 0).select(col("doc_id")),
        iters = 5)
    }),
    // e14's maintenance cost: one compaction pass over a 4-epoch tree —
    // O(index), expected ~linear in the corpus (codes are m bytes/vec),
    // run once per cadence rather than per epoch
    "e14_ivfpq_compact" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val cents = Similarity.ivfTrain(corpus, k = 8)
      val cb = Similarity.pqTrain(corpus, m = 4, k = 8, dims = 64)
      val path = Scratch.path(dir, "curve_e14")
      Scratch.reset(path)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 4 === 0),
          cents, cb, m = 4, dims = 64), path)
      (1 until 4).foreach(r => Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 4 === r),
          cents, cb, m = 4, dims = 64), path))
      Similarity.compactIvfPqIndex(s, path)
      s.range(1).toDF("ok")
    }),
    "x11_sketch_overlap" -> ((s, dir) => {
      val sk = docs(s, dir)
        .select(col("lang"), explode(TextFunctions.words(col("text"))).as("w"))
        .groupBy(col("lang"))
        .agg(graft.functions.expressions.KmvSketch(col("w"), 4096).as("sk"))
      val a = sk.select(col("lang").as("lang_a"), col("sk").as("sk_a"))
      val b = sk.select(col("lang").as("lang_b"), col("sk").as("sk_b"))
      a.join(b, col("lang_a") < col("lang_b"))
        .select(col("lang_a"), col("lang_b"),
          graft.functions.Sketches
            .kmvSetEstimates(col("sk_a"), col("sk_b"), 4096).as("o"))
        .select(col("lang_a"), col("lang_b"), col("o.n_a"), col("o.n_b"),
          col("o.n_union"), col("o.n_intersect"))
    }),
    // t36's training cost: one corpus-wide word-freq aggregate, then
    // 8 vocabulary-bound iterations — the curve separates the
    // corpus-linear first pass from the distinct-word-bound loop
    "t36_bpe_train8" -> ((s, dir) =>
      TextFunctions.bpeTrain(docs(s, dir), col("text"), numMerges = 8)),
    // t37's encode: a zero-shuffle codegen projection — expected linear
    "t37_bpe_encode" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        explode(TextFunctions.bpeEncode(col("text"),
          Seq(("t", "h"), ("th", "e"), ("a", "a"), ("i", "n"),
            ("in", "g"), ("e", "r"), ("a", "n")))).as("tok"))),
    // x14's build: one map-side-combined matrix aggregate — linear scan,
    // constant output
    "x14_cms_build" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextFunctions.words(col("text"))).as("item"))
        .filter(col("item") =!= "")
        .agg(graft.functions.expressions.CountMinSketch(
          col("item"), 3, 64).as("sk"))
        .select(size(col("sk")).as("n"))),
    // g07: five sweeps, 2 O(|E|) join+agg passes each over the
    // near-dup DAG — the same envelope as g01
    "g07_hits" -> ((s, dir) =>
      Graph.hits(
        Dedup.jaccardPairs(
          Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8)
          .select(col("id_a").as("src"), col("id_b").as("dst")),
        iters = 5)),
    // t39: two model aggregates + one scoring pass — three shuffles on
    // shingle/doc keys, all corpus-linear
    "t39_importance" -> ((s, dir) => {
      val d = docs(s, dir)
      TextFunctions.importanceWeights(d,
        d.filter(col("lang") === "en"), col("doc_id"), col("text"),
        col("text"))
    }))

  /** Candidate-stage WORK counts per operator — the environment-proof
    * scaling evidence. Wall time on a contended box measures the box;
    * these measure the algorithm: the exact number of candidate pairs /
    * probe rows each banded path generates, which is what actually
    * grows with the corpus. A work exponent ≈ 1.0 across scales is the
    * near-linear claim, measured.
    *
    *   - d03/d09 (inverted shingle index): Σ over shingles of C(df,2) —
    *     the self-join's output rows;
    *   - d04 (MinHash LSH): emitted candidate pairs;
    *   - d06 (hyperplane LSH near-dup): Σ over (table, bucket) of
    *     C(m,2) — the self-join's matches before first-match dedup;
    *   - d07 (SimHash banding, 56-bit): Σ over (band, chunk) of C(m,2);
    *   - t04 (winnowing): emitted fingerprint rows;
    *   - e02 (ANN LSH): Σ over (table, bucket) of corpus_m × query_m —
    *     bucket-probe pairs scored.
    */
  private def pairSum(bucketCounts: DataFrame): Long = {
    val v = bucketCounts.agg(sum(expr("count*(count-1) div 2"))).first()
    if (v.isNullAt(0)) 0L else v.getLong(0)
  }

  /** (table, bucket) rows for the multi-table hyperplane LSH paths —
    * same buckets as `Similarity.bucketRows` (the `LshBuckets` kernel). */
  private def tableBuckets(e: DataFrame, planes: Int, dims: Int,
      tables: Int): DataFrame =
    e.select(posexplode(LshBuckets(col("embedding"), planes, dims, tables))
      .as(Seq("table", "bucket")))

  val work: Seq[(String, (SparkSession, String) => Long)] = Seq(
    "d03_candidates" -> ((s, dir) =>
      pairSum(Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text"))
        .select(xxhash64(col("shingle")).as("h"))
        .groupBy(col("h")).count())),
    "d04_candidates" -> ((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(
          Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 8),
        4, 2).count()),
    "d06_candidates" -> ((s, dir) =>
      pairSum(tableBuckets(withPlanted(emb(s, dir)), 8, 64, 4)
        .groupBy(col("table"), col("bucket")).count())),
    // the at-scale knob for the fixed-bucket-count quadratic: planes
    // grows with log(corpus) (256 → 4096 buckets/table), tables
    // compensates recall (12 planes / 8 tables: 1−(1−p^12)^8 ≈ 0.93 at
    // p=0.899 vs 0.89 for the 8/4 gate config)
    "d06_planes12t8" -> ((s, dir) =>
      pairSum(tableBuckets(withPlanted(emb(s, dir)), 12, 64, 8)
        .groupBy(col("table"), col("bucket")).count())),
    "d07_candidates" -> ((s, dir) => {
      // simhashPairs banding at 56 bits, maxHamming 3: 4 bands, 14 bits
      val sig = Dedup.simhash(docs(s, dir), col("doc_id"), col("text"), 56)
      val chunks = (0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), i * 14)
            .bitwiseAND((1L << 14) - 1).as("chunk")))
      pairSum(sig.select(explode(array(chunks: _*)).as("bc"))
        .groupBy(col("bc")).count())
    }),
    "t04_fingerprints" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextFunctions.winnowFingerprints(col("text"), 5, 4)).as("fp"))
        .count()),
    "e02_probe_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      def bk(df: DataFrame) =
        tableBuckets(df, 8, 64, 1).groupBy(col("table"), col("bucket")).count()
      val v = bk(e.filter(col("vec_id") >= 10)).withColumnRenamed("count", "cn").as("c")
        .join(bk(e.filter(col("vec_id") < 10)).withColumnRenamed("count", "qn").as("q"),
          Seq("table", "bucket"))
        .agg(sum(col("cn") * col("qn"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    // d11 decontamination: Σ over shingle of corpus_df × bench_df — the
    // inverted-index join's output rows against a FIXED benchmark (the
    // ~20 lowest doc ids, whatever the corpus size; a benchmark does
    // not grow with the corpus). The expected shape is sub-linear:
    // corpus docs sharing no benchmark n-gram contribute nothing, so
    // work tracks the benchmark-overlapping slice, not the corpus.
    // d13 winnowing pairs: Σ over CAP-SURVIVING fingerprints (df ≤ 20)
    // of C(df,2) — the inverted fp index self-join's output rows after
    // the boilerplate guard (the guard is part of the gate config, so
    // the measured work is the work the gated plan actually does).
    "d13_candidates" -> ((s, dir) => {
      val f = docs(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"), 12, 8)).as("fp"))
      pairSum(f.groupBy(col("fp")).count().filter(col("count") <= 20))
    }),
    // d14 semantic dedup: Σ over cluster of C(size,2) — the within-
    // cluster pairwise term, measured twice: at FIXED k=8 (expected to
    // grow ~quadratically, the anti-pattern) and at the autoClusters
    // k ∝ n sizing (expected ~linear — the SemDeDup contract the auto
    // overload enforces). Assignment uses the same ivfTrain/ivfAssign
    // path as the gate.
    "d14_pairs_fixed_k" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val a = Similarity.ivfAssign(e, Similarity.ivfTrain(e, 8, 3))
      pairSum(a.groupBy(col("centroid_id")).count())
    }),
    "d14_pairs_auto_k" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val k = Similarity.autoClusters(e.count(), 64)
      val a = Similarity.ivfAssign(e, Similarity.ivfTrain(e, k, 3))
      pairSum(a.groupBy(col("centroid_id")).count())
    }),
    "d11_probe_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      def hs(df: DataFrame) =
        Dedup.shingleRows(df, col("doc_id"), col("text"))
          .select(xxhash64(col("shingle")).as("h"))
          .groupBy(col("h")).count()
      val v = hs(d.filter(col("doc_id") >= 20)).withColumnRenamed("count", "cn").as("c")
        .join(hs(d.filter(col("doc_id") < 20)).withColumnRenamed("count", "bn").as("b"),
          Seq("h"))
        .agg(sum(col("cn") * col("bn"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    // d18 line dedup: total (doc, line) occurrence rows — the volume of
    // BOTH aggregates' input and the keeper join's probe side. Expected
    // exponent 1.0: every stage is a hash aggregate or a 1-row-per-hash
    // join; nothing is quadratic in anything.
    "d18_line_rows" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = split(col("text"), " ")
      val nch = ceil(size(w) / lit(10.0)).cast("int")
      d.withColumn("__seg", concat_ws("\n",
          transform(sequence(lit(0), nch - 1),
            i => concat_ws(" ", slice(w, i * lit(10) + lit(1), lit(10))))))
        .select(col("doc_id"),
          explode(split(col("__seg"), "\n")).as("line"))
        .count()
    }),
    // d19 bloom pre-screen: corpus shingle rows BEFORE vs AFTER the
    // benchmark bloom filter (fixed 20-doc benchmark, fpp 0.01). The
    // surviving fraction is the decontamination join's actual shuffle
    // volume; against a FIXED benchmark it should SHRINK relative to
    // the corpus as the corpus grows — the at-scale argument for the
    // pre-screen (the d11 asymmetry moved into the scan stage).
    "d19_corpus_shingle_rows" -> ((s, dir) =>
      Dedup.shingleRows(docs(s, dir).filter(col("doc_id") >= 20),
        col("doc_id"), col("text")).count()),
    // d17 incremental dedup, cross stage: Σ over shingle hash of
    // batch_df × corpus_df — the inverted-index join's output volume
    // for a half/half batch-vs-corpus split. The split is BY ID HASH,
    // not the gate's parity: replica ids are id·replicas + r, so parity
    // aligns exactly with the replica tag at even replica counts and
    // the disjoint replica vocabularies would zero the cross volume —
    // a generator artifact, not the operator's shape. Replicas keep
    // per-shingle doc freq constant as the corpus grows, so the probe
    // volume should scale ~linearly — the claim this counter checks (a
    // shared-vocabulary corpus instead needs the finite
    // maxShingleDocFreq the Auto strategy defaults).
    // d16's candidate work IS d04_candidates (same signatures, same
    // banding); d22's shuffle volume IS the d19 pair of counters — both
    // already on the curve, so only the d17 cross stage is new here.
    "d17_cross_probe_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      val side = pmod(xxhash64(col("doc_id")), lit(2))
      def hs(df: DataFrame) =
        Dedup.shingleRows(df, col("doc_id"), col("text"))
          .select(xxhash64(col("shingle")).as("h"))
          .groupBy(col("h")).count()
      val v = hs(d.filter(side === 0)).withColumnRenamed("count", "cn").as("c")
        .join(hs(d.filter(side === 1)).withColumnRenamed("count", "bn").as("b"),
          Seq("h"))
        .agg(sum(col("cn") * col("bn"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    // e04 ANN join: Σ over (table, bucket) of left_m × right_m — the
    // bucketed shuffle join's output volume at the FIXED 8-plane gate
    // config (expected ~quadratic: both sides grow; the at-scale knob
    // is autoPlanes, measured as e04_auto_planes alongside — occupancy
    // held constant makes the per-left candidate count flat, so the
    // total grows ~linearly with the left side).
    "e04_bucket_pairs" -> ((s, dir) => {
      val e = emb(s, dir)
      def bk(df: DataFrame) =
        tableBuckets(df, 8, 64, 2).groupBy(col("table"), col("bucket")).count()
      val v = bk(e.filter(col("vec_id") % 2 === 0)).withColumnRenamed("count", "ln").as("l")
        .join(bk(e.filter(col("vec_id") % 2 === 1)).withColumnRenamed("count", "rn").as("r"),
          Seq("table", "bucket"))
        .agg(sum(col("ln") * col("rn"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    "e04_auto_planes" -> ((s, dir) => {
      val e = emb(s, dir)
      val left = e.filter(col("vec_id") % 2 === 0)
      val right = e.filter(col("vec_id") % 2 === 1)
      val planes = Similarity.autoPlanes(
        math.max(left.count(), right.count()), 32)
      def bk(df: DataFrame) =
        tableBuckets(df, planes, 64, 2).groupBy(col("table"), col("bucket")).count()
      val v = bk(left).withColumnRenamed("count", "ln").as("l")
        .join(bk(right).withColumnRenamed("count", "rn").as("r"),
          Seq("table", "bucket"))
        .agg(sum(col("ln") * col("rn"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    "d19_prescreen_survivors" -> ((s, dir) => {
      import org.apache.spark.sql.{GraftExpressionBridge => Bridge}
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      val d = docs(s, dir)
      val bench = Dedup.shingleRows(d.filter(col("doc_id") < 20),
        col("doc_id"), col("text"))
      val bh = bench.select(xxhash64(col("shingle")).as("__h")).distinct()
      val n = math.max(1L, bh.count())
      val bf = bh.stat.bloomFilter("__h", n, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      Dedup.shingleRows(d.filter(col("doc_id") >= 20),
          col("doc_id"), col("text"))
        .filter(Bridge.column(BloomFilterMightContain(
          Bridge.expression(lit(bos.toByteArray)),
          Bridge.expression(xxhash64(col("shingle"))))))
        .count()
    }),
    // d23 exact-substring spans: later-occurrence (marked) window rows
    // — Σ over duplicated k-window hashes of (occurrences − 1), the
    // coverage explode's input volume (its output is k × this before
    // the per-word distinct). Replicas repeat the plant structure, so
    // duplication volume — and this counter — should scale ~linearly
    // with the corpus; nothing else in the operator exceeds one row
    // per corpus word.
    "d23_marked_windows" -> ((s, dir) => {
      val w = docs(s, dir).select(split(col("text"), " ").as("w"))
      val wins = w.select(explode(
        when(size(col("w")) < 8,
            array().cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)))
          .otherwise(transform(sequence(lit(1), size(col("w")) - 7),
            p => xxhash64(concat_ws(" ", slice(col("w"), p, lit(8))))))).as("h"))
      val v = wins.groupBy(col("h")).count().filter(col("count") > 1)
        .agg(sum(col("count") - 1)).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }),
    // d24 record linkage: Σ over (lang, source) block of C(m,2) — the
    // unguarded pair volume under a FIXED blocking key. Expected
    // ~quadratic (block populations grow with the corpus): the measured
    // justification for the maxBlockSize guard and for blocking keys
    // whose cardinality grows with the data (the d06 fixed-bucket
    // anti-pattern, relational edition).
    "d24_block_pairs" -> ((s, dir) =>
      pairSum(docs(s, dir).groupBy(col("lang"), col("source")).count())),
    // d27 multi-key canopy: Σ over the 4 quarter-wildcard name keys of
    // Σ_blocks C(m,2) — the same corpus under a blocking key whose
    // cardinality GROWS with n (name fragments), the d27-gated
    // linkRecordPairsMultiKey shape. Expected ~linear vs
    // d24_block_pairs' exponent-2: the measured case for the
    // key-cardinality contract documented on linkRecordPairs.
    "d27_block_pairs" -> ((s, dir) => {
      val name = substring(col("text"), 1, 24)
      val keyed = (0 until 4).map { q =>
        docs(s, dir).select(concat(
          substring(name, 1, q * 6), lit("*"),
          substring(name, q * 6 + 7, 18 - q * 6)).as("key"))
      }.reduce(_ unionByName _)
      pairSum(keyed.groupBy(col("key")).count())
    }),
    // g02 triangles: wedge volume under the degree orientation —
    // Σ over oriented source of C(outdeg, 2) — vs the UN-oriented
    // Σ over node of C(deg, 2) a naive neighbor self-join does. The
    // oriented count is the join's actual output volume; the gap
    // between the two is what the Suri–Vassilvitskii orientation
    // saves (the celebrity node's deg² term).
    "g02_wedges_oriented" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8)
      val canon = pairs.select(
          least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val deg = canon.select(col("a").as("id"))
        .unionByName(canon.select(col("b").as("id")))
        .groupBy(col("id")).count()
      val oriented = canon
        .join(deg.select(col("id").as("a"), col("count").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("count").as("db")), Seq("b"))
        .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"))
      pairSum(oriented.groupBy(col("src")).count())
    }),
    "g02_wedges_unoriented" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(
        Dedup.shingleRows(docs(s, dir), col("doc_id"), col("text")), 0.8)
      val canon = pairs.select(
          least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      pairSum(canon.select(col("a").as("id"))
        .unionByName(canon.select(col("b").as("id")))
        .groupBy(col("id")).count())
    }))

  def workCounts(spark: SparkSession, outFile: String,
      dirs: Seq[(String, String)]): Unit = {
    // same comma-separated substring filter as time mode
    val filter = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = work.filter { case (q, _) =>
      filter.forall(_.exists(q.contains)) }
    val results = dirs.map { case (label, dir) =>
      val nDocs = docs(spark, dir).count()
      val nEmb = emb(spark, dir).count()
      val counts = selected.map { case (name, fn) =>
        val c = fn(spark, dir)
        println(s"[scalecurve] $label $name work=$c")
        name -> c
      }
      (label, dir, nDocs, nEmb, counts)
    }
    val json = results.map { case (label, dir, nDocs, nEmb, counts) =>
      val cs = counts.map { case (n, c) => s"""${jsonString(n)}:$c""" }.mkString(",")
      s"""${jsonString(label)}:{"dir":${jsonString(dir)},"docs":$nDocs,"embeddings":$nEmb,"work":{$cs}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(s"[scalecurve] wrote $outFile")
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    val d = docs(spark, srcDir)
    val e = emb(spark, srcDir)
    val dims = 64
    val docRep = (0 until replicas).map { r =>
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1x" + r)
      d.select(
        (col("doc_id") * replicas + lit(r)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    val embRep = (0 until replicas).map { r =>
      val rot = (r * 17) % dims
      val vec =
        if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), rot + 1, dims - rot),
          slice(col("embedding"), 1, rot))
      e.select(
        (col("vec_id") * replicas + lit(r)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    docRep.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embRep.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[scalecurve] wrote ${replicas}x of $srcDir to $outDir")
  }

  def time(spark: SparkSession, outFile: String,
      dirs: Seq[(String, String)], samples: Int): Unit = {
    // optional comma-separated substring filter, e.g. SPARK_GRAFT_QUERIES=d03
    val filter = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = curve.filter { case (q, _) =>
      filter.forall(_.exists(q.contains)) }
    val results = dirs.map { case (label, dir) =>
      val nDocs = docs(spark, dir).count()
      val nEmb = emb(spark, dir).count()
      val perQuery = selected.map { case (qname, fn) =>
        val times = (1 to samples).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[scalecurve] $label $qname min=${times.min}%.2fs " +
          times.map(t => f"$t%.2f").mkString("[", ",", "]"))
        qname -> times
      }
      (label, dir, nDocs, nEmb, perQuery)
    }
    val json = results.map { case (label, dir, nDocs, nEmb, perQuery) =>
      val qs = perQuery.map { case (q, ts) =>
        s"""${jsonString(q)}:{"min":${ts.min},"samples":[${ts.mkString(",")}]}"""
      }.mkString(",")
      s"""${jsonString(label)}:{"dir":${jsonString(dir)},"docs":$nDocs,"embeddings":$nEmb,"queries":{$qs}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(s"[scalecurve] wrote $outFile")
  }

  /** `manifest <srcDir> <out.json>` — the round-14 checkpoint claim,
    * measured on the EPOCH-COUNT axis (the axis the corpus-size curve
    * can't see): grow an [[graft.functions.Curation.appendShards]] tree
    * to 16/64/192 epochs with the manifest checkpoint OFF (ckptEvery=0)
    * and ON (16), and record what a [[Curation.readShardManifest]] must
    * pay at each age — the `_manifest_delta` directories it has to
    * list (the defect: O(#epochs) when OFF, ≤ ~2·ckptEvery when ON)
    * plus the read's wall time (min + median of 5), and the mean
    * per-epoch append cost (the checkpoint's amortized write rides
    * here — the price of bounding the read).
    */
  def manifestCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    val base = docs(spark, srcDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val inc = base.orderBy(col("doc_id")).limit(64).persist()
    inc.count()
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = for (ckptEvery <- Seq(0, 16); n <- Seq(16, 64, 192)) yield {
      val path = Scratch.path(srcDir, s"curve_manifest_${ckptEvery}_$n")
      Scratch.reset(path)
      var appendTotal = 0.0
      (0 until n).foreach { e =>
        val shifted = inc.withColumn("doc_id",
          col("doc_id") + lit((maxId + 1) * (e + 1)))
        val t0 = System.nanoTime()
        Curation.appendShards(shifted, "lang", "doc_id", "n_chars",
          budget = 2000L, path = path, epoch = e.toLong,
          ckptEvery = ckptEvery)
        appendTotal += (System.nanoTime() - t0) / 1e9
      }
      def nDirs(sub: String): Int = {
        val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.listStatus(p).length else 0
      }
      val reads = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        Curation.readShardManifest(spark, path)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[scalecurve] manifest ckptEvery=$ckptEvery epochs=$n " +
        f"deltaDirs=${nDirs("_manifest_delta")} ckptDirs=${nDirs("_manifest_ckpt")} " +
        f"append=${appendTotal / n}%.3fs/epoch readMin=${reads.head}%.3fs")
      s"""{"ckpt_every":$ckptEvery,"epochs":$n,""" +
        s""""delta_dirs":${nDirs("_manifest_delta")},""" +
        s""""ckpt_dirs":${nDirs("_manifest_ckpt")},""" +
        s""""append_mean_s":${appendTotal / n},""" +
        s""""read_min_s":${reads.head},"read_med_s":${reads(reads.size / 2)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      rows.mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  /** Measured IVF-PQ recall@k against the exact brute-force top-k —
    * the sizing table for the two search knobs (`nprobe`: how many
    * coarse cells are candidates; `rerank`: how deep the exact re-rank
    * digs into the ADC shortlist). Full-probe (`nprobe = k_coarse`)
    * isolates the rerank axis (by the e16 identity it IS exhaustive
    * ADC), so the two sweeps decompose recall loss into its two
    * sources: unprobed cells vs a too-shallow shortlist. 100 queries,
    * k=10, the gate model config (k_coarse=16 cells, m=4 PQ).
    */
  def recallCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 100).persist()
    val queries = emb.filter(col("vec_id") < 100).persist()
    val nQ = queries.count(); corpus.count()
    val k = 10
    val kCoarse = 16
    val truth = Similarity.knnBrute(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id")).persist()
    truth.count()
    val cents = Similarity.ivfTrain(corpus, kCoarse)
    val cb = Similarity.pqTrain(corpus, m = 4, k = 8, dims = 64)
    val index = Similarity.ivfPqIndex(corpus, cents, cb, m = 4, dims = 64)
      .persist()
    index.count()
    def measure(nprobe: Int, rerank: Int): (Double, Double) = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Similarity.knnIvfPq(index, cents, cb, queries, corpus, k,
            nprobe, rerank)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val hits = Similarity.knnIvfPq(index, cents, cb, queries, corpus,
          k, nprobe, rerank)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi").count()
      (hits.toDouble / (nQ * k), times.head)
    }
    val probeRows = Seq(1, 2, 4, 8, 16).map { np =>
      val (recall, t) = measure(np, rerank = 50)
      println(f"[scalecurve] recall nprobe=$np rerank=50 " +
        f"recall@$k=$recall%.4f t=$t%.2fs")
      s"""{"axis":"nprobe","nprobe":$np,"rerank":50,""" +
        s""""recall_at_$k":$recall,"time_min_s":$t}"""
    }
    val rerankRows = Seq(10, 25, 50, 100).map { rr =>
      val (recall, t) = measure(kCoarse, rr)
      println(f"[scalecurve] recall nprobe=$kCoarse rerank=$rr " +
        f"recall@$k=$recall%.4f t=$t%.2fs")
      s"""{"axis":"rerank","nprobe":$kCoarse,"rerank":$rr,""" +
        s""""recall_at_$k":$recall,"time_min_s":$t}"""
    }
    val bruteTimes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Similarity.knnBrute(corpus, queries, k)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"[scalecurve] recall brute recall@$k=1.0 t=${bruteTimes.head}%.2fs")
    val bruteRow =
      s"""{"axis":"brute","recall_at_$k":1.0,"time_min_s":${bruteTimes.head}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      (probeRows ++ rerankRows :+ bruteRow).mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  /** `delete <srcDir> <out.json>` — the p12 claim, measured on the
    * TREE-SIZE axis: grow an appendShards tree to 4/16/48 epochs (the
    * corpus the tree holds grows with it), then delete the SAME fixed
    * 16-document set (epoch-0 residents, so their bins exist at every
    * scale) and record the deletion's wall time plus the bins it
    * actually rewrote vs the bins the tree holds. The manifest-range
    * pruning claim is that the rewrite tracks TOUCHED bins, not the
    * corpus — a flat line with a growing bins_total column.
    */
  def deleteCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    val base = docs(spark, srcDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inc = base.orderBy(col("doc_id")).limit(256).persist()
    inc.count()
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val delIds = inc.filter(col("doc_id") % 16 === 3)
      .select(col("doc_id")).persist()
    val nDel = delIds.count()
    val rows = for (epochs <- Seq(4, 16, 48)) yield {
      val path = Scratch.path(srcDir, s"curve_delete_$epochs")
      Scratch.reset(path)
      (0 until epochs).foreach { e =>
        // epoch e appends the same 256-doc increment shifted to fresh
        // ids ABOVE everything before it (the in-order contract)
        graft.functions.Curation.appendShards(
          inc.withColumn("doc_id",
            col("doc_id") + lit(e.toLong * (maxId + 1000L))),
          "lang", "doc_id", "n_chars", budget = 2000L, path,
          epoch = e.toLong)
        ()
      }
      val manifest = graft.functions.Curation.readShardManifest(spark, path)
      val binsTotal = manifest.count()
      val t0 = System.nanoTime()
      val after = graft.functions.Curation.deleteFromShards(spark, path,
        delIds.withColumn("doc_id", col("doc_id") + lit(3L * (maxId + 1000L))),
        orderName = "doc_id", tokensName = "n_chars")
      val binsAfter = after.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scalecurve] delete epochs=$epochs bins=$binsTotal " +
        f"t=$secs%.2fs")
      s"""{"epochs":$epochs,"bins_total":$binsTotal,""" +
        s""""bins_after":$binsAfter,"n_deleted":$nDel,""" +
        s""""delete_s":$secs}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      rows.mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  /** `bpemerges <srcDir> <out.json>` — the t41 claim, measured on the
    * MERGES axis (the vocab axis VERDICT r15 #4 flagged): train the
    * from-scratch trainer and the incremental trainer on the SAME
    * corpus at 8/64/256 merges and record wall seconds plus
    * seconds-per-merge. The claim is that the incremental trainer's
    * per-merge cost FALLS as training proceeds (only words containing
    * the chosen pair are touched, and that fraction is Zipf-thin past
    * the first merges) where the from-scratch trainer's per-merge cost
    * stays Θ(vocabulary) — the 32k-vocabulary extrapolation rides on
    * the per-merge trend, not the small-corpus absolute.
    */
  def bpeMergesCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    // a 256-merge point is minutes of strictly serial driver loop —
    // SPARK_GRAFT_MERGES / SPARK_GRAFT_TRAINERS let the harness split
    // the grid across invocations and merge the JSON rows afterwards
    val merges = sys.env.getOrElse("SPARK_GRAFT_MERGES", "8,64,256")
      .split(',').map(_.trim.toInt).toSeq
    val trainers = sys.env.getOrElse("SPARK_GRAFT_TRAINERS", "full,inc")
      .split(',').map(_.trim).toSet
    val batchB = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCH", "8").trim.toInt
    val d = vocabInflated(docs(spark, srcDir)).persist()
    d.count()
    def wall(f: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val rows = for (m <- merges) yield {
      val full =
        if (trainers("full"))
          Some(wall(TextFunctions.bpeTrain(d, col("text"), numMerges = m)))
        else None
      val inc =
        if (trainers("inc"))
          Some(wall(
            TextFunctions.bpeTrainIncremental(d, col("text"), numMerges = m)))
        else None
      // the batched trainer (t46): up to B disjoint merges per driver
      // round — its list is the documented batched rule, so only the
      // LENGTH is cross-checked (same requested merges, same corpus)
      val bat =
        if (trainers("batched"))
          Some(wall(TextFunctions.bpeTrainBatched(d, col("text"),
            numMerges = m, batch = batchB)))
        else None
      for { (_, nf) <- full; (_, ni) <- inc }
        require(nf == ni, s"trainers diverged at $m merges: $nf vs $ni")
      // the batched trainer's SELECTION ORDER legitimately differs
      // from sequential Sennrich, so near corpus exhaustion (or under
      // minPairCount pruning) it can run dry at a different length —
      // a measurement harness must not hard-fail on that (ADVICE r17);
      // only an in-supply divergence (both reached the requested m) is
      // a real contract break, and the full-vs-incremental equality
      // above stays hard (that one IS bit-contracted)
      for { (_, nf) <- full.orElse(inc); (_, nb) <- bat }
        if (nf == m.toLong && nb == m.toLong) ()
        else if (nf != nb)
          println(s"[scalecurve] WARN batched trainer length differs " +
            s"at requested $m merges: sequential=$nf batched=$nb " +
            "(corpus exhaustion — selection orders legitimately differ)")
      def fmt(t: Option[(Double, Long)], name: String) = t.fold("") {
        case (s, _) =>
          println(f"[scalecurve] bpemerges m=$m $name=$s%.2fs " +
            f"(${s / m}%.3f/merge)")
          s""","${name}_s":$s,"${name}_per_merge_s":${s / m}"""
      }
      s"""{"merges":$m${fmt(full, "full")}${fmt(inc, "incremental")}${
        fmt(bat, s"batched$batchB")}}"""
    }
    d.unpersist()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      rows.mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  /** The TESTDATA corpus is a 31-word synthetic vocabulary — every
    * trainer round is fixed-overhead there and BPE pair supply runs
    * dry near 90 merges. `SPARK_GRAFT_VOCAB_X = K` inflates the
    * vocabulary ×K for the trainer curves by suffixing every word
    * with its document's `doc_id % K` (word reuse across documents is
    * preserved, so frequencies stay Zipf-shaped at 1/K mass) — the
    * replica-corpus trick applied to the VOCABULARY axis.
    */
  private def vocabInflated(d0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val vx = sys.env.getOrElse("SPARK_GRAFT_VOCAB_X", "1").trim.toInt
    if (vx <= 1) d0.select(col("text"))
    else d0.select(array_join(
      transform(split(col("text"), " "),
        w => concat(w, lit("_"), (col("doc_id") % vx).cast("string"))),
      " ").as("text"))
  }

  /** `bpework <srcDir> <out.json>` — the environment-proof side of the
    * t41 claim: wall time on a shared box measures the box, so this
    * counts the WORK instead. Train 256 merges once, then for each
    * round k count the distinct words whose round-(k-1) tokenization
    * contains merge k's pair — exactly the rows the incremental
    * trainer re-tokenizes and re-counts that round, vs the full
    * vocabulary the from-scratch trainer touches every round. The
    * emitted ratio Σ touched / (rounds × vocab) is the incremental
    * trainer's data-term saving, independent of job-scheduling
    * overhead (which dominates wall time at toy vocabularies and
    * vanishes at real ones).
    */
  /** `semdedupk <srcDir> <out.json>` — the d34 tractability claim,
    * measured on the CLUSTER-COUNT axis: SemDeDup's within-cluster
    * restriction turns the n² all-pairs candidate set into
    * Σ|cluster|·(|cluster|−1)/2, which falls ~1/k for balanced
    * clusters. For each k on the grid the candidate count is computed
    * exactly from the assignment histogram (environment-proof — wall
    * on a shared box measures the box) alongside the end-to-end wall;
    * the all-pairs n·(n−1)/2 baseline anchors the ratio. Same planted
    * corpus as the d34 gate.
    */
  def semDedupKCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    val emb = Tables.df(spark, srcDir, "embeddings")
    val planted = emb.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val corpus = emb.unionByName(planted).persist()
    val n = corpus.count()
    val allPairs = n * (n - 1) / 2
    val ks = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_KS", "4,8,16,32")
      .split(',').map(_.trim.toInt).toSeq
    val rows = for (k <- ks) yield {
      val t0 = System.nanoTime()
      val groups = Similarity.semDedup(corpus, k, threshold = 0.95)
        .filter(col("vec_id") =!= col("rep_id")).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cand = Similarity
        .ivfAssign(corpus, Similarity.ivfTrain(corpus, k))
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) / 2")).cast("long")).head.getLong(0)
      println(f"[scalecurve] semdedupk k=$k wall=$wall%.2fs " +
        f"candidates=$cand (${cand.toDouble / allPairs}%.4f of all-pairs) " +
        s"dupRows=$groups")
      s"""{"k":$k,"wall_s":$wall,"candidates":$cand,""" +
        s""""all_pairs":$allPairs,"dup_rows":$groups}"""
    }
    corpus.unpersist()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      rows.mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  /** `semdedupinc <srcDir> <out.json>` — the evidence behind the d36
    * O(increment) claim: label increments of growing size against a
    * FROZEN [[graft.functions.Similarity.writeSemDedupModel]]
    * artifact and compare each against the naive alternative (a full
    * [[graft.functions.Similarity.writeSemDedupModel]] rebuild over
    * archive ∪ increment — the O(corpus) path the increment verb
    * exists to avoid). Alongside wall clocks the curve counts the
    * work: touched cells (≤ k by construction — the partition-pruned
    * archive read), the touched cells' archive occupancy (the only
    * archive rows the increment ever scans), and the candidate-pair
    * bound Σ_cell (m·(m−1)/2 + m·a). Increment wall should track the
    * increment; the rebuild wall sits near the archive-sized
    * constant regardless of m.
    */
  def semDedupIncCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    import graft.functions.Similarity
    val emb = Tables.df(spark, srcDir, "embeddings").persist()
    val n = emb.count()
    val k = sys.env.get("SPARK_GRAFT_SEMDEDUP_K").map(_.trim.toInt)
      .getOrElse(Similarity.autoSemDedupK(n))
    val path = Scratch.path(srcDir, "curve_semdedup_model")
    Scratch.reset(path)
    val tb0 = System.nanoTime()
    Similarity.writeSemDedupModel(emb, path, k, threshold = 0.95)
    val buildWall = (System.nanoTime() - tb0) / 1e9
    println(f"[scalecurve] semdedupinc archive n=$n k=$k " +
      f"build=$buildWall%.2fs")
    val ms = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_INCS", "64,256,1024")
      .split(',').map(_.trim.toInt).toSeq
    val rows = for (m <- ms) yield {
      val inc = emb.orderBy(col("vec_id")).limit(m)
        .withColumn("vec_id", col("vec_id") + 100000L).persist()
      inc.count()
      val t0 = System.nanoTime()
      val dupRows = Similarity.semDedupIncrement(spark, path, inc)
        .filter(col("vec_id") =!= col("rep_id")).count()
      val incWall = (System.nanoTime() - t0) / 1e9
      // work accounting: the increment's touched cells and the
      // archive occupancy inside them — everything else in the
      // archive is never read
      val cents = spark.read.parquet(s"$path/centroids")
      val incCells = Similarity.ivfAssign(inc, cents)
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("mi"))
      val archCells = spark.read.parquet(s"$path/index")
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("ai"))
      val work = incCells.join(archCells, Seq("centroid_id"), "left")
        .select(count(lit(1)).as("cells"),
          sum(coalesce(col("ai"), lit(0L))).as("occ"),
          sum(expr("mi * (mi - 1) / 2 + mi * coalesce(ai, 0)"))
            .cast("long").as("cand"))
        .head
      val (cells, occ, cand) =
        (work.getLong(0), work.getLong(1), work.getLong(2))
      // the naive alternative: full rebuild over archive ∪ increment
      val path2 = Scratch.path(srcDir, "curve_semdedup_rebuild")
      Scratch.reset(path2)
      val t1 = System.nanoTime()
      Similarity.writeSemDedupModel(emb.unionByName(inc), path2, k,
        threshold = 0.95)
      val rebuildWall = (System.nanoTime() - t1) / 1e9
      inc.unpersist()
      println(f"[scalecurve] semdedupinc m=$m inc=$incWall%.2fs " +
        f"rebuild=$rebuildWall%.2fs cells=$cells/$k occ=$occ/$n " +
        s"cand=$cand dupRows=$dupRows")
      s"""{"m":$m,"inc_wall_s":$incWall,"rebuild_wall_s":$rebuildWall,""" +
        s""""touched_cells":$cells,"k":$k,"touched_occupancy":$occ,""" +
        s""""archive_rows":$n,"candidates":$cand,"dup_rows":$dupRows}"""
    }
    emb.unpersist()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      rows.mkString("[", ",", "]"))
    println(s"[scalecurve] wrote $outFile")
  }

  def bpeWorkCurve(spark: SparkSession, srcDir: String,
      outFile: String): Unit = {
    val rounds = sys.env.getOrElse("SPARK_GRAFT_MERGES", "256").trim.toInt
    val d = vocabInflated(docs(spark, srcDir))
    val base = d.select(explode(TextFunctions.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .persist()
    val vocab = base.count()
    val merges = TextFunctions.bpeTrain(d, col("text"), numMerges = rounds)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val touched = merges.zipWithIndex.map { case ((l, r), i) =>
      val syms =
        if (i == 0) regexp_extract_all(col("w"), lit("."), lit(0))
        else TextFunctions.bpeEncode(col("w"), merges.take(i))
      val pairs = zip_with(
        slice(col("s"), lit(1), size(col("s")) - 1),
        slice(col("s"), lit(2), size(col("s")) - 1),
        (a, b) => a === lit(l) && b === lit(r))
      base.select(syms.as("s"))
        .filter(size(col("s")) >= 2 && exists(pairs, x => x))
        .count()
    }
    base.unpersist()
    val total = touched.sum
    val full = vocab * merges.size
    println(f"[scalecurve] bpework vocab=$vocab rounds=${merges.size} " +
      f"touched_total=$total full_total=$full " +
      f"ratio=${total.toDouble / full}%.4f " +
      f"first10=${touched.take(10).mkString(",")} " +
      f"last10=${touched.takeRight(10).mkString(",")}")
    val per = touched.zipWithIndex
      .map { case (t, i) => s"""{"round":${i + 1},"touched":$t}""" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"vocab":$vocab,"rounds":${merges.size},"touched_total":$total,""" +
        s""""full_total":$full,"ratio":${total.toDouble / full},""" +
        s""""per_round":${per.mkString("[", ",", "]")}}""")
    println(s"[scalecurve] wrote $outFile")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions sized to the data, not the core count, is the
    // at-scale knob (AQE coalesces excess); overridable so the curve can
    // separate algorithmic growth from fixed-partition spill.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "gen" :: src :: out :: reps :: Nil =>
        generate(spark, src, out, reps.toInt)
      case "work" :: out :: rest if rest.nonEmpty =>
        val dirs = rest.map { a =>
          val Array(l, d) = a.split("=", 2); (l, d)
        }
        workCounts(spark, out, dirs)
      case "time" :: out :: rest if rest.nonEmpty =>
        val dirs = rest.map { a =>
          val Array(l, d) = a.split("=", 2); (l, d)
        }
        time(spark, out, dirs, samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt)
      case "manifest" :: src :: out :: Nil =>
        manifestCurve(spark, src, out)
      case "recall" :: src :: out :: Nil =>
        recallCurve(spark, src, out)
      case "delete" :: src :: out :: Nil =>
        deleteCurve(spark, src, out)
      case "bpemerges" :: src :: out :: Nil =>
        bpeMergesCurve(spark, src, out)
      case "bpework" :: src :: out :: Nil =>
        bpeWorkCurve(spark, src, out)
      case "semdedupk" :: src :: out :: Nil =>
        semDedupKCurve(spark, src, out)
      case "semdedupinc" :: src :: out :: Nil =>
        semDedupIncCurve(spark, src, out)
      case _ =>
        System.err.println(
          "usage: ScaleCurve gen <srcDir> <outDir> <replicas> | " +
            "ScaleCurve time <out.json> <label=dir> [label=dir ...] | " +
            "ScaleCurve work <out.json> <label=dir> [label=dir ...] | " +
            "ScaleCurve manifest <srcDir> <out.json> | " +
            "ScaleCurve recall <srcDir> <out.json>")
        sys.exit(2)
    }
    spark.stop()
  }
}
