package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.expressions.LshBuckets

/** Similarity search over embedding columns (`array<float>`).
  *
  * All scores use *quantized* arithmetic: each component is scaled to an
  * integer (`floor(x·1000 + 0.5)`), so dot products and norms are exact
  * integer sums — order-independent, bit-identical in every engine, and
  * still accurate to ~1e-3 relative. This sidesteps float-summation
  * nondeterminism entirely (a real concern when partial aggregates run
  * in nondeterministic partition order on a cluster).
  *
  * Two tiers:
  *   - [[knnBrute]]: exact top-k via broadcast cross-score — the baseline,
  *     right whenever |queries| is small (score matrix streams, never
  *     materializes).
  *   - [[lshBuckets]] / [[knnLsh]]: random-hyperplane LSH — the scale
  *     path: candidates share a sign-pattern bucket, then exact re-rank
  *     within buckets. Hyperplanes are derived from a portable hash, so
  *     the index is reproducible anywhere with no stored model.
  */
object Similarity {

  /** Quantize a float vector to exact longs: floor(x·1000 + 0.5). */
  def quantize(vec: Column): Column =
    transform(vec, x =>
      floor(x.cast(DoubleType) * 1000.0 + 0.5).cast(LongType))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Quantized cosine similarity: exact integer dot / exact integer
    * norms, one IEEE division+sqrt at the end (deterministic). The three
    * dot products are fused native codegen expressions
    * ([[graft.functions.expressions.QuantizedDot]]) — one primitive loop
    * each inside whole-stage codegen, no intermediate quantized arrays.
    */
  def cosineQ(a: Column, b: Column): Column = {
    import graft.functions.expressions.QuantizedDot
    QuantizedDot(a, b).cast(DoubleType) /
      (sqrt(QuantizedDot(a, a).cast(DoubleType)) *
        sqrt(QuantizedDot(b, b).cast(DoubleType)))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` is broadcast (it is the small side by contract); the
    * score matrix is a streamed nested-loop join — no shuffle of the
    * corpus, one final window per query id.
    */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.as("c")
      .crossJoin(broadcast(queries.as("q")))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosineQ(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplane components: plane p, dimension d gets
    * the parity of a string hash of `p:d`. Exposed so oracle SQL can
    * embed the identical literals — the "model" is pure code.
    */
  def planeSigns(planes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"$p:$d")
        if ((h & 1) == 1) 1L else -1L
      }
    }

  /** Sign-pattern bucket id from `planes` pseudo-random hyperplanes.
    * The bucket is the integer of sign bits of vec·plane (quantized, so
    * exact). No stored model — reproducible anywhere.
    */
  def lshBuckets(vec: Column, planes: Int, dims: Int): Column = {
    val q = quantize(vec)
    val signsPerPlane = planeSigns(planes, dims)
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(q, array(signsPerPlane(p).map(lit): _*), (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
      when(dot > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: candidates = same LSH bucket in ANY of `tables`
    * independent hash tables (OR-amplification — the standard recall
    * lever: P(candidate) = 1−(1−p^planes)^tables), exact re-rank inside.
    * At corpus scale the bucket joins replace the O(|corpus|·|queries|)
    * score matrix with ~tables·|corpus| bucketed comparisons.
    *
    * Table t uses plane indices [t·planes, (t+1)·planes) of the shared
    * deterministic sign matrix, so every table is independent and still
    * model-free.
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, dims: Int = 64, tables: Int = 1): DataFrame = {
    // ONE exploded (t, bucket) row per table per vector on each side and
    // ONE equi-join on (t, bucket): the scan + quantize + bucket
    // projection appears once per side in the plan instead of once per
    // union branch, and the multi-table duplicate-candidate dedup is the
    // codegen'd first-matching-table filter over the bucket arrays
    // already on the row — no dropDuplicates shuffle of the candidates.
    val cRows = bucketRows(corpus, planes, dims, tables)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("buckets").as("cb"), col("t"), col("bucket"))
    val qRows = bucketRows(queries, planes, dims, tables)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("buckets").as("qb"), col("t"), col("bucket"))
    val scored = cRows.join(broadcast(qRows), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        firstMatchingTable(col("cb"), col("qb"), tables))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** (vec_id, embedding, buckets, t, bucket) rows: the full `tables`-long
    * bucket array computed once per vector by the fused
    * [[graft.functions.expressions.LshBuckets]] kernel (bit-identical
    * to [[lshBuckets]]), then one posexplode_outer. The array is never
    * empty; the outer form only keeps Spark's InferFiltersFromGenerate
    * from adding a `size(buckets) > 0` filter, which is pushed below the
    * projection and would evaluate the kernel a second time per vector.
    * Every multi-table candidate join shares this single projection
    * instead of recomputing it per table branch. The kernel is a plain
    * expression, not a HOF: lambda-bearing plans (`NamedLambdaVariable`
    * allocates fresh ids per analysis) never canonicalize equal, so a
    * self-join over HOF buckets would re-execute its whole input on both
    * sides instead of reusing the first side's shuffle exchange.
    */
  private def bucketRows(emb: DataFrame, planes: Int, dims: Int,
      tables: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        LshBuckets(col("embedding"), planes, dims, tables).as("buckets"))
      .select(col("vec_id"), col("embedding"), col("buckets"),
        posexplode_outer(col("buckets")).as(Seq("t", "bucket")))

  /** First-matching-table dedup predicate over two bucket arrays joined
    * at table `t`: true iff no lower-indexed table already collided, so
    * a pair colliding in several tables is emitted exactly once — by a
    * codegen'd array-element comparison on data already on the row, not
    * a dropDuplicates shuffle of the candidate set.
    *
    * Shaped as a CASE WHEN chain, not an OR of `(t = i AND …)` arms: the
    * OR form lets the optimizer extract a (vacuously true) `t IN (…)`
    * filter and push it into ONE join side, making the two sides of the
    * self-join structurally different — which defeats exchange reuse and
    * re-executes the whole bucket projection. CASE is opaque to that
    * extraction, keeping both sides canonically identical.
    */
  private def firstMatchingTable(ba: Column, bb: Column, tables: Int): Column =
    (0 until tables).foldRight(lit(false)) { (t, elseBranch) =>
      val earlierAllDiffer = (0 until t)
        .map(k => !(element_at(ba, k + 1) === element_at(bb, k + 1)))
        .foldLeft(lit(true))(_ && _)
      when(col("t") === t, earlierAllDiffer).otherwise(elseBranch)
    }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  /** Exact integer squared euclidean distance between two quantized
    * (long-array) vectors — the IVF assignment metric. Pure integer
    * arithmetic, so assignments are bit-identical in every engine (the
    * property the e03 oracle gate relies on).
    */
  def sqDistQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Train a deterministic coarse quantizer: k centroids via Lloyd's
    * iterations over the quantized corpus. Seeds are the first k vectors
    * by id (deterministic — no RNG), `iters` fixed sweeps. Returns
    * (centroid_id, centroid) with centroids as quantized long arrays:
    * each updated component is the INTEGER-ROUNDED mean
    * `floor(sum/count + 0.5)` — sums of quantized components stay far
    * below 2^53, so the double division and floor are IEEE-exact and any
    * engine reproduces the training bit-for-bit (the e03 oracle unrolls
    * these sweeps in DuckDB SQL).
    *
    * Each sweep is one broadcast-join + one aggregation over the corpus —
    * O(iters · |corpus| · k) distance evaluations, embarrassingly
    * parallel, no shuffle of the corpus itself; driver state is bounded
    * by k·dims.
    */
  def ivfTrain(corpus: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    import corpus.sparkSession.implicits._
    val qcorpus = corpus.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .cache()
    // seed from the cached projection (optimization r18): the seed
    // collect is the job that populates the cache, so training costs
    // 1 + iters corpus scans instead of 2 + iters — same first-k-by-id
    // seed values, quantized identically
    var centroids: Seq[(Int, Seq[Long])] = qcorpus
      .orderBy(col("vec_id")).limit(k)
      .select(col("q")).as[Seq[Long]]
      .collect().toSeq.zipWithIndex
      .map { case (v, i) => (i, v) }
    try {
      for (_ <- 0 until iters) {
        // nearest centroid as a ZERO-shuffle literal-argmin projection
        // (ties → lowest centroid_id, [[argminStruct]]) — identical to
        // the old crossJoin+window formulation, minus one broadcast and
        // one full-corpus vec_id shuffle PER SWEEP
        val dists = array(centroids.map { case (_, c) =>
          sqDistQ(col("q"), array(c.map(lit): _*)) }: _*)
        val assigned = qcorpus.withColumn("centroid_id",
          argminStruct(dists, centroids.size).getField("i")
            .cast(IntegerType))
        val updated = assigned
          .select(col("centroid_id"), posexplode(col("q")))
          .groupBy(col("centroid_id"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("centroid_id"), col("pos"),
            floor(col("s").cast(DoubleType) / col("n") + 0.5)
              .cast(LongType).as("comp"))
          .as[(Int, Int, Long)].collect().toSeq
          .groupBy(_._1)
          .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3).toSeq) }
        // a cluster that loses every point keeps its previous centroid —
        // the list stays exactly k long across sweeps (the groupBy above
        // omits empty clusters, which would otherwise shrink k for all
        // later sweeps and for knnIvf probing)
        centroids = centroids.map { case (cid, prev) =>
          (cid, updated.getOrElse(cid, prev))
        }
      }
    } finally qcorpus.unpersist()
    centroids.toDF("centroid_id", "centroid")
  }

  /** Assign each corpus vector to its nearest centroid (the inverted
    * lists). ZERO shuffle: the centroids are collected (bounded k·dims
    * longs, the [[ivfTrain]] driver-state contract) and embedded as
    * literals, so assignment is a pure argmin projection that
    * parallelizes with the scan — no broadcast join, no per-vector
    * window. Ties → lowest centroid id ([[argminStruct]]), identical
    * to the former crossJoin+window formulation.
    *
    * Scale trade, measured at sf0.1: the projection form costs a few
    * extra in-row HOF evaluations for tiny k (e03 ~1.2× CPU) but
    * removes a FULL-CORPUS shuffle carrying the embedding column —
    * at 100 TB the shuffle is the bottleneck, not the arithmetic, so
    * the projection wins outright (and for the PQ paths it is 0.8×
    * even at sf0.1).
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      keepDist: Boolean = false): DataFrame = {
    val cents = collectContiguousCentroids(centroids)
    val q = quantize(col("embedding"))
    val dists = array(cents.map { case (_, c) =>
      sqDistQ(q, array(c.map(lit): _*)) }: _*)
    val best = argminStruct(dists, cents.length)
    val assigned = corpus.select(col("vec_id"), col("embedding"),
      best.getField("i").cast(IntegerType).as("centroid_id"),
      best.getField("d").as("dist"))
    if (keepDist) assigned
    else assigned.select(col("vec_id"), col("embedding"), col("centroid_id"))
  }

  /** IVF search: probe the `nprobe` nearest inverted lists per query,
    * exact-rerank within them. At scale this reads |corpus|·nprobe/k of
    * the data per query instead of all of it.
    */
  def knnIvf(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame = {
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        quantize(col("embedding")).as("qq"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", sqDistQ(col("qq"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist"), col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))
    val scored = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** All-pairs cosine near-dup detection above `threshold`, scale-shaped:
    * multi-table random-hyperplane LSH self-joins generate candidates
    * (OR-amplification across `tables` independent tables — the recall
    * lever), then exact quantized-cosine verification runs on candidates
    * only. No cartesian product anywhere in the plan: each table is a
    * hash self-join on its bucket id. Candidate recall per true pair is
    * 1−(1−p^planes)^tables with p = 1−θ/π; verification keeps precision
    * exact, so the output is the LSH-recalled subset of the all-pairs
    * result (complete whenever every near-dup shares ≥ 1 bucket —
    * overwhelmingly likely for the tight clusters dedup targets).
    *
    * The candidate stage is ONE hash self-join: each vector explodes to
    * `tables` (t, bucket) rows carrying its full bucket array (the
    * [[bucketRows]] projection — quantized once, bucketed once), the two
    * join sides are the same exploded plan (the second reuses the
    * first's shuffle exchange), and the multi-table duplicate-pair
    * dedup is the codegen'd [[firstMatchingTable]] filter. The
    * scan + quantize + bucket projection — the most expensive part of
    * the operator — therefore runs once, not once per 2×tables union
    * branches as a per-table-join formulation would.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
      planes: Int = 8, dims: Int = 64, tables: Int = 2): DataFrame = {
    val rows = bucketRows(emb, planes, dims, tables)
    val a = rows.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("buckets").as("ba"), col("t"), col("bucket"))
    val b = rows.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("buckets").as("bb"), col("t"), col("bucket"))
    a.join(b, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        firstMatchingTable(col("ba"), col("bb"), tables))
      .withColumn("cos", cosineQ(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SEMANTIC deduplication (SemDeDup, Abbas et al. arXiv:2303.09540):
    * k-means cluster the embedding space, then find near-duplicate
    * pairs ONLY within each cluster — the published recipe for
    * semantic dedup at web scale, and the clustering is exactly what
    * makes it tractable: candidate work is Σ|cluster|² instead of n².
    * Composed entirely from verified pieces: [[ivfTrain]]'s
    * deterministic integer Lloyd (oracle-replayable — no rand()),
    * [[ivfAssign]]'s argmin projection, the exact quantized cosine
    * [[cosineQ]], and [[Dedup.connectedComponentsStar]]'s O(log n)
    * closure; the keep rule is the house min-id representative.
    *
    * Returns (vec_id, rep_id) for EVERY input row — singletons map to
    * themselves; a caller keeps `vec_id === rep_id` rows (or joins the
    * labels back for accounting). Plan shape at 100 TB: one Lloyd
    * train (k·iters bounded driver state), one zero-shuffle assign
    * projection, ONE shuffle of the corpus by centroid_id for the
    * within-cluster self-join, the star-CC rounds on the (tiny) pair
    * set. `maxClusterSize` is the skew guard ([[graft.functions.Dedup
    * .linkRecordPairs]]'s maxBlockSize contract, verbatim): clusters
    * past the cap are EXCLUDED from pairing (their members label as
    * singletons) rather than detonating a quadratic join — raise k
    * (more, smaller clusters) to cover them; SemDedupSpec pins the
    * exclusion.
    */
  def semDedup(emb: DataFrame, k: Int, threshold: Double,
      iters: Int = 3, maxClusterSize: Int = 100000): DataFrame = {
    require(k >= 1, s"semDedup: k must be >= 1, got $k")
    require(maxClusterSize > 1,
      s"semDedup: maxClusterSize must be > 1, got $maxClusterSize")
    val cents = ivfTrain(emb, k, iters)
    // Materialize the assignment ONCE (ADVICE r17): it is read three
    // times — the hot-cluster histogram plus BOTH sides of the
    // within-cluster self-join (whose renamed projections defeat
    // exchange reuse) — and its producer is a zero-shuffle argmin
    // projection Spark has nothing to reuse for; un-materialized that
    // is 2 extra full-corpus scan+assign passes at the 100 TB scale
    // this operator advertises (the [[Materialize]] index discipline).
    val assigned = Materialize(ivfAssign(emb, cents)
      .select(col("vec_id"), col("embedding"), col("centroid_id")))
    semDedupFromAssigned(assigned, emb.select(col("vec_id")),
      threshold, maxClusterSize)
  }

  /** [[semDedup]] with quality-aware representative selection — the
    * SemDeDup keep policy real curation ends with (the paper keeps the
    * member FARTHEST from the centroid; production pipelines keep the
    * highest-quality member — [[graft.functions.Dedup.dedupNear]]'s
    * `keepBy` and [[graft.functions.Curation.curate]]'s survivor rule
    * applied to the semantic groups). `quality` maps vec_id → score
    * (columns: the id under `emb`'s vec_id name joinable — passed as
    * (vec_id, score) frame); each group's representative is its
    * highest-score member, ties → lowest vec_id. One
    * partial-aggregatable arg-max per group (the
    * [[graft.functions.Dedup.canonicalFromEntities]] discipline) on
    * top of [[semDedup]]'s labels. Returns
    * (vec_id, rep_id, canonical_id).
    *
    * `quality` need NOT cover every vec_id (ADVICE r17: the old inner
    * join silently DROPPED unscored rows, breaking [[semDedup]]'s
    * every-row-labels invariant): rows are left-joined to their
    * scores and ranked by (scored, score) — an unscored member never
    * beats a scored one, and a group that is entirely unscored falls
    * back to the lowest-vec_id representative. Every input row comes
    * back labeled regardless of coverage.
    */
  def semDedupCanonical(emb: DataFrame, quality: DataFrame, k: Int,
      threshold: Double, iters: Int = 3,
      maxClusterSize: Int = 100000): DataFrame = {
    val labels = semDedup(emb, k, threshold, iters, maxClusterSize)
      .select(col("vec_id").as("rec_id"), col("rep_id").as("entity_id"))
    val scoredAll = labels.select(col("rec_id"))
      .join(quality.select(col("vec_id").as("rec_id"), col("score")),
        Seq("rec_id"), "left")
    graft.functions.Dedup.canonicalFromEntities(
      labels, scoredAll, col("rec_id"),
      struct(col("score").isNotNull.as("scored"), col("score").as("s")))
      .select(col("rec_id").as("vec_id"), col("entity_id").as("rep_id"),
        col("canonical_id"))
  }

  /** [[semDedup]] returning each row's exact quantized squared
    * distance to its assigned centroid alongside the label —
    * (vec_id, rep_id, dist). One extra column off the SAME
    * materialized assignment pass (no second train, no second corpus
    * scan); the distance is what the paper-faithful keep rule
    * ([[semDedupFarthest]]) arg-maxes, and callers doing their own
    * keep policy (or diagnostics on cluster tightness) read it here. */
  def semDedupWithDist(emb: DataFrame, k: Int, threshold: Double,
      iters: Int = 3, maxClusterSize: Int = 100000): DataFrame = {
    require(k >= 1, s"semDedupWithDist: k must be >= 1, got $k")
    require(maxClusterSize > 1,
      s"semDedupWithDist: maxClusterSize must be > 1, got $maxClusterSize")
    val cents = ivfTrain(emb, k, iters)
    val assigned = Materialize(ivfAssign(emb, cents, keepDist = true)
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        col("dist")))
    semDedupFromAssigned(
        assigned.select(col("vec_id"), col("embedding"),
          col("centroid_id")),
        emb.select(col("vec_id")), threshold, maxClusterSize)
      .join(assigned.select(col("vec_id"), col("dist")), Seq("vec_id"))
  }

  /** The SemDeDup PAPER's keep rule (Abbas et al. arXiv:2303.09540
    * §3: keep the member FARTHEST from its cluster centroid — the
    * most "marginal" example, maximizing retained diversity) as the
    * alternative to [[semDedupCanonical]]'s quality arg-max. Each
    * group's representative is its max-distance member, ties → lowest
    * vec_id; singletons are their own canonical. One
    * partial-aggregatable `max(struct(dist, -vec_id))` per group on
    * the assignment distances [[semDedupWithDist]] already computed —
    * map-side combine, no window (the
    * [[graft.functions.Dedup.canonicalFromEntities]] discipline).
    * Returns (vec_id, rep_id, canonical_id). */
  def semDedupFarthest(emb: DataFrame, k: Int, threshold: Double,
      iters: Int = 3, maxClusterSize: Int = 100000): DataFrame =
    farthestFromLabels(
      semDedupWithDist(emb, k, threshold, iters, maxClusterSize))

  /** The farthest-from-centroid arg-max of [[semDedupFarthest]] over
    * ALREADY-COMPUTED (vec_id, rep_id, dist) labels — lets a caller
    * (or the shared gate-fixture layer) materialize one
    * [[semDedupWithDist]] run and fan keep policies out from it. */
  def farthestFromLabels(labels: DataFrame): DataFrame = {
    val canon = labels.groupBy(col("rep_id"))
      .agg(max(struct(col("dist").as("d"), (-col("vec_id")).as("nid")))
        .as("__best"))
      .select(col("rep_id"), (-col("__best.nid")).as("canonical_id"))
    labels.join(canon, Seq("rep_id"))
      .select(col("vec_id"), col("rep_id"), col("canonical_id"))
  }

  /** The at-scale `k` setting for [[semDedup]] — the [[autoPlanes]] /
    * [[autoIvfPqConfig]] sizing discipline applied to the cluster
    * count. SemDeDup's two cost terms pull k in opposite directions:
    * Lloyd training is Θ(iters · n · k) distance evaluations while
    * within-cluster candidate work is Θ(n²/k) cosine evaluations
    * (measured falling 1/k in `bench/scale_r17/semdedup_k_curve.json`),
    * so total work minimizes at k* = sqrt(c · n / iters) for a
    * machine-dependent cost ratio c. The curve's wall-clock minimum
    * (k = 8 at n = 2040, iters = 3 — 4.65 s vs 8.25 s at k = 4 and
    * 8.59 s at k = 32) calibrates c ≈ 3/32, giving
    * k = floor(sqrt(3n / (32·iters)) + 0.5). Two clamps: k never
    * drops below ceil(n / maxOccupancy) — the AVERAGE cell must stay
    * under [[semDedup]]'s hot-cluster cap, or the guard would start
    * excluding typical (not just skewed) clusters — and never exceeds
    * n (more centroids than points trains empty cells for nothing).
    * Exact integer/IEEE arithmetic throughout, so any engine derives
    * the same k (the e17 replay contract).
    */
  def autoSemDedupK(corpusSize: Long, iters: Int = 3,
      maxOccupancy: Int = 100000): Int = {
    require(corpusSize > 0, "autoSemDedupK: corpusSize must be positive")
    require(iters >= 1, "autoSemDedupK: iters must be >= 1")
    require(maxOccupancy > 1, "autoSemDedupK: maxOccupancy must be > 1")
    val balance = math.max(1L, math.floor(
      math.sqrt(3.0 * corpusSize / (32.0 * iters)) + 0.5).toLong)
    val floorK = (corpusSize + maxOccupancy - 1) / maxOccupancy
    math.min(math.max(balance, floorK), corpusSize)
      .min(Int.MaxValue.toLong).toInt
  }

  /** [[semDedup]] with `k` sized to the corpus by [[autoSemDedupK]] —
    * the at-scale default, so the sizing rule is applied, not just
    * documented (the [[cosineNearDupPairsAuto]] shape). Pass
    * `corpusSize` when the count is already known; otherwise one
    * metadata-cheap count job runs first. `maxClusterSize` doubles as
    * the sizing rule's `maxOccupancy`, keeping the derived k and the
    * hot guard consistent by construction. */
  def semDedupAuto(emb: DataFrame, threshold: Double,
      corpusSize: Long = 0L, iters: Int = 3,
      maxClusterSize: Int = 100000): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else emb.count()
    semDedup(emb, autoSemDedupK(n, iters, maxClusterSize), threshold,
      iters, maxClusterSize)
  }

  // ---- SemDeDup artifact lifecycle (train once / label increments /
  // stream) — the train-once discipline every other model family here
  // already has (span index d32, LM models t33, BPE t38, IVF-PQ e12):
  // a 100 TB corpus trains its semantic-dedup clustering ONCE, then
  // labels daily increments against the frozen centroids at
  // O(increment) cost, never re-running Lloyd over the corpus.

  /** Path of the plain meta file inside the artifact root (the d32
    * k-in-meta rule: parameters ride INSIDE the one swapped root, so a
    * reader can never pair the tree with the wrong threshold). */
  private def semDedupMetaPath(path: String) = s"$path/_meta_semdedup"

  /** The stream-growth epoch areas ([[appendSemDedupGrowth]]):
    * `growth/epoch=N/centroid_id=C` assignment rows and
    * `growth_labels/epoch=N` labels — per-epoch OVERWRITE makes a
    * replayed batch idempotent without touching the base artifact's
    * layout; [[rewriteSemDedupModel]] absorbs them on its cadence. */
  private[graft] def semDedupGrowthPath(path: String) = s"$path/growth"
  private[graft] def semDedupGrowthLabelsPath(path: String) =
    s"$path/growth_labels"

  /** A growth area, or None before its first epoch is written. The
    * existence check comes first: reading a missing directory logs a
    * `FileStreamSink` warning with a stack trace. A present directory
    * with no data files (every epoch taken down) has no schema to
    * infer, and reads as None too. */
  private def readGrowth(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else scala.util.Try(spark.read.parquet(dir)).toOption
  }

  /** Absorbed-epoch markers are LINEAGE-SCOPED: epoch numbers restart
    * at 0 under a fresh checkpoint lineage, so an unscoped marker
    * from a PRIOR lineage's absorb would make the new lineage's
    * genuinely-new batch 0 look already-absorbed — silently skipped,
    * its rows never grown, later batches blind to it. A marker only
    * ever matches the lineage whose replay it guards. */
  private[graft] def semDedupAbsorbedMarker(path: String,
      lineage: String, epoch: Long) =
    s"$path/_growth_absorbed/$lineage-$epoch"

  /** Train and persist a SemDeDup model artifact: the frozen Lloyd
    * centroids, the archive's (vec_id, embedding) rows laid out as a
    * `centroid_id=`-partitioned index (so an increment's within-cluster
    * pairing reads ONLY its touched cells — partition-pruned, the e12
    * discipline), the archive's own (vec_id, rep_id) labels (one
    * [[semDedup]] run), and the threshold/maxClusterSize meta inside
    * the root. Staged into `path-staging` and swapped atomically
    * ([[Curation.swapStaged]]): a crash leaves the old artifact or the
    * new one, never a mix; readers first run recovery.
    *
    * Layout: `path/centroids` (centroid_id, centroid), `path/index`
    * partitioned by centroid_id, `path/labels`, `path/_meta_semdedup`.
    * Rebuild (model drift after enough increments) = call again; the
    * swap keeps concurrent readers consistent. SINGLE-WRITER like
    * every artifact maintenance call here.
    */
  def writeSemDedupModel(emb: DataFrame, path: String, k: Int,
      threshold: Double, iters: Int = 3,
      maxClusterSize: Int = 100000): Unit = {
    require(k >= 1, s"writeSemDedupModel: k must be >= 1, got $k")
    require(maxClusterSize > 1,
      s"writeSemDedupModel: maxClusterSize must be > 1, got $maxClusterSize")
    val spark = emb.sparkSession
    val staged = s"$path-staging"
    val conf = spark.sparkContext.hadoopConfiguration
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedP.getFileSystem(conf)
    fs.delete(stagedP, true)
    val cents = ivfTrain(emb, k, iters)
    // one materialized assignment feeds the index layout, the hot
    // histogram, and both self-join sides (the semDedup discipline)
    val assigned = Materialize(ivfAssign(emb, cents)
      .select(col("vec_id"), col("embedding"), col("centroid_id")))
    cents.write.mode("overwrite").parquet(s"$staged/centroids")
    assigned.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$staged/index")
    semDedupFromAssigned(assigned, emb.select(col("vec_id")),
        threshold, maxClusterSize)
      .write.mode("overwrite").parquet(s"$staged/labels")
    writeSemDedupMeta(fs, staged, threshold, maxClusterSize)
    Curation.swapStaged(spark, staged, path)
  }

  /** The ONE meta writer for every verb that emits an artifact root
    * ([[writeSemDedupModel]] and the [[compactSemDedupModel]]/
    * [[deleteFromSemDedupModel]] rewrite) — a format drift between
    * two hand-rolled copies would make artifacts from one verb
    * unreadable by [[readSemDedupMeta]] while the other's still work,
    * the exact pairing hazard the in-root meta exists to prevent.
    * Written through the hadoop FS (a java.nio write would poison the
    * .crc sidecar on RawLocalFileSystem), inside the swapped root. */
  private def writeSemDedupMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: String, threshold: Double, maxClusterSize: Int): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(semDedupMetaPath(root)), true)
    try out.write(
      s"threshold=$threshold\nmaxClusterSize=$maxClusterSize\n"
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The [[semDedup]] pair+closure chain over an ALREADY-materialized
    * assignment — shared by [[semDedup]] (train-and-label) and
    * [[writeSemDedupModel]] (which also persists the assignment). */
  private def semDedupFromAssigned(assigned: DataFrame, ids: DataFrame,
      threshold: Double, maxClusterSize: Int): DataFrame = {
    val hot = broadcast(
      assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxClusterSize)
        .select(col("centroid_id")))
    val guarded = assigned.join(hot, Seq("centroid_id"), "left_anti")
    val a = guarded.select(col("centroid_id"),
      col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = guarded.select(col("centroid_id"),
      col("vec_id").as("id_b"), col("embedding").as("eb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b") &&
        cosineQ(col("ea"), col("eb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val labels = graft.functions.Dedup.connectedComponentsStar(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("rep_id"))
    ids.join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
  }

  /** Read a [[writeSemDedupModel]] artifact's archived labels back
    * ((vec_id, rep_id) for every archive row). Finishes an
    * interrupted swap first, so the artifact is always reachable. */
  def readSemDedupLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    Curation.recoverSwap(spark, path, s"$path-staging")
    spark.read.parquet(s"$path/labels")
  }

  /** Read the (threshold, maxClusterSize) meta from inside the root. */
  private[graft] def readSemDedupMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Double, Int) = {
    val p = new org.apache.hadoop.fs.Path(semDedupMetaPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"semDedup artifact at $path has no _meta_semdedup — not a " +
        "writeSemDedupModel tree (or written by an incompatible version)")
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = body.linesIterator.filter(_.contains('='))
      .map { l => val Array(a, v) = l.split("=", 2); a -> v }.toMap
    (kv("threshold").toDouble, kv("maxClusterSize").toInt)
  }

  /** Label an INCREMENT against a frozen [[writeSemDedupModel]]
    * artifact — the O(increment) verb: assign the new vectors to the
    * frozen centroids (zero-shuffle argmin), find near-dup pairs
    * within each touched cluster against the increment itself AND the
    * archived members of that cluster (the archive side is a
    * partition-pruned read of ONLY the touched `centroid_id=` cells,
    * never the whole index), attach archive matches to their FROZEN
    * archived rep_ids, and close transitively. Returns (vec_id,
    * rep_id) for every increment row: a component that reaches the
    * archive labels with the smallest ARCHIVED REP it reaches
    * (REP PRIORITY — regardless of how the increment's own ids
    * compare, so increment labels union consistently with
    * [[readSemDedupLabels]]); an archive-free component labels with
    * its minimum increment id (the d34 rule); singletons self-label.
    * Ids must be distinct across archive and increment (the usual
    * vec_id uniqueness contract).
    *
    * FROZEN-ARCHIVE contract (the d33/e13 incremental discipline):
    * archived labels never change here — an increment vector that
    * bridges two archive groups takes the smaller rep and the groups
    * stay distinct until the next full [[writeSemDedupModel]] rebuild
    * (exactly [[appendIvfPqIndex]]'s frozen-model trade: drift
    * belongs to the rebuild cadence, not the ingest path). The hot
    * guard applies to the COMBINED (archive + increment) cluster
    * size, with the artifact's own maxClusterSize — clusters past the
    * cap are excluded from pairing and their increment members
    * self-label (the [[semDedup]] exclusion contract).
    */
  def semDedupIncrement(spark: org.apache.spark.sql.SparkSession,
      path: String, inc: DataFrame): DataFrame =
    semDedupIncrementLabeled(spark, path, inc, growthBelow = None)._1

  /** [[semDedupIncrement]] also returning the increment's materialized
    * (vec_id, embedding, centroid_id) assignment, so the append verbs
    * write WITHOUT a second full scan-and-argmin pass over the
    * increment. `growthBelow = Some(n)` restricts the GROWTH epochs
    * the archive side includes to those strictly below `n` (the s19
    * replay guard: a streaming batch must never read its own — or a
    * crashed attempt's — epoch); `None` includes every growth epoch
    * (the batch-orchestration default). */
  private def semDedupIncrementLabeled(
      spark: org.apache.spark.sql.SparkSession,
      path: String, inc: DataFrame,
      growthBelow: Option[Long]): (DataFrame, DataFrame) = {
    Curation.recoverSwap(spark, path, s"$path-staging")
    val (threshold, maxClusterSize) = readSemDedupMeta(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val incAssigned = Materialize(ivfAssign(inc, cents)
      .select(col("vec_id"), col("embedding"), col("centroid_id")))
    // touched cells: bounded by k (the ivfTrain driver-state
    // contract), so the collect is O(k) ints, never O(increment)
    val touched = incAssigned.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val baseArchive =
      if (touched.isEmpty) incAssigned.limit(0)
      else scala.util.Try(semDedupArchiveCells(spark, path, touched.toSeq))
        // a fully-taken-down index has no data files to infer a
        // schema from — an empty archive, not an error
        .getOrElse(incAssigned.limit(0))
    // stream-grown rows (the [[appendSemDedupGrowth]] epoch area):
    // (epoch, centroid_id) are BOTH partition columns, so the epoch
    // bound and the touched cells prune at the listing
    val growthArchive =
      if (touched.isEmpty) None
      else readGrowth(spark, semDedupGrowthPath(path)).map { g =>
        growthBelow.fold(g)(n => g.filter(col("epoch") < n))
          .filter(col("centroid_id")
            .isin(touched.map(Integer.valueOf).toSeq: _*))
          .select(col("vec_id"), col("embedding"),
            col("centroid_id").cast(IntegerType).as("centroid_id"))
      }
    val archive = growthArchive.fold(baseArchive)(baseArchive.unionByName)
    // combined hot-cluster guard: |archive cell| + |increment cell|
    val hot = broadcast(
      incAssigned.select(col("centroid_id"))
        .unionByName(archive.select(col("centroid_id")))
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxClusterSize)
        .select(col("centroid_id")))
    val gInc = incAssigned.join(hot, Seq("centroid_id"), "left_anti")
    val gArch = archive.join(hot, Seq("centroid_id"), "left_anti")
    val a = gInc.select(col("centroid_id"),
      col("vec_id").as("id_a"), col("embedding").as("ea"))
    val bInc = gInc.select(col("centroid_id"),
      col("vec_id").as("id_b"), col("embedding").as("eb"))
    val pairsInc = a.join(bInc, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b") &&
        cosineQ(col("ea"), col("eb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val bArch = gArch.select(col("centroid_id"),
      col("vec_id").as("id_b"), col("embedding").as("eb"))
    val baseLabels = readSemDedupLabels(spark, path)
      .select(col("vec_id").as("id_b"), col("rep_id"))
    val archLabels = readGrowth(spark, semDedupGrowthLabelsPath(path))
      .map { g =>
        baseLabels.unionByName(
          growthBelow.fold(g)(n => g.filter(col("epoch") < n))
            .select(col("vec_id").as("id_b"), col("rep_id")))
      }.getOrElse(baseLabels)
    // materialized (optimization r18): read twice — star-CC's edge
    // set AND the rep-priority node set below — and its producer is
    // the archive-cell join chain (partition-pruned reads + two
    // joins), which Spark would otherwise evaluate twice
    val pairsArch = Materialize(a.join(bArch, Seq("centroid_id"))
      .filter(cosineQ(col("ea"), col("eb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .join(archLabels, Seq("id_b"))
      .select(col("id_a"), col("rep_id").as("id_b")))
    val cc = graft.functions.Dedup.connectedComponentsStar(
      pairsInc.unionByName(pairsArch))
    // REP PRIORITY: a component that reaches the archive labels with
    // its smallest ARCHIVED rep, not the component's global min id —
    // otherwise an increment id smaller than the rep would silently
    // split one semantic group across two labels. Both frames are
    // bounded by the increment's non-singleton components.
    val repNodes = pairsArch.select(col("id_b").as("doc_id")).distinct()
    val clusterRep = cc.join(repNodes, Seq("doc_id"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("__rep"))
    val labels = cc.join(clusterRep, Seq("cluster_id"), "left")
      .select(col("doc_id").as("vec_id"),
        coalesce(col("__rep"), col("cluster_id")).as("rep_id"))
    val out = inc.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
    (out, incAssigned)
  }

  /** Shared staged-rebuild body for [[compactSemDedupModel]] and
    * [[deleteFromSemDedupModel]]: re-emit the artifact (index
    * repartitioned whole-cells-per-task, labels consolidated,
    * centroids and meta verbatim) into `path-staging`, dropping
    * `dropIds` rows from BOTH the index and the labels when given,
    * then swap atomically. One pass over the ARTIFACT, never a
    * retrain. */
  private def rewriteSemDedupModel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      dropIds: Option[DataFrame]): Unit = {
    Curation.recoverSwap(spark, path, s"$path-staging")
    val (threshold, maxClusterSize) = readSemDedupMeta(spark, path)
    val staged = s"$path-staging"
    val conf = spark.sparkContext.hadoopConfiguration
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedP.getFileSystem(conf)
    fs.delete(stagedP, true)
    def minus(df: DataFrame): DataFrame = dropIds match {
      case Some(ids) => df.join(
        broadcast(ids.select(col(ids.columns.head).as("vec_id"))
          .distinct()),
        Seq("vec_id"), "left_anti")
      case None => df
    }
    // the stream-growth epoch area is ABSORBED into the base artifact
    // (growth rows join the index, growth labels join the labels, the
    // epoch dirs do not survive the swap); absorbed epoch numbers are
    // recorded as markers INSIDE the staged root so a post-absorb
    // stream replay of a folded batch is recognized and skipped
    // instead of re-growing absorbed rows
    val growthIdx = readGrowth(spark, semDedupGrowthPath(path))
      .map(_.select(col("vec_id"), col("embedding"),
        col("centroid_id").cast(IntegerType).as("centroid_id")))
    val growthLab = readGrowth(spark, semDedupGrowthLabelsPath(path))
      .map(_.select(col("vec_id"), col("rep_id")))
    val absorbedEpochs: Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(semDedupGrowthPath(path))
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("epoch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("epoch=").toLong)
          .toOption)
    }
    // an already-emptied index (a prior delete-all) has no data files
    // to infer a schema from — re-emit nothing; every index reader
    // treats the absent/empty dir as an empty archive
    val baseIdx = scala.util.Try(spark.read.parquet(s"$path/index"))
      .toOption
      .map(_.select(col("vec_id"), col("embedding"),
        col("centroid_id").cast(IntegerType).as("centroid_id")))
    (baseIdx ++ growthIdx).reduceOption(_ unionByName _).foreach { idx =>
      minus(idx)
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$staged/index")
    }
    val baseLab = spark.read.parquet(s"$path/labels")
      .select(col("vec_id"), col("rep_id"))
    minus(growthLab.fold(baseLab)(baseLab.unionByName))
      .coalesce(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$staged/labels")
    // centroids are UNCHANGED by a rewrite — carry the files over as a
    // byte copy instead of a Spark read→coalesce→write round-trip
    // (optimization r19, guide §1.2: two jobs of pure re-encoding for
    // bit-identical bytes)
    graft.TreeCopy.copy(spark, s"$path/centroids", s"$staged/centroids")
    writeSemDedupMeta(fs, staged, threshold, maxClusterSize)
    // prior absorb markers carry over; this absorb's epochs add to
    // them, SCOPED to the stream lineage that grew them (read from
    // the pre-swap root; orchestrated growth without a stream lineage
    // writes no markers — exactly-once orchestration owns its replay)
    val priorMarkers = new org.apache.hadoop.fs.Path(
      s"$path/_growth_absorbed")
    if (fs.exists(priorMarkers))
      graft.TreeCopy.copy(spark, priorMarkers.toString,
        s"$staged/_growth_absorbed")
    val lineageP = new org.apache.hadoop.fs.Path(
      s"$path/_stream_lineage")
    val lineage =
      if (!fs.exists(lineageP)) None
      else {
        val in = fs.open(lineageP)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim).filter(_.nonEmpty)
        finally in.close()
      }
    lineage.foreach { lin =>
      absorbedEpochs.foreach { e =>
        val m = new org.apache.hadoop.fs.Path(
          semDedupAbsorbedMarker(staged, lin, e))
        fs.mkdirs(m.getParent)
        val out = fs.create(m, true)
        out.close()
      }
      // the lineage binding itself survives the swap, so the original
      // checkpoint's replay window can still find its markers
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$staged/_stream_lineage"), true)
      try out.write(lin.getBytes("UTF-8")) finally out.close()
    }
    Curation.swapStaged(spark, staged, path)
  }

  /** Rewrite an append-grown [[writeSemDedupModel]] artifact as one
    * clean file set — the small-file maintenance call every
    * append-based artifact here has ([[compactIvfPqIndex]]'s rule):
    * each [[appendSemDedupModel]] leaves one file set per touched
    * cell per batch (and one more under `labels/`), so a long ingest
    * history eventually makes the LISTING — not the data — the cost
    * of an increment's partition-pruned cell read. Rows are
    * frozen-model state with no cross-row coupling, so the rewrite
    * reproduces the identical row set (gate d40 reads labels through
    * a compacted artifact against the uncompacted oracle; the spec
    * counts files per cell). Staged + swapped; SINGLE-WRITER — pause
    * appends while compacting. */
  def compactSemDedupModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    rewriteSemDedupModel(spark, path, None)

  /** TAKEDOWN for a [[writeSemDedupModel]] artifact — the deletion
    * verb of the lifecycle ([[deleteFromIvfPqIndex]]'s rule): a
    * removed document's EMBEDDING is still content, and an artifact
    * that keeps serving it as a dedup anchor has not forgotten it.
    * Removes `ids` (single-column frame, broadcast) from BOTH the
    * archive index and the archived labels in one staged rebuild.
    *
    * Surviving rows keep their (vec_id, rep_id) labels VERBATIM —
    * the frozen-labels contract: a rep_id is a GROUP IDENTIFIER that
    * may outlive the row that donated it (it carries no content —
    * the deleted row's embedding and index entry are gone); group
    * membership among survivors is unchanged, which is exactly what
    * a takedown must and must only do. Re-canonicalizing reps is the
    * rebuild's job ([[writeSemDedupModel]] on its drift cadence).
    * Deletion is a row operation under the frozen model — never a
    * retrain — so the surviving artifact equals a fresh layout of
    * archive-minus-deleted under the SAME centroids (d39,
    * hash-gated). Idempotent (absent ids are a no-op); staged +
    * swapped; SINGLE-WRITER. */
  def deleteFromSemDedupModel(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit =
    rewriteSemDedupModel(spark, path, Some(ids))

  /** The increment's archive-side read: ONLY the touched
    * `centroid_id=` cells — the equality predicate on the partition
    * column is a static PartitionFilter, so untouched cells are never
    * listed or read (SemDedupArtifactSpec asserts the scan's
    * numPartitions metric — the e12 discipline). Package-private so
    * the spec asserts the EXACT frame [[semDedupIncrement]] reads. */
  private[graft] def semDedupArchiveCells(
      spark: org.apache.spark.sql.SparkSession, path: String,
      touched: Seq[Int]): DataFrame =
    spark.read.parquet(s"$path/index")
      .filter(col("centroid_id").isin(touched.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("embedding"),
        col("centroid_id").cast(IntegerType).as("centroid_id"))

  /** Grow a [[writeSemDedupModel]] artifact by one labeled increment:
    * label the increment against the frozen model
    * ([[semDedupIncrement]]), then append its rows into their
    * `centroid_id=` index cells and its labels into `labels/` —
    * O(increment), the [[appendIvfPqIndex]] shape. After the append,
    * later increments dedup against these rows too (sequential
    * ingest = each batch labels against everything before it).
    *
    * NOT idempotent (a replayed append duplicates rows — same as
    * every append verb here): drive from exactly-once orchestration
    * or the checkpointed stream
    * ([[graft.streaming.CorpusStream.semDedupIngest]] labels WITHOUT
    * growing; growth under replay needs the epoch discipline, which
    * batch orchestration owns). Returns the increment's labels so the
    * caller doesn't recompute them.
    */
  def appendSemDedupModel(spark: org.apache.spark.sql.SparkSession,
      path: String, inc: DataFrame): DataFrame = {
    // one assignment pass: the labeling already materialized the
    // increment's (vec_id, embedding, centroid_id) — the index append
    // writes THAT frame instead of re-running scan+argmin
    val (labels, assigned) =
      semDedupIncrementLabeled(spark, path, inc, growthBelow = None)
    assigned.repartition(col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/index")
    labels.write.mode("append").parquet(s"$path/labels")
    labels
  }

  /** Grow the artifact by one EPOCH-KEYED increment — the
    * replay-exact growth verb behind the streaming ingest
    * ([[graft.streaming.CorpusStream.semDedupGrowIngest]], the s19
    * discipline on the semantic archive): the batch labels against
    * the base artifact PLUS growth epochs STRICTLY BELOW its own
    * (so a crashed attempt's half-written epoch can never poison its
    * replay, and the labeling's lazy reads stay correct even after
    * this epoch's dirs land), then writes its assignment rows to
    * `growth/epoch=N/centroid_id=C` and its labels to
    * `growth_labels/epoch=N` — both `mode(overwrite)` on the OWN
    * epoch dir only, so a redelivered batch overwrites instead of
    * duplicating (unlike [[appendSemDedupModel]], which is the
    * exactly-once-orchestration append). Later epochs dedup against
    * these rows; [[compactSemDedupModel]] /
    * [[deleteFromSemDedupModel]] ABSORB the growth area into the
    * base artifact (leaving `_growth_absorbed/<epoch>` markers so a
    * post-absorb replay is recognized and skipped by the ingest).
    * Returns the increment's labels. */
  def appendSemDedupGrowth(spark: org.apache.spark.sql.SparkSession,
      path: String, inc: DataFrame, epoch: Long): DataFrame = {
    require(epoch >= 0, s"appendSemDedupGrowth: epoch must be >= 0")
    val (labels, assigned) =
      semDedupIncrementLabeled(spark, path, inc,
        growthBelow = Some(epoch))
    assigned.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"${semDedupGrowthPath(path)}/epoch=$epoch")
    labels.write.mode("overwrite")
      .parquet(s"${semDedupGrowthLabelsPath(path)}/epoch=$epoch")
    labels
  }

  /** Semantic-dedup DATA CARD (the t47/p18 release-notes discipline
    * on the label table): the duplicate-group SIZE HISTOGRAM —
    * (group_size, n_groups, n_vectors) — from which every headline
    * dedup number a corpus release publishes reads off directly:
    * singletons = the group_size-1 row, duplicate mass =
    * Σ n_vectors − Σ n_groups over group_size > 1, the dedup ratio =
    * Σ n_groups / Σ n_vectors, and the largest near-identical pile
    * (the hot-cluster / template-spam smell) = max group_size. TWO
    * partial-aggregatable rollups (labels → per-group size → per-size
    * counts), each map-side combined — no window, no collect, so a
    * billion-group corpus ships one row per (task × distinct size).
    * Works on any (vec_id, rep_id) frame: [[semDedup]] output,
    * [[readSemDedupLabels]], or an increment's labels.
    */
  def semDedupStats(labels: DataFrame): DataFrame =
    labels.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        (count(lit(1)) * col("group_size")).as("n_vectors"))

  /** The at-scale `planes` setting for [[cosineNearDupPairs]]/[[knnLsh]].
    *
    * A hyperplane-LSH self-join does Θ(n²/B) candidate work with
    * B = tables·2^planes buckets: with `planes` FIXED, bucket occupancy
    * grows linearly with the corpus and candidate pairs quadratically —
    * measured in SCALE.md ("Measured scaling curve": 101.8× candidate
    * work at 10× corpus for the fixed 8-plane config). Keeping the
    * expected bucket occupancy at `targetOccupancy` instead requires
    * planes ≈ log₂(n / targetOccupancy), which is what this returns
    * (clamped to [4, 30]). Recall per additional plane drops by ×p
    * (p = 1−θ/π), so pair `planes` growth with more `tables`
    * (OR-amplification: 1−(1−p^planes)^tables) — e.g. 12 planes / 8
    * tables ≥ the 8-plane / 4-table recall at cos ≥ 0.95, with 6.3×
    * less candidate work at 50k vectors (measured).
    */
  def autoPlanes(corpusSize: Long, targetOccupancy: Int = 32): Int = {
    require(corpusSize > 0 && targetOccupancy > 0)
    val raw = math.ceil(
      math.log(corpusSize.toDouble / targetOccupancy) / math.log(2)).toInt
    math.min(30, math.max(4, raw))
  }

  /** [[cosineNearDupPairs]] with `planes` sized to the corpus by
    * [[autoPlanes]] — the at-scale default, so the sizing rule is
    * applied, not just documented. Pass `corpusSize` when the count is
    * already known; otherwise one count job runs first (metadata-only
    * against columnar sources — cheap next to the self-join it sizes).
    * Pair the grown planes with more `tables` for recall
    * (OR-amplification; see [[autoPlanes]]).
    */
  def cosineNearDupPairsAuto(emb: DataFrame, threshold: Double,
      corpusSize: Long = 0L, dims: Int = 64, tables: Int = 2,
      targetOccupancy: Int = 32): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else emb.count()
    cosineNearDupPairs(emb, threshold, autoPlanes(n, targetOccupancy),
      dims, tables)
  }

  /** [[knnLsh]] with `planes` sized to the CORPUS side by [[autoPlanes]]
    * (bucket occupancy — and so per-query candidate work — is set by the
    * corpus, not the query set). Same `corpusSize` contract as
    * [[cosineNearDupPairsAuto]].
    */
  def knnLshAuto(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusSize: Long = 0L, dims: Int = 64, tables: Int = 1,
      targetOccupancy: Int = 32): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else corpus.count()
    knnLsh(corpus, queries, k, autoPlanes(n, targetOccupancy), dims, tables)
  }

  /** Cross-corpus ANN as a JOIN: for every `left` vector, the top-k
    * nearest `right` vectors by quantized cosine — with BOTH sides
    * large. [[knnBrute]]/[[knnLsh]] require a broadcastable query set;
    * this is the shape when neither side fits in a broadcast (embedding
    * decontamination of one 100 TB corpus against another, cross-corpus
    * linking, retrieval-index construction).
    *
    * Plan shape: each side explodes to `tables` (t, bucket) LSH rows via
    * the shared [[bucketRows]] projection (quantize + bucket once per
    * vector), the candidate stage is ONE shuffle hash equi-join on
    * (t, bucket) — `hint("shuffle_hash")` pins the strategy so Catalyst
    * never "helpfully" broadcasts a side whose stats look small —
    * multi-table duplicate candidates collapse via the codegen'd
    * [[firstMatchingTable]] filter (no dropDuplicates shuffle), and the
    * per-left top-k is a window over `left_id` (candidate count per left
    * row is bounded by tables × bucket occupancy, so no skewed window
    * partition). No cartesian, no broadcast of either corpus, anywhere.
    *
    * Recall per true neighbor is 1−(1−p^planes)^tables (p = 1−θ/π);
    * size `planes` to the corpus with [[annJoinAuto]] and buy recall
    * with `tables` (OR-amplification).
    *
    * Schema in: (vec_id, embedding) on both sides.
    * Schema out: (left_id, right_id, rank, cos).
    *
    * `maxBucketSize` defaults to [[AutoBucketCap]] (0): the hot-bucket
    * guard is ON by default, with the cap derived from expected
    * occupancy by the [[autoMaxBucketSize]] arithmetic — resolved
    * IN-PLAN from two lazy column-pruned counts (zero extra Spark
    * actions, zero extra corpus scans; the guard itself is a count
    * window riding the join's own shuffle — see
    * [[annScoredCandidates]]). Pass a positive cap, e.g. from
    * [[autoMaxBucketSize]] with known sizes, to skip even the lazy
    * counts. `Int.MaxValue` is the explicit opt-out. Whenever the
    * cap is finite, pair the run with [[annDroppedBuckets]] (same
    * arguments) — dropped cells are a recall trade-off and must be
    * reported, never silent.
    */
  def annJoin(left: DataFrame, right: DataFrame, k: Int,
      planes: Int = 8, dims: Int = 64, tables: Int = 2,
      maxBucketSize: Int = AutoBucketCap): DataFrame = {
    val scored = annScoredCandidates(left, right, planes, dims, tables,
      maxBucketSize)
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos").desc, col("right_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("left_id"), col("right_id"), col("rank"), col("cos"))
  }

  /** The [[annJoin]] candidate+verify stage without the per-left top-k:
    * (left_id, right_id, cos) for every LSH-colliding cross pair. One
    * shuffle hash equi-join on (t, bucket), no broadcast of either side.
    *
    * `maxBucketSize` is the hot-bucket guard — the one skew mode
    * [[autoPlanes]] CANNOT fix: occupancy sizing assumes vectors spread
    * across buckets, but a pile of near-identical vectors (a template
    * embedding, all-zero rows) lands in ONE bucket of EVERY table at
    * any plane count, and a cell with l·r members does l·r work.
    * A (t, bucket) cell where EITHER side exceeds the cap contributes
    * nothing to the join (each side self-filters by its own cell count;
    * see the in-body note for why that is output-identical to dropping
    * the cell from both sides). Dropping a cell is a recall trade-off,
    * never silent: [[annDroppedBuckets]] with the same arguments
    * enumerates exactly what the cap suppressed.
    *
    * `maxBucketSize` semantics: positive = that cap; [[AutoBucketCap]]
    * (0) = derive via the [[autoMaxBucketSize]] arithmetic from the
    * LARGER side's count, resolved IN-PLAN (zero extra Spark actions);
    * `Int.MaxValue` = explicitly uncapped. The guard's own cost when
    * active is one count window per side over the join's OWN (t,
    * bucket) partitioning — an in-partition sort, no extra exchange,
    * no second corpus scan.
    */
  private def annScoredCandidates(left: DataFrame, right: DataFrame,
      planes: Int, dims: Int, tables: Int,
      maxBucketSize: Int = AutoBucketCap): DataFrame = {
    val l0 = bucketRows(left, planes, dims, tables)
      .select(col("vec_id").as("left_id"), col("embedding").as("l_emb"),
        col("buckets").as("lb"), col("t"), col("bucket"))
    val r0 = bucketRows(right, planes, dims, tables)
      .select(col("vec_id").as("right_id"), col("embedding").as("r_emb"),
        col("buckets").as("rb"), col("t"), col("bucket"))
    // The hot-bucket guard rides the join's OWN shuffle: each side's
    // per-cell occupancy is a count window over (t, bucket) — the
    // window's required partitioning IS the join's, so Spark inserts
    // no extra exchange and the corpus is scanned exactly once per
    // side (the round-11 shape recomputed both sides' buckets inside
    // a broadcast anti-join subtree, plus one eager count() job per
    // side — 2× the scan work and two driver round trips). Each side
    // self-filters by its OWN cell count; for the inner candidate join
    // that is output-identical to dropping a hot cell from both sides
    // (a cell emptied on either side contributes nothing), and every
    // SURVIVING cell is ≤ cap rows on its own side, so no join task
    // ever builds a degenerate pile.
    val (l, r) =
      if (maxBucketSize == Int.MaxValue) (l0, r0)
      else {
        val wCell = Window.partitionBy(col("t"), col("bucket"))
        def guard(df: DataFrame): DataFrame = {
          val counted = df.withColumn("__cell_n", count(lit(1)).over(wCell))
          val kept =
            if (maxBucketSize != AutoBucketCap)
              counted.filter(col("__cell_n") <= maxBucketSize.toLong)
            else
              counted.crossJoin(broadcast(autoCapFrame(left, right, planes)))
                .filter(col("__cell_n") <= col("__cap"))
          kept.drop("__cell_n", "__cap")
        }
        (guard(l0), guard(r0))
      }
    l.hint("shuffle_hash").join(r.hint("shuffle_hash"), Seq("t", "bucket"))
      .filter(firstMatchingTable(col("lb"), col("rb"), tables))
      .select(col("left_id"), col("right_id"),
        cosineQ(col("l_emb"), col("r_emb")).as("cos"))
  }

  /** The accounting side of the [[annJoin]]/[[decontaminateByEmbedding]]
    * `maxBucketSize` guard: (t, bucket, side, bucket_size) for every
    * (table, bucket) cell the cap drops, labeled with which input
    * exceeded it. One aggregate per side — run it whenever the cap is
    * active so a capped run always reports what it skipped instead of
    * silently under-recalling.
    *
    * `maxBucketSize` takes the SAME values as [[annJoin]]'s, including
    * the [[AutoBucketCap]] default: the auto cap is re-resolved here
    * with the identical in-plan arithmetic (same operands, same IEEE
    * ops, from the same two lazy counts), so "same arguments" really
    * means same arguments — passing the sentinel through verbatim
    * reports exactly the cells the capped run dropped, never "every
    * non-empty cell" (the literal-0 comparison a naive pass-through
    * would make).
    */
  def annDroppedBuckets(left: DataFrame, right: DataFrame,
      planes: Int, dims: Int, tables: Int,
      maxBucketSize: Int = AutoBucketCap): DataFrame = {
    val sized = Seq(("left", left), ("right", right)).map { case (side, df) =>
      bucketRows(df, planes, dims, tables)
        .groupBy(col("t"), col("bucket"))
        .agg(count(lit(1)).as("bucket_size"))
        .withColumn("side", lit(side))
    }.reduce(_ unionByName _)
    if (maxBucketSize != AutoBucketCap)
      sized.filter(col("bucket_size") > maxBucketSize)
    else
      sized.crossJoin(broadcast(autoCapFrame(left, right, planes)))
        .filter(col("bucket_size") > col("__cap"))
        .drop("__cap")
  }

  /** The [[AutoBucketCap]] resolution, in-plan: a 1-row `__cap` frame —
    * `ceil(max(1.0, maxSide / 2^planes) * safetyFactor)`, the
    * [[autoMaxBucketSize]] arithmetic with the SAME operands and IEEE
    * ops, computed from two column-pruned lazy counts cross-joined for
    * a 1-row broadcast (a map-side filter at any scale, never a
    * corpus-sized loop). ONE definition shared by the capped join
    * ([[annScoredCandidates]]) and its drop report
    * ([[annDroppedBuckets]]), so "same arguments → same cap" holds by
    * construction, not by a test pinning two copies together.
    */
  private def autoCapFrame(left: DataFrame, right: DataFrame,
      planes: Int): DataFrame = {
    val divisor = (1L << math.min(planes, 62)).toDouble
    left.agg(count(lit(1)).as("__nl"))
      .crossJoin(right.agg(count(lit(1)).as("__nr")))
      .select(ceil(greatest(lit(1.0),
          greatest(col("__nl"), col("__nr")).cast("double")
            / lit(divisor)) * lit(64.0)).as("__cap"))
  }

  /** `maxBucketSize` sentinel: derive the hot-bucket cap from expected
    * occupancy via [[autoMaxBucketSize]]. The default everywhere — the
    * guard is ON unless the caller explicitly passes `Int.MaxValue`.
    */
  val AutoBucketCap: Int = 0

  /** Occupancy-derived default for the [[annJoin]] family's
    * `maxBucketSize` hot-bucket guard (the SCALE.md occupancy rule,
    * applied, not just documented): expected cell occupancy is
    * corpus / 2^planes, and a healthy cell should never exceed a small
    * multiple of it — `safetyFactor` (64×) leaves natural clustering
    * untouched while a degenerate pile (near-identical template
    * embeddings, all-zero rows — the one skew mode [[autoPlanes]]
    * cannot fix, since identical vectors share ONE cell of EVERY table
    * at any plane count) overshoots it by construction. Floor of
    * `safetyFactor` so tiny corpora (occupancy < 1) never cap natural
    * cells; with [[autoPlanes]] sizing (occupancy ≈ targetOccupancy =
    * 32) the derived cap is ~2048, bounding any cell's join work at
    * ~4M·tables comparisons regardless of corpus size.
    */
  def autoMaxBucketSize(corpusSize: Long, planes: Int,
      safetyFactor: Int = 64): Int = {
    require(corpusSize > 0 && safetyFactor > 0)
    val occupancy = math.max(1.0,
      corpusSize.toDouble / (1L << math.min(planes, 62)))
    val cap = occupancy * safetyFactor
    if (cap >= Int.MaxValue.toDouble) Int.MaxValue else math.ceil(cap).toInt
  }

  /** [[annJoin]] with `planes` sized by [[autoPlanes]] to the LARGER
    * side (candidate work per bucket is left_m × right_m, so the bigger
    * side sets occupancy). Same `size` contract as the other Auto
    * overloads: pass known counts to skip the sizing count jobs. The
    * hot-bucket cap defaults to [[AutoBucketCap]] and is resolved here
    * from the already-known sizes — no extra count beyond the sizing
    * ones.
    */
  def annJoinAuto(left: DataFrame, right: DataFrame, k: Int,
      leftSize: Long = 0L, rightSize: Long = 0L, dims: Int = 64,
      tables: Int = 2, targetOccupancy: Int = 32,
      maxBucketSize: Int = AutoBucketCap): DataFrame = {
    val nl = if (leftSize > 0) leftSize else left.count()
    val nr = if (rightSize > 0) rightSize else right.count()
    val planes = autoPlanes(math.max(nl, nr), targetOccupancy)
    val cap =
      if (maxBucketSize != AutoBucketCap) maxBucketSize
      else autoMaxBucketSize(math.max(nl, nr), planes)
    annJoin(left, right, k, planes, dims, tables, cap)
  }

  /** Embedding-space decontamination: drop every `corpus` vector whose
    * quantized cosine against ANY `bench` vector is ≥ `threshold` —
    * the semantic complement to the n-gram
    * [[graft.functions.Dedup.decontaminate]] (paraphrased benchmark
    * leakage shares no 8-gram but sits at cos ≥ 0.9). Returns surviving
    * corpus rows.
    *
    * Both sides may be large: the candidate stage is [[annJoin]]'s
    * bucketed shuffle join (no broadcast of either side), verification
    * is exact quantized cosine on candidates only, and the contaminated
    * id set — bounded by true near-benchmark rows, NOT corpus size —
    * drops out through a left-anti join. `broadcastDrops = false`
    * switches that anti-join to shuffle for heavily-contaminated
    * corpora, same escape hatch as `Dedup.decontaminate`.
    *
    * The hot-bucket cap defaults to [[AutoBucketCap]] — resolved
    * in-plan from the larger side's count (see [[annJoin]] /
    * [[annHotCells]]); a capped cell trades recall for boundedness, so pair
    * any finite-cap run with [[annDroppedBuckets]] to report what was
    * skipped. `Int.MaxValue` opts out.
    */
  def decontaminateByEmbedding(corpus: DataFrame, bench: DataFrame,
      threshold: Double, planes: Int = 8, dims: Int = 64, tables: Int = 2,
      broadcastDrops: Boolean = true,
      maxBucketSize: Int = AutoBucketCap): DataFrame = {
    val contaminated =
      annScoredCandidates(corpus, bench, planes, dims, tables, maxBucketSize)
        .filter(col("cos") >= threshold)
        .select(col("left_id").as("vec_id")).distinct()
    val drops = if (broadcastDrops) broadcast(contaminated) else contaminated
    corpus.join(drops, Seq("vec_id"), "left_anti")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540, public): cluster the corpus with the
    * deterministic quantized Lloyd's quantizer ([[ivfTrain]] — seeded
    * by lowest ids, integer-rounded means, bit-reproducible), assign
    * every vector to its nearest centroid ([[ivfAssign]]), and inside
    * each cluster mark as NOT-kept any vector with a smaller-id
    * neighbour at quantized cosine ≥ `threshold` — the deterministic
    * keep-one policy (min id survives). Returns every corpus row as
    * (vec_id, centroid_id, kept).
    *
    * Scale shape: training is O(iters·n·k) broadcast-join work with
    * k·dims driver state; assignment is one broadcast join (the corpus
    * never shuffles); the duplicate scan is ONE shuffle on centroid_id
    * plus within-cluster pairing. The published SemDeDup recipe keeps
    * the quadratic within-cluster term bounded by growing k with the
    * corpus (expected cluster size n/k ≈ constant) — that is what
    * [[semanticDedupAuto]] applies. Past the k where ivfTrain's driver
    * state binds (~millions of centroids at 64 dims), the LSH-bucketed
    * [[cosineNearDupPairs]] family is the no-driver-state alternative
    * with the same verify arithmetic.
    */
  def semanticDedup(emb: DataFrame, k: Int, threshold: Double,
      iters: Int = 3): DataFrame = {
    require(k > 1, "semanticDedup: need k > 1 clusters")
    val centroids = ivfTrain(emb, k, iters)
    val assigned = ivfAssign(emb, centroids)
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(cosineQ(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("__dup", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid_id"), col("__dup").isNull.as("kept"))
  }

  /** k sized for [[semanticDedup]] so expected cluster size stays at
    * `targetClusterSize` — the SemDeDup scaling rule (k ∝ n keeps the
    * within-cluster pairwise term linear overall).
    */
  def autoClusters(corpusSize: Long, targetClusterSize: Int = 256): Int = {
    require(corpusSize > 0 && targetClusterSize > 0)
    math.max(2, math.ceil(corpusSize.toDouble / targetClusterSize).toInt)
  }

  /** [[semanticDedup]] with k from [[autoClusters]] — the at-scale
    * default, same `corpusSize` contract as [[cosineNearDupPairsAuto]].
    */
  def semanticDedupAuto(emb: DataFrame, threshold: Double,
      corpusSize: Long = 0L, targetClusterSize: Int = 256,
      iters: Int = 3): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else emb.count()
    semanticDedup(emb, autoClusters(n, targetClusterSize), threshold, iters)
  }

  /** Cluster-balanced diversity sample: an equal per-cluster quota over
    * the deterministic quantized-Lloyd partition of the embedding space
    * — the coverage-preserving subset selection a curation pipeline
    * runs where a uniform sample would mirror the corpus's density
    * skew (web boilerplate clusters keep their bulk, rare domains
    * vanish). Cluster with [[ivfTrain]] (bit-reproducible), assign
    * with the [[ivfAssign]] arithmetic keeping the integer distance,
    * then keep the `perCluster` vectors NEAREST their centroid
    * (ties → min vec_id) — each cluster's prototypes. Returns
    * (vec_id, centroid_id, dist, rank), rank 1-based within cluster.
    *
    * Scale shape: training/assignment are the e03-gated broadcast
    * stages (the corpus never shuffles to cluster). The quota filter
    * is a rank-over-(centroid, dist) window whose `rank <= perCluster`
    * predicate Spark rewrites to a WindowGroupLimit: every map task
    * keeps its own top-`perCluster` per cluster BEFORE the exchange,
    * so the shuffle carries ≤ perCluster·tasks rows per cluster, not
    * the cluster's full population — the window's k-partitions-only
    * parallelism never sees corpus-sized partitions.
    */
  def clusterBalancedSample(emb: DataFrame, k: Int, perCluster: Int,
      iters: Int = 3): DataFrame = {
    require(k > 1 && perCluster > 0,
      "clusterBalancedSample: need k > 1 clusters and a positive quota")
    val centroids = ivfTrain(emb, k, iters)
    // the one nearest-centroid assignment in the codebase — reused so
    // the tie-break/quantization can never diverge from knnIvf's lists
    val assigned = ivfAssign(emb, centroids, keepDist = true)
      .select(col("vec_id"), col("centroid_id"), col("dist"))
    assigned
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("centroid_id"))
          .orderBy(col("dist"), col("vec_id"))))
      .filter(col("rank") <= perCluster)
      .select(col("vec_id"), col("centroid_id"), col("dist"),
        col("rank").cast(IntegerType))
  }

  /** Deterministic Johnson–Lindenstrauss random-sign projection
    * (Achlioptas 2003, "Database-friendly random projections", public):
    * map each `dims`-dim float embedding to an `outDims`-dim INTEGER
    * vector, component j = Σ_d quantize(vec)[d] · sign(j, d), with the
    * ±1 signs drawn from the same deterministic [[planeSigns]] matrix
    * the LSH family uses — so `proj[j] > 0` IS bit j of
    * [[lshBuckets]]'s bucket id (the bucket is the sign pattern of this
    * projection; the projection keeps the magnitudes the bucket
    * discards). Model-free and integer-exact: the oracle embeds the
    * identical sign literals and arithmetic.
    *
    * Each component is ONE fused [[graft.functions.expressions.QuantizedDot]]
    * loop against a ±1.0f literal vector: the signs quantize to ±1000
    * exactly, so the native dot returns 1000·Σ q(vec)·s, and the /1000
    * is an exact integer division (carried out in doubles far below
    * 2^53, so the result is the exact quotient). Zero shuffle — a pure
    * per-row projection, embarrassingly parallel at any corpus size.
    *
    * Why at 100 TB: a 64-dim float corpus re-expressed at `outDims` = 8
    * longs is the coarse representation ANN prefilters and shard-local
    * sketches read — 8× less vector I/O per candidate pass, with the
    * JL guarantee bounding the inner-product distortion.
    */
  def jlProject(vec: Column, outDims: Int, dims: Int): Column = {
    require(outDims > 0 && dims > 0, "jlProject: need positive dims")
    import graft.functions.expressions.QuantizedDot
    val signs = planeSigns(outDims, dims)
    val comps = (0 until outDims).map { j =>
      val sv = array(signs(j).map(s => lit(s.toFloat)): _*)
      floor(QuantizedDot(vec, sv).cast(DoubleType) / 1000.0).cast(LongType)
    }
    array(comps: _*)
  }

  /** Coarse-quantize-then-verify KNN: for each (broadcastable) query,
    * prefilter the corpus to the `candidates` best rows by the EXACT
    * integer inner product of the [[jlProject]]-reduced vectors, then
    * re-rank those candidates by exact quantized cosine on the full
    * vectors and keep the top `k`. The standard two-stage ANN shape
    * (IVF-flat / PQ re-rank in the FAISS lineage): the cheap pass
    * touches `outDims` longs per corpus row, the expensive exact pass
    * touches only `candidates` rows per query.
    *
    * Determinism: the prefilter score is an integer (ties → min
    * neighbor id), the re-rank is [[cosineQ]]'s one-IEEE-division
    * arithmetic — both stages reproduce bit-for-bit in the oracle.
    *
    * Scale shape: the coarse pass streams the REDUCED representation
    * only — (vec_id, outDims longs) per corpus row, never the full
    * vectors — against the broadcast queries, with a WindowGroupLimit
    * top-`candidates` per query (map-side pruning before the
    * exchange); the full corpus vectors are touched by ONE
    * shortlist-sized join for the exact stage (the [[knnPqAdc]]
    * shape), which re-ranks |queries|·candidates rows. At 100 TB the
    * candidate scan therefore reads 8 longs instead of 64 floats per
    * vector — the JL projection's whole point. Recall degrades
    * gracefully with `candidates` (the JL inner product preserves
    * ranking of well-separated neighbors; raise `candidates` to
    * absorb distortion).
    *
    * Schema out: (query_id, neighbor_id, rank, cos).
    */
  def knnJlPrefilter(corpus: DataFrame, queries: DataFrame, k: Int,
      candidates: Int = 50, outDims: Int = 8, dims: Int = 64): DataFrame = {
    require(k > 0 && candidates >= k,
      "knnJlPrefilter: need candidates >= k > 0")
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      jlProject(col("embedding"), outDims, dims).as("c_jl"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      jlProject(col("embedding"), outDims, dims).as("q_jl"))
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("jl_dot").desc, col("neighbor_id"))
    val shortlist = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_emb"), col("neighbor_id"),
        dotQ(col("q_jl"), col("c_jl")).as("jl_dot"))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= candidates)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  // ---------- product quantization (PQ) ----------

  /** Train product-quantization codebooks (Jégou et al., "Product
    * quantization for nearest neighbor search", TPAMI 2011, public):
    * split the `dims`-dim space into `m` contiguous subspaces of
    * dims/m components and train an independent `k`-centroid quantizer
    * per subspace — each via the bit-reproducible exact-integer
    * [[ivfTrain]] Lloyd arithmetic on the sliced vectors (lowest-id
    * seeds, integer-rounded means), so the e03 oracle pattern unrolls
    * every subspace's sweeps in SQL.
    *
    * Returns (subspace, centroid_id, centroid) with quantized long
    * centroids. Codebook size is m·k·(dims/m) = k·dims longs — driver
    * state identical to one [[ivfTrain]] call.
    *
    * All m subspaces train in ONE pass per sweep (optimization r18,
    * guide §1.2 "per-task work" / driver round-trips): the per-subspace
    * Lloyd chains are data-independent, so the m argmin assignments are
    * computed side by side in a single projection and rolled up by ONE
    * partial-aggregatable (subspace, centroid_id, pos) aggregate —
    * 1 seed job + `iters` sweep jobs for the whole codebook instead of
    * m·(1+iters) driver-scheduled jobs (measured 16 → 4 jobs at m=4,
    * 36 → 4 at m=8; e15 retrain and the e18 full-probe gate each carry
    * two of these trainings). Bit-identical to the sequential form:
    * the seeds are the same first-k-by-id rows ([[quantize]] is
    * elementwise, so slice-then-quantize == quantize-then-slice), each
    * sweep's sums/counts are the same integers, and the empty-cluster
    * keep-previous rule is applied per (subspace, centroid) exactly as
    * [[ivfTrain]] applies it per centroid (PqSpec pins the equality).
    */
  def pqTrain(corpus: DataFrame, m: Int = 4, k: Int = 8, dims: Int = 64,
      iters: Int = 3): DataFrame = {
    require(m > 0 && dims % m == 0,
      s"pqTrain: dims ($dims) must divide into m ($m) subspaces")
    val sub = dims / m
    import corpus.sparkSession.implicits._
    val qcorpus = corpus
      .select(col("vec_id"), quantize(col("embedding")).as("q")).cache()
    try {
      // one seed collect for every subspace: the first k vectors by id
      // (ivfTrain's seed rule), sliced per subspace on the driver
      val seeds: Seq[Seq[Long]] = qcorpus.orderBy(col("vec_id")).limit(k)
        .select(col("q")).as[Seq[Long]].collect().toSeq
      var cents: IndexedSeq[IndexedSeq[(Int, Seq[Long])]] =
        (0 until m).map(j => seeds.zipWithIndex.map { case (v, i) =>
          (i, v.slice(j * sub, (j + 1) * sub)) }.toIndexedSeq)
      for (_ <- 0 until iters) {
        val parts = (0 until m).map { j =>
          val qj = slice(col("q"), j * sub + 1, sub)
          val dists = array(cents(j).map { case (_, c) =>
            sqDistQ(qj, array(c.map(lit): _*)) }: _*)
          struct(lit(j).as("subspace"),
            argminStruct(dists, k).getField("i")
              .cast(IntegerType).as("centroid_id"),
            qj.as("qs"))
        }
        val updated = qcorpus.select(explode(array(parts: _*)).as("a"))
          .select(col("a.subspace"), col("a.centroid_id"),
            posexplode(col("a.qs")))
          .groupBy(col("subspace"), col("centroid_id"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("subspace"), col("centroid_id"), col("pos"),
            floor(col("s").cast(DoubleType) / col("n") + 0.5)
              .cast(LongType).as("comp"))
          .as[(Int, Int, Int, Long)].collect().toSeq
          .groupBy(_._1)
          .map { case (j, rows) =>
            j -> rows.groupBy(_._2).map { case (cid, rs) =>
              (cid, rs.sortBy(_._3).map(_._4).toSeq) } }
        cents = cents.zipWithIndex.map { case (sc, j) =>
          val upd = updated.getOrElse(j, Map.empty[Int, Seq[Long]])
          sc.map { case (cid, prev) => (cid, upd.getOrElse(cid, prev)) }
        }
      }
      cents.zipWithIndex.flatMap { case (sc, j) =>
        sc.map { case (cid, c) => (j, cid, c) }
      }.toDF("subspace", "centroid_id", "centroid")
        .select(col("subspace"), col("centroid_id"), col("centroid"))
    } finally qcorpus.unpersist()
  }

  /** Collected (centroid_id, centroid) pairs ordered by id, VALIDATED
    * contiguous 0..k-1. The argmin-projection family ([[ivfAssign]],
    * [[pqEncode]], [[ivfPqIndex]]) uses the sorted POSITION of the
    * argmin as the centroid id — correct only when ids run 0..k-1 with
    * no gaps ([[ivfTrain]]'s contract). A filtered or renumbered
    * centroid frame would otherwise produce silently wrong assignments;
    * fail loudly instead.
    */
  private def collectContiguousCentroids(
      centroids: DataFrame): Array[(Int, Seq[Long])] = {
    val cents = centroids.select(col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "centroid frame is empty")
    cents.iterator.zipWithIndex.foreach { case ((id, _), i) =>
      require(id == i,
        s"centroid ids must be contiguous 0..k-1 (ivfTrain's contract): " +
          s"found id $id at sorted position $i — do not filter or " +
          "renumber the centroid frame before assignment")
    }
    cents
  }

  /** Train the coarse quantizer ([[ivfTrain]]) and the PQ codebooks
    * ([[pqTrain]]) CONCURRENTLY (optimization r19, guide §1.2/§5): the
    * two trainings are independent — different models over the same
    * corpus — but each is a serial chain of per-sweep collect jobs, so
    * running them back-to-back paid both latency chains in sequence.
    * One extra submission thread overlaps them; Spark schedules jobs
    * from both freely. Each training's own sweep sequence (and so its
    * result) is bit-identical to the sequential form — determinism
    * lives inside each chain, not between them.
    *
    * A FRESH thread, not a pooled executor: Spark's job group /
    * description are inheritable-thread-locals snapshotted at thread
    * CREATION, so a pooled thread would tag (and leak cancellation
    * scope for) whichever gate first built the pool.
    */
  def trainIvfPq(corpus: DataFrame, kCoarse: Int, m: Int, k: Int,
      dims: Int, iters: Int = 3): (DataFrame, DataFrame) = {
    @volatile var cb: DataFrame = null
    @volatile var err: Throwable = null
    val worker = new Thread(() => {
      try cb = pqTrain(corpus, m, k, dims, iters)
      catch { case e: Throwable => err = e }
    }, "pq-train")
    worker.start()
    val cents =
      try ivfTrain(corpus, kCoarse, iters)
      finally worker.join()
    if (err != null) throw err
    (cents, cb)
  }

  /** Collected codebook: subspace → centroids ordered by centroid_id,
    * each subspace validated contiguous 0..k-1 (the
    * [[collectContiguousCentroids]] rule — codes index the literal
    * array by position). Bounded k·dims longs (the [[ivfTrain]]
    * driver-state contract). */
  private def collectCodebooks(codebooks: DataFrame,
      m: Int): IndexedSeq[Seq[Seq[Long]]] = {
    val rows = codebooks
      .select(col("subspace"), col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    (0 until m).map { j =>
      val sub = rows.filter(_._1 == j).sortBy(_._2)
      require(sub.nonEmpty, s"codebook for subspace $j is empty")
      sub.iterator.zipWithIndex.foreach { case ((_, id, _), i) =>
        require(id == i,
          s"subspace $j centroid ids must be contiguous 0..k-1: found " +
            s"id $id at sorted position $i — do not filter or renumber " +
            "the codebook frame before encoding")
      }
      sub.map(_._3.toSeq).toSeq
    }
  }

  /** Encode every vector as `m` codebook indices — the 8-byte-per-
    * vector representation a 100 TB ANN index actually stores (64
    * floats → m small ints; here kept as `array<int>` for oracle
    * clarity, byte-packable at the storage boundary). Assignment is
    * nearest centroid per subspace by exact integer distance
    * (ties → lowest centroid id, matching [[ivfAssign]]).
    *
    * ZERO shuffle: the codebook is collected (k·dims longs) and
    * embedded as literals, so encoding is a pure per-row projection —
    * argmin over k literal-array distances per subspace — that
    * parallelizes with the scan at any corpus size. Returns
    * (vec_id, codes).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int = 4,
      dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0,
      s"pqEncode: dims ($dims) must divide into m ($m) subspaces")
    val cbs = collectCodebooks(codebooks, m)
    corpus.select(col("vec_id"), pqCodesColumn(cbs, m, dims / m).as("codes"))
  }

  /** Single-evaluation argmin over a distance array: returns
    * struct(d, i) of the minimum distance and its index, ties → lowest
    * index (the literal arrays are ordered by centroid id, so the
    * index IS the centroid id). `zip_with` evaluates `dists` exactly
    * ONCE per row — the naive `array_position(dists, array_min(dists))`
    * evaluates it twice, and interpreted HOF trees get no common-
    * subexpression elimination, so that doubles the whole distance
    * computation. Struct sort order is field order: (d asc, i asc).
    */
  private def argminStruct(dists: Column, k: Int): Column =
    array_sort(zip_with(dists, sequence(lit(0), lit(k - 1)),
      (d, i) => struct(d.as("d"), i.as("i"))))(0)

  /** The PQ code projection: per subspace, argmin over k literal-array
    * distances (ties → lowest centroid id, the [[ivfAssign]] rule).
    * Pure per-row arithmetic, zero shuffle. */
  private def pqCodesColumn(cbs: IndexedSeq[Seq[Seq[Long]]], m: Int,
      sub: Int): Column =
    array((0 until m).map { j =>
      val qs = quantize(slice(col("embedding"), j * sub + 1, sub))
      val dists = array(cbs(j).map(cent =>
        sqDistQ(qs, array(cent.map(lit): _*))): _*)
      argminStruct(dists, cbs(j).size).getField("i").cast(IntegerType)
    }: _*)

  /** IVF-PQ index build — the coarse cell id AND the PQ codes of every
    * corpus vector in ONE zero-shuffle projection (the storage row of
    * a FAISS-style `IVFADC` index, Jégou et al. TPAMI'11 §IV): both
    * the coarse centroids and the PQ codebooks are collected (bounded
    * k·dims longs each, the [[ivfTrain]] driver-state contract) and
    * embedded as literals, so the whole index build parallelizes with
    * the corpus scan — no window, no join, no shuffle. Coarse
    * assignment is exact-integer argmin with ties → lowest centroid
    * id, matching [[ivfAssign]] bit-for-bit (asserted in PqSpec).
    *
    * Returns (vec_id, centroid_id, codes) — at 100 TB this is the m+1
    * small ints per vector the search path reads instead of the full
    * float vectors.
    */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int = 4, dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0,
      s"ivfPqIndex: dims ($dims) must divide into m ($m) subspaces")
    val cents = collectContiguousCentroids(centroids)
    val qfull = quantize(col("embedding"))
    val cdists = array(cents.map { case (_, c) =>
      sqDistQ(qfull, array(c.map(lit): _*)) }: _*)
    corpus.select(col("vec_id"),
      argminStruct(cdists, cents.length).getField("i")
        .cast(IntegerType).as("centroid_id"),
      pqCodesColumn(collectCodebooks(codebooks, m), m, dims / m).as("codes"))
  }

  /** IVF-PQ search — the composed FAISS `IVFADC` shape (Jégou et al.
    * TPAMI'11 §V): probe the `nprobe` nearest coarse cells per query,
    * score ONLY the probed cells' code rows by ADC (sum of
    * query-to-centroid distances the codes select), shortlist
    * `rerank` per query, exact quantized-cosine re-rank to top `k`.
    *
    * Plan shape at scale: the probe set (queries × nprobe rows) is
    * BROADCAST onto the index's cell-id column, so the index — the
    * only corpus-sized input — never shuffles and only the probed
    * fraction (≈ nprobe/k_coarse of the corpus) is scored at all;
    * [[knnPqAdc]] by contrast streams every code row per query. The
    * shortlist window shuffles candidate rows only, and the re-rank
    * join broadcasts the queries·rerank shortlist onto the corpus
    * scan. All arithmetic integer-exact → fully oracle-gated (e11).
    *
    * Approximation contract: recall loss comes from two places —
    * a true neighbor in an unprobed cell (lift `nprobe`) or ADC
    * quantization pushing it past the shortlist (lift `rerank`);
    * both degrade gracefully and independently.
    *
    * Schema out: (query_id, neighbor_id, rank, cos).
    */
  def knnIvfPq(index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int, nprobe: Int = 2, rerank: Int = 50, m: Int = 4,
      dims: Int = 64): DataFrame = {
    require(k > 0 && rerank >= k, "knnIvfPq: need rerank >= k > 0")
    require(nprobe > 0, "knnIvfPq: nprobe must be positive")
    require(m > 0 && dims % m == 0,
      s"knnIvfPq: dims ($dims) must divide into m ($m) subspaces")
    ivfPqSearchTail(index, ivfProbes(queries, centroids, nprobe),
      collectCodebooks(codebooks, m), corpus, k, rerank, m, dims / m)
  }

  /** A derived IVF-PQ operating point: coarse cell count, PQ subspace
    * count, probed cells per query, and exact-rerank shortlist depth.
    */
  final case class IvfPqConfig(kCoarse: Int, m: Int, nprobe: Int,
    rerank: Int)

  /** Recall-targeted IVF-PQ sizing — the measured findings of the
    * r14 recall curve (`ann_recall_curve.json` / SCALE.md) turned into
    * an applied rule, the way [[autoPlanes]] / [[autoClusters]] /
    * [[autoMaxBucketSize]] encode theirs:
    *
    *   - `kCoarse = clamp(floor(sqrt(n)), 1, n/39)` — the standard IVF
    *     cell rule (cells ≈ sqrt(n) keeps probe work ≈ nprobe·sqrt(n)
    *     rows), capped so every centroid keeps ≥ 39 training points
    *     (under-trained cells collapse and skew occupancy).
    *   - `m = dims / sub` with the LARGEST sub ∈ {8, 4, 2, 1} dividing
    *     `dims` — ≤ 8 dims per subspace keeps ADC informative; the
    *     r14 curve's weak recall ceiling traced to the gate model's
    *     deliberate 16-dim subspaces (sized for oracle tractability).
    *   - `nprobe = clamp(ceil(kCoarse · t), 1, kCoarse)` — probe
    *     fraction linear in the target, interpolating to full probe
    *     as t → 1. Deliberately conservative: the rule is calibrated
    *     on the curve corpus's UNSTRUCTURED (uniform-random)
    *     embeddings — the worst case for a coarse quantizer, where
    *     neighbors are near-equidistant and cell membership carries
    *     little signal. Clustered real-world embeddings reach the
    *     same recall at far smaller fractions; the rule promises the
    *     target even without that structure.
    *   - `rerank = max(4k, 2k · nprobe)` — the SHORTLIST-DILUTION
    *     rule, the curve's sharpest finding (more probes at fixed
    *     rerank LOWER recall — re-measured in AutoIvfPqSpec's grid:
    *     0.63 → 0.52 at fixed rerank=80 as nprobe goes 6 → 12): 2k
    *     shortlist slots per probed cell means adding a probe can
    *     never crowd earlier cells' candidates out, and the 2×
    *     headroom absorbs ADC mis-ranking within each cell (measured:
    *     k·nprobe slots miss the target by ~0.2 recall on the curve
    *     corpus; 2k·nprobe clears it).
    *   - `targetRecall = 1.0` degenerates to the exact search —
    *     nprobe = kCoarse (the e16 full-probe identity) and
    *     rerank = n, hash-gated equal to brute force (e18).
    *
    * All arithmetic is integer-exact or IEEE-specified (sqrt is
    * correctly rounded by IEEE-754; the target is quantized to ppm
    * before use) so the derived config is engine-reproducible — the
    * e17 gate replays the rule in SQL. Recall at the derived config
    * is MEASURED, not assumed: AutoIvfPqSpec pins recall@k ≥
    * targetRecall on the curve corpus.
    */
  def autoIvfPqConfig(corpusSize: Long, dims: Int, k: Int,
      targetRecall: Double): IvfPqConfig = {
    require(corpusSize > 0, "autoIvfPqConfig: corpusSize must be positive")
    require(dims > 0, "autoIvfPqConfig: dims must be positive")
    require(k > 0 && k <= corpusSize,
      "autoIvfPqConfig: need 0 < k <= corpusSize")
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      "autoIvfPqConfig: targetRecall must be in (0, 1]")
    val kCoarse = math.min(Int.MaxValue.toLong, math.max(1L, math.min(
      math.floor(math.sqrt(corpusSize.toDouble)).toLong,
      corpusSize / 39L))).toInt
    val sub = Seq(8, 4, 2, 1).find(dims % _ == 0).get
    val m = dims / sub
    val tppm = math.round(targetRecall * 1000000.0)
    val (nprobe, rerank) =
      if (tppm >= 1000000L) (kCoarse.toLong, corpusSize)
      else {
        // ceil(kCoarse · t) in exact ppm integer space (kCoarse·tppm
        // ≤ 2^31 · 10^6 — fits a signed long)
        val np = math.max(1L, math.min(kCoarse.toLong,
          (kCoarse * tppm + 999999L) / 1000000L))
        val rr = BigInt(2L) * k * np
        (np, math.min(corpusSize,
          math.max(4L * k, rr.min(Long.MaxValue).toLong)))
      }
    IvfPqConfig(kCoarse, m, nprobe.toInt,
      math.min(rerank, Int.MaxValue.toLong).toInt)
  }

  /** The probe set: each query's `nprobe` nearest coarse cells —
    * (query_id, q_emb, centroid_id), queries × nprobe rows, bounded by
    * the broadcastable-queries contract. */
  private def ivfProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        quantize(col("embedding")).as("qq"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist", sqDistQ(col("qq"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist"), col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("centroid_id"))

  /** The ADC + exact-rerank tail shared by [[knnIvfPq]] and
    * [[knnIvfPqOnDisk]]: broadcast the probe set onto the index's cell
    * column, ADC-score the probed rows, shortlist `rerank` per query,
    * exact quantized-cosine re-rank to top `k`. */
  private def ivfPqSearchTail(index: DataFrame, probes: DataFrame,
      cbs: IndexedSeq[Seq[Seq[Long]]], corpus: DataFrame,
      k: Int, rerank: Int, m: Int, sub: Int): DataFrame = {
    val adist = (0 until m).map { j =>
      val qs = quantize(slice(col("q_emb"), j * sub + 1, sub))
      val centArr = array(cbs(j).map(cent =>
        array(cent.map(lit): _*)): _*)
      sqDistQ(qs, element_at(centArr, element_at(col("codes"), j + 1) + 1))
    }.reduce(_ + _)
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = index
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("codes"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_emb"), col("neighbor_id"),
        adist.as("adist"))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= rerank)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Persist an [[ivfPqIndex]] frame as an on-disk ANN index: a
    * Hive-partitioned parquet tree with one `centroid_id=<c>` directory
    * per coarse cell. This is the artifact form of the index — build
    * once, search many times across jobs — and the layout is WHAT MAKES
    * probing cheap on disk: a search that probes `nprobe` of `k_coarse`
    * cells lists and reads only those directories (static partition
    * pruning, asserted in PlanSpec), so per-query I/O is
    * ≈ nprobe/k_coarse of the index no matter how large the corpus.
    *
    * `repartition(centroid_id)` before the write so each task writes
    * whole cells — cells-per-file, not files-per-cell (the
    * `Curation.writeShards` small-file discipline). Rerun-stable: the
    * index row set is deterministic, so `mode("overwrite")` reproduces
    * the same tree.
    */
  def writeIvfPqIndex(index: DataFrame, path: String): Unit =
    index.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Grow a [[writeIvfPqIndex]] tree in place: append newly encoded
    * rows into their `centroid_id=` directories without touching the
    * existing files. This is the incremental-ingest half of the
    * build-once/search-many contract — a 100 TB corpus grows daily, and
    * re-encoding only the increment (a zero-shuffle [[ivfPqIndex]]
    * projection over the new vectors) costs O(increment), not
    * O(corpus).
    *
    * FROZEN-MODEL contract: the increment must be encoded with the
    * SAME centroids and codebooks as the existing tree — the cell
    * geometry and code meanings are baked into every stored row, so a
    * retrained model requires a full rebuild ([[writeIvfPqIndex]]),
    * never an append. Under that contract the grown tree's row set
    * equals a one-shot build over the union (e13, hash-gated), because
    * encoding is per-row arithmetic with no cross-row state.
    *
    * NOT idempotent: a replayed append duplicates rows. Drive it from
    * exactly-once batch orchestration or a checkpointed stream
    * ([[graft.streaming.AnnStream.indexIngest]]), and reset the tree
    * with the checkpoint when restarting a logical run from scratch.
    */
  def appendIvfPqIndex(index: DataFrame, path: String): Unit = {
    Curation.recoverSwap(index.sparkSession, path, s"$path-compacting")
    index.repartition(col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id").parquet(path)
  }

  /** Rewrite a grown [[writeIvfPqIndex]] tree as one clean file set —
    * the small-file maintenance call every append-based index needs:
    * [[appendIvfPqIndex]]/[[graft.streaming.AnnStream.indexIngest]]
    * add one parquet file per cell per epoch, so a thousand epochs
    * leave a thousand files per `centroid_id=` directory and the FILE
    * LISTING cost eventually eats the probed-cell pruning win. The
    * frozen-model contract makes compaction trivially exact: rows
    * carry no cross-row state, so read-tree → rewrite reproduces the
    * identical row set with whole-cells-per-task files (e14: search
    * through a compacted many-epoch tree is hash-identical; PqSpec
    * counts files-per-cell before/after).
    *
    * Stages into a sibling directory and swaps via
    * [[Curation.swapStaged]] (rename the live tree aside, rename the
    * staged tree in, drop the old one last), so a crash at ANY point
    * leaves either the old tree or the new one reachable — never a mix,
    * never an empty path — and [[readIvfPqIndex]]/[[appendIvfPqIndex]]
    * first run [[Curation.recoverSwap]] to finish or roll back an
    * interrupted swap. SINGLE-WRITER contract (the usual one for index
    * maintenance): pause the ingest stream / appends while compacting —
    * an append that lands between the staging read and the swap would
    * be silently dropped by the swap. Run on a cadence (or when
    * files-per-cell crosses a threshold); cost is one pass over the
    * INDEX (m-byte codes per vector), never the corpus vectors.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val staged = s"$path-compacting"
    val conf = spark.sparkContext.hadoopConfiguration
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedP.getFileSystem(conf)
    fs.delete(stagedP, true)
    writeIvfPqIndex(readIvfPqIndex(spark, path), staged)
    Curation.swapStaged(spark, staged, path)
  }

  /** TAKEDOWN for an on-disk IVF-PQ tree — the deletion verb of the
    * index lifecycle (build / grow / compact / retrain / DELETE): a
    * training-data platform must be able to remove documents (legal
    * takedowns, right-to-be-forgotten, contamination discoveries)
    * from every derived artifact, and the ANN index is the artifact
    * that silently keeps serving a removed document as a neighbor.
    *
    * Deletion is a ROW operation under the tree's existing model —
    * never a retrain: the frozen-model contract means removing rows
    * changes no other row's cell or codes, so the deleted tree's row
    * set equals a fresh build over corpus-minus-deleted WITH THE SAME
    * model (e19, hash-gated; recall drift from a shrunken corpus is a
    * model question — run [[retrainIvfPqIndex]] on its own cadence).
    * Idempotent by construction (deleting absent ids is a no-op), so
    * a takedown job can simply re-run after any failure.
    *
    * Cost and crash safety follow [[compactIvfPqIndex]]: one pass
    * over the INDEX (m-byte codes per vector, never the corpus
    * vectors), staged + swapped — a crash leaves the old tree or the
    * new one, never a mix — and the pass doubles as a compaction of
    * append-grown cell files. A self-contained
    * ([[retrainIvfPqIndex]]) tree keeps its `_model/` through the
    * swap: the model is corpus-trained state, not row state, and
    * remains THE model for the surviving rows. SINGLE-WRITER like
    * every maintenance call; `ids` needs a `vec_id` column and is
    * broadcast (takedown lists are small by nature — pass a frame,
    * not a collected Seq, so a large legal sweep still plans as an
    * ordinary join if Spark decides broadcast no longer fits).
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit = {
    val staged = s"$path-compacting"
    val conf = spark.sparkContext.hadoopConfiguration
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedP.getFileSystem(conf)
    fs.delete(stagedP, true)
    val idSide = broadcast(ids.select(col("vec_id")).distinct())
    writeIvfPqIndex(
      readIvfPqIndex(spark, path).join(idSide, Seq("vec_id"), "left_anti"),
      staged)
    val modelP = new org.apache.hadoop.fs.Path(s"$path/_model")
    if (fs.exists(modelP)) {
      // corpus-trained state rides along: re-emit the tiny model
      // parquet under the staged tree so the swap can't orphan it
      spark.read.parquet(s"$path/_model/centroids")
        .write.mode("overwrite").parquet(s"$staged/_model/centroids")
      spark.read.parquet(s"$path/_model/codebooks")
        .write.mode("overwrite").parquet(s"$staged/_model/codebooks")
    }
    Curation.swapStaged(spark, staged, path)
  }

  /** Read a [[writeIvfPqIndex]] tree back as the (vec_id, centroid_id,
    * codes) index frame (the partition column returns as int). First
    * finishes any [[compactIvfPqIndex]] swap a crash interrupted, so
    * the tree is always reachable. */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    Curation.recoverSwap(spark, path, s"$path-compacting")
    spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast(IntegerType),
        col("codes"))
  }

  /** MODEL REFRESH for an on-disk IVF-PQ tree — the missing third verb
    * of the index lifecycle (build once / grow by increment / compact /
    * RETRAIN): the frozen-model contract is what makes
    * [[appendIvfPqIndex]] exact, but a corpus that drifts for a year
    * degrades recall with no remedy short of a hand-orchestrated
    * rebuild. This call retrains the coarse centroids and PQ codebooks
    * on the CURRENT corpus (the same deterministic quantized Lloyd as
    * [[ivfTrain]]/[[pqTrain]], so retrain-on-equal-corpus is
    * bit-reproducible), re-encodes every vector (the zero-shuffle
    * [[ivfPqIndex]] projection), and stages + swaps the new tree like
    * [[compactIvfPqIndex]] — a crash leaves the old tree or the new
    * one, never a mix, and [[Curation.recoverSwap]] on the read/append
    * paths finishes an interrupted swap.
    *
    * The retrained tree is SELF-CONTAINED: the new model is persisted
    * inside it under `_model/` (invisible to data reads — underscore
    * rule), because after a retrain the caller's old centroid/codebook
    * frames are silently WRONG for this tree — searching with them is
    * the one mistake this API must make hard. Read the matching model
    * back with [[readIvfPqModel]]; the new model is also returned.
    *
    * Gated (e15): a tree grown under a STALE model (trained on half
    * the corpus), retrained over the full corpus, searches hash-equal
    * to the one-shot full-corpus build — under deterministic training,
    * retrain == rebuild, exactly.
    *
    * SINGLE-WRITER like every maintenance call. Cost: two training
    * passes (`iters` corpus scans each, bounded k·dims driver state) +
    * one encode pass — O(corpus), the price of a model refresh, run on
    * a drift cadence, never per-ingest.
    */
  def retrainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, kCoarse: Int = 8, m: Int = 4,
      k: Int = 8, dims: Int = 64, iters: Int = 3): (DataFrame, DataFrame) = {
    val (cents, cb) = trainIvfPq(corpus, kCoarse, m, k, dims, iters)
    val staged = s"$path-compacting"
    val stagedP = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stagedP, true)
    writeIvfPqIndex(ivfPqIndex(corpus, cents, cb, m, dims), staged)
    cents.write.mode("overwrite").parquet(s"$staged/_model/centroids")
    cb.write.mode("overwrite").parquet(s"$staged/_model/codebooks")
    Curation.swapStaged(spark, staged, path)
    (cents, cb)
  }

  /** The (centroids, codebooks) model persisted inside a
    * [[retrainIvfPqIndex]] tree — the ONLY model valid for searching
    * it. Fails loudly on trees without one (built by
    * [[writeIvfPqIndex]], whose model lives with the caller). */
  def readIvfPqModel(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) = {
    Curation.recoverSwap(spark, path, s"$path-compacting")
    val modelP = new org.apache.hadoop.fs.Path(s"$path/_model")
    val fs = modelP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(modelP),
      s"readIvfPqModel: no _model under $path — this tree was built by " +
        "writeIvfPqIndex with an external model; only retrainIvfPqIndex " +
        "trees are self-contained")
    (spark.read.parquet(s"$path/_model/centroids")
       .select(col("centroid_id").cast(IntegerType), col("centroid")),
     spark.read.parquet(s"$path/_model/codebooks")
       .select(col("subspace").cast(IntegerType),
         col("centroid_id").cast(IntegerType), col("centroid")))
  }

  /** [[knnIvfPq]] against a [[writeIvfPqIndex]] on-disk index, with the
    * probe set pushed down to the FILE LISTING: the probed cells are
    * collected (bounded queries × nprobe ints — the broadcastable-
    * queries contract) and applied as a partition filter on the read,
    * so only the probed `centroid_id=` directories are listed or read
    * at all. Bit-identical to the in-memory [[knnIvfPq]] path (e12 vs
    * e11, hash-gated): filtering the index to probed cells before a
    * join ON the cell id removes nothing the join would keep.
    */
  def knnIvfPqOnDisk(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, corpus: DataFrame,
      k: Int, nprobe: Int = 2, rerank: Int = 50, m: Int = 4,
      dims: Int = 64): DataFrame = {
    require(k > 0 && rerank >= k, "knnIvfPqOnDisk: need rerank >= k > 0")
    require(nprobe > 0, "knnIvfPqOnDisk: nprobe must be positive")
    require(m > 0 && dims % m == 0,
      s"knnIvfPqOnDisk: dims ($dims) must divide into m ($m) subspaces")
    val probes = ivfProbes(queries, centroids, nprobe)
    val probedCells = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val index = readIvfPqIndex(spark, indexPath)
      .filter(col("centroid_id").isin(probedCells: _*))
    ivfPqSearchTail(index, probes, collectCodebooks(codebooks, m),
      corpus, k, rerank, m, dims / m)
  }

  /** PQ search by asymmetric distance computation (ADC): score every
    * corpus CODE row against each (broadcastable) query by summing the
    * query-to-centroid distances its codes select — the full corpus
    * vectors are touched only for the `rerank` shortlist, which then
    * re-ranks by exact quantized cosine to the final top `k`.
    *
    * Plan shape: ONE streamed pass over the codes table (queries and
    * codebook broadcast as literals — `element_at` picks each code's
    * centroid from a nested literal array), a WindowGroupLimit
    * shortlist per query, one join back to the corpus for the
    * `rerank` full vectors, exact re-rank. At 100 TB the scan reads
    * m ints per vector instead of dims floats — the 8–32× I/O
    * reduction that makes exhaustive candidate generation affordable —
    * and nothing shuffles except the queries·rerank shortlist.
    *
    * Approximation contract: ADC ranks by quantized L2 distance (the
    * PQ paper's metric); the exact cosine re-rank restores the e01
    * metric on the shortlist, so recall degrades gracefully with
    * `rerank` exactly as [[knnJlPrefilter]]'s does with `candidates`.
    * All arithmetic integer-exact → fully oracle-gated.
    *
    * Schema out: (query_id, neighbor_id, rank, cos).
    */
  def knnPqAdc(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, rerank: Int = 50, m: Int = 4,
      dims: Int = 64): DataFrame = {
    require(k > 0 && rerank >= k, "knnPqAdc: need rerank >= k > 0")
    require(m > 0 && dims % m == 0,
      s"knnPqAdc: dims ($dims) must divide into m ($m) subspaces")
    val sub = dims / m
    val cbs = collectCodebooks(codebooks, m)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val adist = (0 until m).map { j =>
      val qs = quantize(slice(col("q_emb"), j * sub + 1, sub))
      val centArr = array(cbs(j).map(cent =>
        array(cent.map(lit): _*)): _*)
      sqDistQ(qs, element_at(centArr, element_at(col("codes"), j + 1) + 1))
    }.reduce(_ + _)
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = codes.select(col("vec_id").as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_emb"), col("neighbor_id"),
        adist.as("adist"))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= rerank)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
