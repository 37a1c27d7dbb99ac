package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>`). Two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The candidate side streams through a broadcast of the (small)
  *    query side, and the per-query top-k is a bounded O(k) aggregate
  *    ([[graft.expressions.BoundedTopK]]) with map-side partial
  *    aggregation — no O(n^2) shuffle, and no partition ever holds a
  *    query's full candidate set. At 100 TB the candidate scan is
  *    embarrassingly parallel and the shuffle carries k rows per
  *    (query, map task).
  *  - [[ivfTopK]]: IVF-style cell-restricted search — candidates are
  *    pre-partitioned into coarse cells (here the `label` column stands
  *    in for a k-means cell id); each query only scans its own cell.
  *    This is the scale path: cell pruning turns a full scan into
  *    1/nCells of the data, and the cell column is a join key that
  *    co-partitions without a cross join.
  *
  * All arithmetic is index-ordered double accumulation via the codegen'd
  * higher-order functions (`zip_with`/`aggregate`) — deterministic and
  * UDF-free.
  */
object Similarity {

  /** The recall@10 floor the trained-quantizer IVF gate
    * (`similarity_recall`, nprobe=4 of 8 cells) must clear against the
    * exact brute-force answer. Measured band: 0.76-0.78 across
    * sf0.001-sf0.1, so 0.65 trips on a real quantizer regression while
    * tolerating sampling noise; a random half-corpus scan sits near
    * 0.5. A NAMED constant pinned by BenchGuardSpec so the floor
    * cannot drift downward silently to absorb a weaker ANN.
    */
  val RecallFloor = 0.65

  /** Index-ordered dot product of two float-array columns in double
    * precision — a native codegen'd Catalyst expression
    * ([[graft.expressions.FloatDotProduct]]); Spark's `zip_with` +
    * `aggregate` HOFs are CodegenFallback and ~10x slower on the
    * brute-force scan. Left-to-right accumulation keeps the result
    * bit-stable across partitionings.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.FloatDotProduct(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)
      )
    )

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Bounded per-group top-k aggregate column
    * ([[graft.expressions.BoundedTopK]]): O(k) state per group with
    * map-side partial aggregation — each map task ships at most k
    * entries per group, and no partition ever holds a group's full
    * candidate set. Ties broken by lower id, so the result is
    * merge-order and partitioning invariant.
    */
  def topKAgg(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.BoundedTopK(
        org.apache.spark.sql.graftbridge.Bridge.expression(score),
        org.apache.spark.sql.graftbridge.Bridge.expression(id),
        k
      ).toAggregateExpression()
    )

  /** (query_id, rank, neighbor_id) from a scored (query_id, neighbor_id,
    * sim) relation via the bounded aggregate — the scale-safe top-k
    * shape (replaces a row_number window that would shuffle and fully
    * sort every candidate per query). Ids must be numeric (the bounded
    * aggregate ranks long ids); NaN similarities — a zero-norm query or
    * candidate vector makes cosine 0/0 — are excluded BEFORE the
    * aggregate: NaN compares false both ways, so a NaN entry would
    * squat in the top-k and make the ranking insertion-order dependent.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .where(!isnan(col("sim")))
      .groupBy("query_id")
      .agg(topKAgg(col("sim"), col("neighbor_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("nb.neighbor_id").as("neighbor_id"))

  /** The exact-cosine scoring tail shared by every raw-vector serve
    * path: a joined relation carrying (query_id, q_vec, q_norm,
    * neighbor_id, c_vec, c_norm) pair rows scores dot/(|q|·|c|) and
    * ranks the bounded top-k. Self-pairs are excluded HERE so no
    * caller can forget the exclusion; norms ride the inputs (projected
    * below the join, once per row, never once per pair).
    */
  private def exactCosineTopK(pairs: DataFrame, k: Int): DataFrame =
    rankTopK(
      pairs
        .where(col("neighbor_id") =!= col("query_id"))
        .select(
          col("query_id"), col("neighbor_id"),
          (dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("sim")), k)

  /** Exact cosine top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id).
    */
  def bruteForceTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), l2Norm(col(vecCol)).as("q_norm"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), l2Norm(col(vecCol)).as("c_norm"))
    exactCosineTopK(c.crossJoin(broadcast(q)), k)
  }

  /** IVF-style ANN: search only candidates in the query's coarse cell. */
  def ivfTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"), col(cellCol).as("cell"),
      l2Norm(col(vecCol)).as("q_norm"))
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col(cellCol).as("cell"),
      l2Norm(col(vecCol)).as("c_norm"))
    exactCosineTopK(c.join(broadcast(q), "cell"), k)
  }

  /** Deterministic seeded k-means (k-means++ init + Lloyd) over a
    * bounded sample, for IVF coarse-quantizer training. The sample is
    * id-ordered (partition-invariant) and the fit runs driver-side —
    * the standard IVF stance (FAISS trains its coarse quantizer on a
    * sample too): centroid quality needs only a representative sample,
    * never the full corpus, so the collect is bounded by `sampleN`
    * regardless of input scale. Assignment of the full corpus stays
    * distributed ([[assignCell]]).
    */
  def trainCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleN: Int = 10000,
      iters: Int = 5,
      seed: Long = 42L
  ): Array[Array[Float]] = {
    val sample = boundedSample(vectors, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "trainCentroids: empty input")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"trainCentroids: ragged sample — every $vecCol must have dimension $dim")
    kmeansFit(sample, k, iters, seed).map(_.map(_.toFloat))
  }

  /** Id-ordered (partition-invariant) bounded sample of a vector
    * column, collected for driver-side quantizer training.
    */
  private def boundedSample(
      vectors: DataFrame, idCol: String, vecCol: String, sampleN: Int): Array[Array[Double]] =
    vectors
      .where(col(vecCol).isNotNull)
      .orderBy(col(idCol))
      .limit(sampleN)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Deterministic seeded k-means (k-means++ init + Lloyd) over an
    * in-memory sample — the shared fit behind the coarse quantizer
    * ([[trainCentroids]]) and the per-subspace product-quantizer
    * codebooks ([[trainProductCodebooks]]).
    */
  private def kmeansFit(
      sample: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)

    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // k-means++ seeding with the min-distance cache updated
    // incrementally per new centroid — O(k n) distance evaluations
    // instead of the O(k^2 n) full recompute, same draws and therefore
    // bit-identical centroids (min over centroids is order-free)
    val cents = scala.collection.mutable.ArrayBuffer[Array[Double]](sample(rnd.nextInt(sample.length)))
    val dists = sample.map(p => d2(p, cents(0)))
    while (cents.length < math.min(k, sample.length)) {
      val total = dists.sum
      if (total <= 0) cents += sample(rnd.nextInt(sample.length))
      else {
        var target = rnd.nextDouble() * total
        var i = 0
        while (i < sample.length - 1 && target > dists(i)) { target -= dists(i); i += 1 }
        cents += sample(i)
      }
      val latest = cents.last
      var p = 0
      while (p < sample.length) {
        val d = d2(sample(p), latest)
        if (d < dists(p)) dists(p) = d
        p += 1
      }
    }
    // Lloyd iterations (driver-side over the bounded sample)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cents.length) {
          val d = d2(p, cents(c)); if (d < bestD) { bestD = d; best = c }; c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0) {
          val m = new Array[Double](dim)
          var i = 0
          while (i < dim) { m(i) = sums(c)(i) / counts(c); i += 1 }
          cents(c) = m
        }
        c += 1
      }
      it += 1
    }
    cents.toArray
  }

  /** Nearest-centroid cell id for a vector column: argmax over
    * `x . c - |c|^2/2` (equivalent to argmin L2), evaluated with the
    * codegen'd dot product against broadcast centroid literals — the
    * full-corpus assignment is a narrow, shuffle-free projection. Ties
    * break to the lowest cell id.
    */
  def assignCell(vec: Column, centroids: Array[Array[Float]]): Column = {
    // same (negscore, cell) struct-sort shape as probeCells: each of
    // the k dot products is referenced exactly once (the previous
    // greatest + when-chain evaluated every score twice unless codegen
    // CSE caught it)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm2 = c.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble) / 2.0
      struct((lit(0.0) - (dot(vec, typedLit(c)) - lit(halfNorm2))).as("negscore"), lit(i).as("cell"))
    }
    array_sort(array(scored.toSeq: _*)).getItem(0).getField("cell")
  }

  /** The `nprobe` nearest centroid cell ids for a query vector —
    * multi-probe IVF visits the query's closest cells, not just one,
    * trading a bounded extra scan for recall. Cell order ties break by
    * id via the (score desc, id asc) struct sort.
    */
  def probeCells(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm2 = c.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble) / 2.0
      struct((lit(0.0) - (dot(vec, typedLit(c)) - lit(halfNorm2))).as("negscore"), lit(i).as("cell"))
    }
    slice(array_sort(array(scored.toSeq: _*)), 1, nprobe).getField("cell")
  }

  /** IVF ANN with a trained coarse quantizer: centroids fit on a
    * bounded sample ([[trainCentroids]]), every vector assigned to its
    * nearest cell distributively, queries probing their `nprobe`
    * closest cells. The cell join prunes each query's scan to
    * nprobe/nCells of the corpus; top-k stays the bounded O(k)
    * aggregate. Candidates live in exactly one cell, so multi-probe
    * never produces duplicate (query, candidate) pairs.
    */
  def ivfTrainedTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nprobe: Int,
      sampleN: Int = 10000,
      iters: Int = 5,
      seed: Long = 42L
  ): DataFrame =
    ivfWithCentroids(queries, candidates, idCol, vecCol, k,
      trainCentroids(candidates, idCol, vecCol, nCells, sampleN, iters, seed), nprobe)

  /** IVF ANN with caller-supplied coarse centroids — the
    * bring-your-own-quantizer path ([[ivfTrainedTopK]] is this plus
    * [[trainCentroids]]). Useful when the quantizer was fit offline or
    * on an earlier corpus snapshot (the FAISS deployment norm), and it
    * makes the whole IVF mechanism — argmax cell assignment,
    * multi-probe, cell-pruned join, bounded top-k — deterministic
    * given the centroids, so it can be value-checked end to end.
    */
  def ivfWithCentroids(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cents: Array[Array[Float]],
      nprobe: Int
  ): DataFrame = {
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      l2Norm(col(vecCol)).as("c_norm"), assignCell(col(vecCol), cents).as("cell"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm"),
      explode(probeCells(col(vecCol), cents, nprobe)).as("cell"))
    exactCosineTopK(c.join(broadcast(q), "cell"), k)
  }

  /** LSH-bucketed ANN via signed random hyperplanes derived from md5 of
    * the dimension index (deterministic, data-independent planes).
    * Vectors are bucketed by the sign-bit string of `nPlanes`
    * projections; same-bucket pairs are the candidates. Scale path
    * alternative to [[ivfTopK]] when no pre-clustering exists.
    *
    * The projection is the native codegen'd
    * [[graft.expressions.HyperplaneBuckets]] — the ±1 plane matrix is
    * derived once per executor instead of md5-per-(plane,dim) per row,
    * and the sign bits match the previous composed zip_with/aggregate
    * form (and the DuckDB oracle) bit for bit.
    */
  /** The native hyperplane bucket projection — ONE construction shared
    * by [[lshBuckets]] and [[cosineNearDuplicates]], so the candidate
    * buckets cannot silently diverge between the two surfaces.
    */
  private def bucketColumn(vecCol: String, nPlanes: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.HyperplaneBuckets(
        org.apache.spark.sql.graftbridge.Bridge.expression(col(vecCol)),
        nPlanes))

  def lshBuckets(vectors: DataFrame, idCol: String, vecCol: String, nPlanes: Int): DataFrame =
    vectors.select(col(idCol), bucketColumn(vecCol, nPlanes).as("bucket"))

  /** Embedding-cosine near-duplicate pairs at scale: hyperplane-LSH
    * bucketing ([[lshBuckets]]) restricts the candidate space to
    * same-bucket pairs (2^nPlanes buckets, hash-partitioned by the
    * bucket key — never an all-pairs cross join), then each candidate
    * pair is verified exactly with the codegen'd cosine. Output:
    * (a_id, b_id, cosine) for pairs at or above the threshold. Same
    * candidates-then-verify composition as
    * [[graft.operators.Dedup.nearDuplicates]] on text.
    */
  def cosineNearDuplicates(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int,
      thresholdPct: Int
  ): DataFrame = {
    // one narrow projection (id, vec, norm, bucket); the self-join's
    // two ENSURE_REQUIREMENTS exchanges on the bucket key canonicalize
    // identically, so ReuseExchange computes the projection once,
    // shuffle-file-backed — no cache memory, no blocking count job,
    // survives executor loss, and AQE stays free to split skewed bucket
    // partitions (an explicit repartition would pin them). Same plan
    // stance as [[graft.operators.Dedup.lshCandidatePairs]]. The join
    // is hinted shuffle-hash: it probes the reused shuffle files
    // directly instead of sorting both sides or paying an AQE
    // broadcast-build barrier.
    val t = vectors.select(
      col(idCol).as("vid"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("nrm"), bucketColumn(vecCol, nPlanes).as("bucket"))
    val a = t.select(col("vid").as("a_id"), col("bucket"), col("vec").as("a_vec"), col("nrm").as("a_norm"))
    val b = t.select(col("vid").as("b_id"), col("bucket"), col("vec").as("b_vec"), col("nrm").as("b_norm"))
    a.join(b.hint("shuffle_hash"), "bucket")
      .where(col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        (dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("cos"))
      .where(col("cos") * 100 >= thresholdPct)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  // =====================================================================
  // Product quantization (PQ / IVF-PQ)
  // =====================================================================

  /** Gates for the PQ compressed-domain quality query
    * (`similarity_pq_recall`), both pinned by BenchGuardSpec like
    * [[RecallFloor]]. The synthetic embeddings are near-isotropic
    * (pairwise cosine ~N(0, 0.125)), which is PQ's worst case for RANK
    * recall — top-10 margins are noise-thin, so small quantization
    * error scrambles them — while quantization ERROR itself is the
    * honest measure of the mechanism. Hence two gates at the M=16,
    * K=64 config (16-byte codes, 16x compression of a 64-dim float
    * vector):
    *  - recall@10 floor 0.15: measured band 0.29-0.42 across
    *    sf0.001-sf0.1; a random scan sits at 10/(N-1) = 0.5-2%, so the
    *    floor is ~10x chance yet trips on any material quantizer
    *    regression.
    *  - cosine mean-absolute-error ceiling 0.06: measured band
    *    0.036-0.041, under a third of the 0.125 similarity spread; the
    *    ceiling is ~1.5x the band (tightened from the round-9 0.08
    *    once the residual tier confirmed the band is stable).
    */
  val PQRecallFloor = 0.15
  val PQErrorCeiling = 0.06

  /** Ceiling for the RESIDUAL-coded ADC's cosine mean-absolute-error
    * (`similarity_ivfpq_residual`), pinned by BenchGuardSpec. Measured
    * band at M=16/K=64: 0.035-0.040 — consistently 2-3% under the
    * non-residual band (0.036-0.041), the gain bounded by the
    * near-isotropic synthetic embeddings: the coarse cells capture
    * little variance, so residuals are nearly the vectors themselves.
    * (The same isotropy makes an OPQ rotation a no-op here — rotating
    * an isotropic distribution cannot concentrate subspace variance,
    * so the residual gate doubles as the honest record of what
    * transform-side tricks can buy on this corpus.) The graded query
    * also asserts residual MAE <= the plain-PQ MAE at the same code
    * budget — the improvement itself is the value under test.
    */
  val ResidualPQErrorCeiling = 0.06

  /** Gates for the OPQ-rotated coding query (`similarity_opq`), pinned
    * by BenchGuardSpec. On the near-isotropic synthetic embeddings the
    * eigenvalue-allocation rotation is measurably a NO-OP (all
    * eigenvalues tie, so no allocation beats another): measured MAE
    * band 0.038-0.041, within 1-5% of plain PQ — hence an absolute
    * ceiling (same 0.06 as the other coding modes) plus a
    * never-materially-worse ratio bound of 1.15x plain. The case where
    * OPQ genuinely wins — variance concentrated in directions the axis
    * partition splits badly — is demonstrated in DedupSimilaritySpec
    * with crafted anisotropic data, where the rotation cuts MAE by
    * >100x (measured 0.443 -> 0.00001).
    */
  val OpqErrorCeiling = 0.06
  val OpqWorseRatio = 1.15

  /** Per-subspace PQ codebooks fit on a bounded id-ordered sample —
    * the same driver-side FAISS training stance as [[trainCentroids]]:
    * ONE bounded collect, sliced into `numSub` contiguous subvectors,
    * each subspace fit with the shared seeded k-means (seed offset by
    * subspace index so codebooks differ). Returns
    * `[numSub][nCentroids][dim/numSub]` for [[pqCodes]]/[[pqLut]].
    */
  def trainProductCodebooks(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      nCentroids: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5,
      seed: Long = 42L
  ): Array[Array[Array[Float]]] = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(nCentroids >= 1 && nCentroids <= 256,
      s"nCentroids must fit a byte code: [1,256], got $nCentroids")
    val sample = boundedSample(vectors, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "trainProductCodebooks: empty input")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"trainProductCodebooks: ragged sample — every $vecCol must have dimension $dim")
    require(dim % numSub == 0, s"dimension $dim not divisible into $numSub subspaces")
    val subDim = dim / numSub
    fitSubspaces(numSub) { m =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      kmeansFit(sub, nCentroids, iters, seed + m).map(_.map(_.toFloat))
    }
  }

  /** Run the `numSub` independent per-subspace k-means fits
    * concurrently on the driver — each fit is seeded by its own
    * subspace index, so the result is bit-identical to the sequential
    * loop while the wall time drops by ~min(numSub, cores). Driver-side
    * parallelism over an already-bounded sample, not a substitute for
    * distributed work (the full-corpus ENCODE is distributed).
    */
  private def fitSubspaces(numSub: Int)(fit: Int => Array[Array[Float]]): Array[Array[Array[Float]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse((0 until numSub).toList)(m => Future(fit(m))), Duration.Inf).toArray
  }

  /** PQ byte codes for a vector column — `array<tinyint>` of length
    * numSub via the native [[graft.expressions.PQEncodeCodes]]: the
    * compressed candidate representation (8 bytes for a 64-dim float
    * vector at numSub=8, a 32x reduction of what the ANN probe side
    * shuffles and scans).
    */
  def pqCodes(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.PQEncodeCodes(
        org.apache.spark.sql.graftbridge.Bridge.expression(vec), codebooks))

  /** Per-query ADC lookup table ([[graft.expressions.PQQueryLut]]),
    * computed once per query row on the tiny broadcast side.
    */
  def pqLut(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.PQQueryLut(
        org.apache.spark.sql.graftbridge.Bridge.expression(vec), codebooks))

  /** ADC approximate dot product: M table lookups per (query,
    * candidate) pair ([[graft.expressions.PQAdcDot]]).
    */
  def pqAdcDot(lut: Column, codes: Column, nCentroids: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.PQAdcDot(
        org.apache.spark.sql.graftbridge.Bridge.expression(lut),
        org.apache.spark.sql.graftbridge.Bridge.expression(codes), nCentroids))

  /** Compressed-domain brute-force top-k: every candidate is scored,
    * but in the PQ domain — the candidate relation carries (id, codes,
    * exact norm), M bytes + 4 of payload per row instead of the d-float
    * vector, and each (query, candidate) score is M lookups into the
    * query's ADC table instead of a d-element dot product. Approximate
    * cosine = adc_dot / (q_norm x exact c_norm) — norms are exact (both
    * sides see the true vector at projection time; storing the
    * candidate's norm costs 4 bytes), so ALL approximation error lives
    * in the quantized dot product. Output: (query_id, rank,
    * neighbor_id), ranked by the bounded O(k) aggregate.
    */
  def pqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    val kCents = codebooks(0).length
    val c = candidates.select(
      col(idCol).as("neighbor_id"),
      pqCodes(col(vecCol), codebooks).as("codes"),
      l2Norm(col(vecCol)).as("c_norm"))
    val q = queries.select(
      col(idCol).as("query_id"),
      pqLut(col(vecCol), codebooks).as("lut"),
      l2Norm(col(vecCol)).as("q_norm"))
    val scored = c
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (pqAdcDot(col("lut"), col("codes"), kCents) / (col("q_norm") * col("c_norm"))).as("sim"))
    rankTopK(scored, k)
  }

  /** IVF-PQ: coarse cells prune each query's scan to nprobe/nCells of
    * the corpus ([[ivfWithCentroids]]'s mechanism) and the surviving
    * candidates are scored in the compressed domain ([[pqTopK]]'s
    * mechanism) — the standard composition for billion-vector ANN,
    * where neither a full scan nor full-precision vectors fit the
    * probe path. Codes are NON-RESIDUAL (vectors encode directly, not
    * their offset from the coarse centroid — FAISS `by_residual=false`):
    * one global codebook set, codes computed once, and the query LUT
    * is per-query rather than per-(query, cell); the residual variant
    * buys accuracy at the cost of recomputing the LUT per probed cell
    * and is the natural upgrade if PQ error ever dominates the recall
    * budget.
    */
  def ivfPqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarseCents: Array[Array[Float]],
      nprobe: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame =
    ivfPqTopKIndexed(queries, pqIndex(candidates, idCol, vecCol, coarseCents, codebooks),
      idCol, vecCol, k, coarseCents, nprobe, codebooks)

  /** The IVF-PQ INDEX relation: (id, cell, codes, c_norm) — what a
    * deployment materializes ONCE at ingest (write it to parquet,
    * partitioned or bucketed by cell) and serves every query from. The
    * index build is where the per-candidate work lives (a nearest-cell
    * argmax over the coarse centroids plus the subspace encodings);
    * the query path ([[ivfPqTopKIndexed]]) never touches a candidate
    * vector, so querying costs M ADC lookups per probed pair no matter
    * how the corpus grows. [[ivfPqTopK]] composes build + query into
    * one lazy plan for ad-hoc use; at scale, build once and reuse.
    */
  def pqIndex(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame =
    candidates.select(
      col(idCol).as("neighbor_id"),
      assignCell(col(vecCol), coarseCents).as("cell"),
      pqCodes(col(vecCol), codebooks).as("codes"),
      l2Norm(col(vecCol)).as("c_norm"))

  /** Publish [[pqIndex]] at `path` in the deployment layout:
    * `path/segments/seg-00000/vectors` parquet partitioned by cell
    * (the broadcast cell join prunes a serve scan to the probed
    * partitions) plus the [[IndexManifest]] commit marker written
    * LAST — the same crash-consistency stance as
    * [[Retrieval.buildIndex]]: a failure mid-write leaves an index
    * that refuses to serve rather than one missing half its cells. A
    * fresh build is ONE segment; [[updatePqIndex]] appends more and
    * [[compactPqIndex]] merges them back — the manifest's segment
    * list is what a reader unions, so maintenance costs O(increment)
    * bytes instead of an O(corpus) rewrite per delta. `residual =
    * true` publishes [[pqResidualIndex]] codes instead (pair with
    * [[trainResidualCodebooks]] models, and pass the same flag to
    * [[updatePqIndex]] forever after — the encode flavor is part of
    * the index identity).
    */
  def writePqIndex(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      path: String,
      residual: Boolean = false): Unit = {
    val spark = candidates.sparkSession
    IndexManifest.clear(spark, path)
    val encoded =
      if (residual) pqResidualIndex(candidates, idCol, vecCol, coarseCents, codebooks)
      else pqIndex(candidates, idCol, vecCol, coarseCents, codebooks)
    val seg = "segments/seg-00000"
    encoded.write.partitionBy("cell").mode("overwrite").parquet(s"$path/$seg/vectors")
    writeSegStats(spark, s"$path/$seg")
    IndexManifest.write(spark, path, version = PqFormatVersion,
      flavor = pqFlavor(residual), segments = Seq(seg))
  }

  /** One-row `stats` table beside a segment's vectors (n_vecs) — the
    * metadata [[pqIndexInfo]] sums so an operational poll never scans
    * the codes. Counted from the just-written parquet: a count(*)
    * over parquet resolves from file footers, so the extra job reads
    * no vector bytes.
    */
  private def writeSegStats(spark: SparkSession, segPath: String): Unit =
    IndexManifest.readDir(spark, s"$segPath/vectors")
      .agg(count(lit(1)).as("n_vecs"))
      .write.mode("overwrite").parquet(s"$segPath/stats")

  private def pqFlavor(residual: Boolean): String =
    if (residual) "pq-residual" else "pq-direct"

  /** The corpus embedding relation in the PUBLISHED side-index schema
    * — (vec_id, vec) — normalized here so the publisher, the
    * maintainer ([[SideIndex.update]]/[[SideIndex.delete]] over these
    * rows), and the streaming gate
    * ([[graft.streaming.Streams.annAdmission]]'s index overload) can
    * never disagree on column names. Unlike the IVF-PQ index this
    * table carries RAW vectors: the admission gate's contract is the
    * EXACT cosine threshold (identical arithmetic to the batch
    * [[semanticDuplicatePairs]]), not an ADC approximation.
    */
  def embeddingIndexRows(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))

  /** Publish the corpus embedding relation as a segmented +
    * tombstoned [[SideIndex]] (flavor `embedding`) — the batch half
    * of the online semantic-admission story; the cell quantizer stays
    * caller-side (the trained-model stance the PQ tier shares).
    */
  def publishEmbeddingIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    SideIndex.build(embeddingIndexRows(corpus, idCol, vecCol), "vec_id", "embedding", path)

  /** Format version 3 = segmented layout WITH per-segment `stats` and
    * per-tombstone `tsstats` one-row tables (the [[Retrieval]] index's
    * metadata stance, mirrored). Serve and maintenance paths require
    * it, so an index published by an older build answers "rebuild"
    * instead of a missing-parquet crash.
    */
  private val PqFormatVersion = 3

  /** Read back a [[writePqIndex]]-published index — the UNION of every
    * segment the manifest lists, validated first: serving from a
    * half-written index fails loudly here instead of silently missing
    * cells, and a segment written by a crashed update is invisible
    * until its manifest commits.
    */
  def readPqIndex(spark: SparkSession, path: String): DataFrame = {
    // one handle resolution for presence + version + segments +
    // tombstones (each extra resolution is a listing round trip on an
    // object store)
    val h = IndexManifest.handle(spark, path, "IVF-PQ")
    IndexManifest.requireVersion(h, path, "IVF-PQ", PqFormatVersion)
    val segs = h.segments
    // one read PER segment, then union — segments are cell-partitioned
    // directories under DIFFERENT roots, and a single multi-path scan
    // would make Spark infer one partition spec across roots (it
    // refuses: CONFLICTING_DIRECTORY_STRUCTURES). Catalyst pushes a
    // serve's cell filter through the Union into each scan, so
    // per-segment partition pruning is preserved.
    // tombstoned vectors leave via ONE sequenced-mask join — only when
    // deletes exist, so the common no-deletes plan is untouched. Each
    // tombstone row carries `up_to` (the segment count at delete
    // time), and a row dies iff its id is tombstoned AND its segment
    // ordinal predates that horizon — so a vector deleted and then
    // RE-EMBEDDED via updatePqIndex serves its new segment's row while
    // the old one stays masked (a bare id mask would swallow both —
    // the classic LSM sequencing bug); per-id MAX horizon covers
    // delete/re-add/delete chains. Every reader (serve, update guard,
    // compaction) goes through here, so deleted vectors can never
    // serve, double-count, or survive a re-home.
    val tsPaths = h.tombstones
    // the assembled (and, with deletes, masked) vector union comes off
    // the Handle's per-generation memo: segments are immutable once
    // published, and re-assembling the plan costs a driver listing +
    // footer read per segment per serve call
    IndexManifest.memo(spark, h, "vectors-live") {
      IndexManifest.tombstoneRel(spark, h, "neighbor_id") match {
        case None =>
          segs.map(s => IndexManifest.readDir(spark, s"$s/vectors")).reduce(_.unionByName(_))
        case some =>
          // the sequencing rule is IndexManifest's — shared verbatim with
          // the BM25 tier, one implementation of the invariant
          IndexManifest.maskLive(
            IndexManifest.segTableOrd(spark, h, "vectors"), some, "neighbor_id")
      }
    }
  }

  /** DELETE vectors from the IVF-PQ index at `indexPath`, publishing
    * at `outPath` — the retention / right-to-erasure / re-embed path,
    * O(delta) like [[updatePqIndex]]: nothing re-encodes and no
    * segment is rewritten; the delete lands as a brand-new tombstone
    * id list (`outPath/tombstones/ts-NNNNN/ids`, keyed `neighbor_id`)
    * and the published manifest lists (base segments verbatim, base
    * tombstones ++ the new one). Each tombstone row carries `up_to` =
    * the segment count at delete time, so it masks only the segments
    * that existed then — the sequencing that lets a deleted id
    * re-enter via [[updatePqIndex]] (the supported re-embed update)
    * without the old tombstone swallowing the new rows.
    * [[readPqIndex]] applies the mask, so every serve and maintenance
    * path sees only live vectors; [[compactPqIndex]] applies
    * tombstones physically (it reads through readPqIndex) and clears
    * them. Every delete id must be currently LIVE — deleting an
    * unknown or already-deleted id fails loudly. The flavor carries
    * over: a delete never changes the encode identity.
    */
  def deleteFromPqIndex(
      spark: SparkSession,
      indexPath: String,
      deletes: DataFrame,
      idCol: String,
      outPath: String): Unit = {
    require(outPath != indexPath,
      "deleteFromPqIndex: outPath must differ from indexPath (the base index keeps serving, " +
        "and its segments are referenced in place by the new manifest)")
    val live = readPqIndex(spark, indexPath)
    val base = IndexManifest.handle(spark, indexPath, "IVF-PQ")
    val (segs, baseTs, flavor) = (base.segments, base.tombstones, base.flavor)
    val ids = deletes.select(col(idCol).as("neighbor_id"))
      .where(col("neighbor_id").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val missing = ids
        .join(live.select(col("neighbor_id")), Seq("neighbor_id"), "left_anti")
        .count()
      require(missing == 0L,
        s"deleteFromPqIndex: $missing ids are not live in the index at $indexPath — " +
          "every delete must name a currently-indexed, not-already-deleted vector")
      val ts = s"tombstones/${IndexManifest.nextTombstoneName(baseTs)}"
      IndexManifest.clear(spark, outPath)
      ids.withColumn("up_to", lit(segs.size))
        .write.mode("overwrite").parquet(s"$outPath/$ts/ids")
      // one-row tsstats: the masked-vector mass this generation adds,
      // so pqIndexInfo's masked count stays a metadata read
      ids.agg(count(lit(1)).as("n_vecs"))
        .write.mode("overwrite").parquet(s"$outPath/$ts/tsstats")
      IndexManifest.write(spark, outPath, version = PqFormatVersion,
        flavor = flavor, segments = IndexManifest.qualify(spark, segs),
        tombstones = IndexManifest.qualify(spark, baseTs) :+ ts)
    } finally ids.unpersist()
  }

  /** Merge an INCREMENT of new vectors into the IVF-PQ index at
    * `indexPath`, publishing the merged index at `outPath` — the daily
    * embedding-delta maintenance path, mirroring
    * [[Retrieval.updateIndex]]'s stance exactly: the old corpus is
    * NEVER re-encoded (its (cell, codes, norm) rows read back from
    * parquet — a columnar copy, not a recompute), only the increment
    * pays the nearest-cell argmax + subspace encodes, and it does so
    * against the FROZEN `coarseCents`/`codebooks` the index was built
    * with — quantizer models are part of the index identity, and
    * re-training them would silently shift every existing code's
    * meaning (re-train means rebuild). `increment` ids must be
    * disjoint from the indexed ids (enforced loudly: a re-submitted
    * vector would serve twice); `outPath` must differ from `indexPath`
    * (the old index keeps serving, untouched, until the new manifest
    * lands LAST — and the new index references the old segments where
    * they sit, so `indexPath` must stay alive as long as `outPath`
    * serves; [[compactPqIndex]] is the explicit path that re-homes
    * the data when segment count or lifecycle demands it). Set
    * `residual = true` when the index was built from
    * [[pqResidualIndex]] with [[trainResidualCodebooks]] models — the
    * increment then encodes offsets from the coarse centroids, like
    * every existing row. The encode flavor is part of the index
    * identity exactly as the models are: the manifest RECORDS it at
    * build, and a mismatched flag fails loudly here — mixing flavors
    * would serve silently wrong ADC scores.
    *
    * Cost shape — the reason this path exists: the increment lands as
    * a brand-new segment directory (`outPath/segments/seg-NNNNN`,
    * partitioned by cell like every segment) and the published
    * manifest lists (the base index's segments, referenced in place
    * at their resolved paths, ++ the new one) — so the bytes written
    * per update are O(increment), not O(corpus). At 100 TB, a daily
    * delta must not rewrite the index daily.
    */
  def updatePqIndex(
      spark: SparkSession,
      indexPath: String,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      outPath: String,
      residual: Boolean = false): Unit = {
    require(outPath != indexPath,
      "updatePqIndex: outPath must differ from indexPath (the base index keeps serving, " +
        "and its segments are referenced in place by the updated manifest)")
    val old = readPqIndex(spark, indexPath)
    val base = IndexManifest.handle(spark, indexPath, "IVF-PQ")
    // the manifest records which encode built the index — merging the
    // other flavor would serve silently wrong ADC scores, so a
    // mismatched flag fails here instead of trusting caller discipline
    require(base.flavor == pqFlavor(residual),
      s"IVF-PQ index at $indexPath was built with encode flavor '${base.flavor}' but this " +
        s"operation expects '${pqFlavor(residual)}' — the flavor is part of the index " +
        "identity; pass the matching flag or rebuild")
    val encoded =
      if (residual) pqResidualIndex(increment, idCol, vecCol, coarseCents, codebooks)
      else pqIndex(increment, idCol, vecCol, coarseCents, codebooks)
    val inc = encoded
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the new-vectors-only contract, enforced the updateIndex way:
      // one semi-join of the old id column (columnar-pruned) against
      // the bounded broadcast increment
      val resubmitted = old.select(col("neighbor_id")).distinct()
        .join(broadcast(inc.select(col("neighbor_id")).distinct()),
          Seq("neighbor_id"), "left_semi")
        .count()
      require(resubmitted == 0L,
        s"updatePqIndex: $resubmitted increment ids already indexed at $indexPath — " +
          "increments must contain NEW vectors only (re-indexing a changed vector means rebuild)")
      // the base generation's segments AND tombstones carry over BY
      // REFERENCE — their resolved (absolute) paths go into the new
      // manifest verbatim; only the increment's rows are written, as
      // one new segment. Carrying tombstones is what closes the
      // delete-then-re-add re-embed path: the old rows stay masked in
      // their segment while the new segment's rows serve (the guard
      // above checks the LIVE set, so a deleted id re-enters cleanly).
      val (baseSegs, baseTs) = (base.segments, base.tombstones)
      val seg = s"segments/${IndexManifest.nextSegmentName(baseSegs)}"
      IndexManifest.clear(spark, outPath)
      inc.write.partitionBy("cell").mode("overwrite").parquet(s"$outPath/$seg/vectors")
      writeSegStats(spark, s"$outPath/$seg")
      // the merged index must carry the SAME flavor the base recorded,
      // or the next generation's requireFlavor refuses both flags and
      // the daily-delta chain dies after one update
      IndexManifest.write(spark, outPath, version = PqFormatVersion,
        flavor = pqFlavor(residual),
        segments = IndexManifest.qualify(spark, baseSegs) :+ seg,
        tombstones = IndexManifest.qualify(spark, baseTs))
    } finally inc.unpersist()
  }

  /** Merge every segment of the index at `indexPath` back into ONE,
    * published at `outPath` — the compaction half of the segmented
    * maintenance story: [[updatePqIndex]] keeps appends O(increment),
    * and when the segment count (or a retired base root's lifecycle)
    * says so, this explicit O(corpus) columnar copy re-homes all the
    * data under a single self-contained segment with no cross-root
    * references. No re-encode anywhere — the (cell, codes, norm) rows
    * are read back and rewritten partitioned by cell, so serve plans
    * over the compacted index are identical in shape to a fresh
    * build's, and serve RESULTS are identical to the segmented
    * index's (the rows are the same set). Tombstones are applied
    * PHYSICALLY — the read goes through [[readPqIndex]], which
    * subtracts them, and the published manifest carries none — so
    * compaction is also how deleted vectors' bytes actually leave
    * disk. The flavor carries over from the source manifest.
    */
  def compactPqIndex(spark: SparkSession, indexPath: String, outPath: String): Unit = {
    require(outPath != indexPath,
      "compactPqIndex: outPath must differ from indexPath (cannot overwrite an index being read)")
    val all = readPqIndex(spark, indexPath)
    val flavor = IndexManifest.handle(spark, indexPath, "IVF-PQ").flavor
    val seg = "segments/seg-00000"
    IndexManifest.clear(spark, outPath)
    all.write.partitionBy("cell").mode("overwrite").parquet(s"$outPath/$seg/vectors")
    writeSegStats(spark, s"$outPath/$seg")
    IndexManifest.write(spark, outPath, version = PqFormatVersion,
      flavor = flavor, segments = Seq(seg))
  }

  /** One-row operational summary of a segmented IVF-PQ index — the
    * [[Retrieval.indexInfo]] twin: (n_segments, n_tombstone_gens,
    * flavor, n_vecs_indexed, n_vecs_masked, n_vecs_live). Everything
    * derives from the manifest lists plus the per-segment one-row
    * `stats` and per-tombstone one-row `tsstats` tables — a few KB of
    * metadata reads, NEVER a codes scan, so it is safe to poll from a
    * scheduler deciding when to compact. Masked means tombstoned rows
    * still occupying segment bytes; live = indexed - masked (a
    * re-embedded vector counts once in its new segment and once as
    * masked debt in its old one, exactly the disk reality compaction
    * collects). Empty stats tables coalesce to zeros — a truncated
    * segment must degrade the poll, not NPE it.
    */
  def pqIndexInfo(spark: SparkSession, indexPath: String): DataFrame = {
    val h = IndexManifest.handle(spark, indexPath, "IVF-PQ")
    IndexManifest.requireVersion(h, indexPath, "IVF-PQ", PqFormatVersion)
    val (segs, tsPaths, flavor) = (h.segments, h.tombstones, h.flavor)
    val Seq(nIndexed) = IndexManifest.sumOneRowTables(
      spark, segs.map(s => s"$s/stats"), Seq("n_vecs"))
    val Seq(nMasked) = IndexManifest.sumOneRowTables(
      spark, tsPaths.map(t => s"$t/tsstats"), Seq("n_vecs"))
    IndexManifest.infoRow(spark,
      "n_segments" -> segs.size, "n_tombstone_gens" -> tsPaths.size, "flavor" -> flavor,
      "n_vecs_indexed" -> nIndexed, "n_vecs_masked" -> nMasked,
      "n_vecs_live" -> (nIndexed - nMasked))
  }

  /** The compaction-policy trigger for the IVF-PQ tier, mirroring
    * [[Retrieval.needsCompaction]]: trips when the segment list grows
    * past `maxSegments` (each serve pays one more pruned scan per
    * segment) or the tombstone-masked share of indexed vectors passes
    * `maxMaskedRatio` (masked codes still occupy disk and flow through
    * the serve mask until [[compactPqIndex]] pays the debt).
    * Metadata-only via [[pqIndexInfo]] — poll-safe.
    */
  def needsPqCompaction(
      spark: SparkSession, indexPath: String,
      maxSegments: Int = 8, maxMaskedRatio: Double = 0.2): Boolean = {
    require(maxSegments >= 1 && maxMaskedRatio >= 0.0,
      s"needsPqCompaction: bad thresholds ($maxSegments, $maxMaskedRatio)")
    val r = pqIndexInfo(spark, indexPath).head()
    val indexed = r.getAs[Long]("n_vecs_indexed")
    r.getAs[Int]("n_segments") > maxSegments ||
      (indexed > 0L && r.getAs[Long]("n_vecs_masked").toDouble / indexed > maxMaskedRatio)
  }

  /** ONE maintenance round for the IVF-PQ index as a single entry
    * point — [[Retrieval.maintainIndex]]'s vector twin: apply this
    * round's deletes (if any), merge this round's new-vector increment
    * (encoded against the index's FROZEN models, if any), then poll
    * [[needsPqCompaction]] and run [[compactPqIndex]] if the policy
    * trips. Returns the path to SERVE from (`outRoot/deleted`,
    * `outRoot/updated` or `outRoot/compacted`, whichever ran last);
    * every intermediate root is a fully-published index, so a crash
    * mid-round leaves the last committed generation serving. Delete
    * and update stay O(delta); only a tripped policy pays the explicit
    * O(corpus) re-home. `outRoot` must be FRESH each round (enforced
    * loudly — see [[Retrieval.maintainIndex]]).
    */
  def maintainPqIndex(
      spark: SparkSession,
      indexPath: String,
      deletes: Option[DataFrame],
      increment: Option[DataFrame],
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      outRoot: String,
      residual: Boolean = false,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2): String = {
    require(outRoot != indexPath,
      "maintainPqIndex: outRoot must differ from indexPath (steps publish under it)")
    // each round needs a FRESH root — see Retrieval.maintainIndex: a
    // reused outRoot makes the next tripped compaction overwrite
    // carried segments it is reading
    IndexManifest.requireDisjointRoot(spark, indexPath, outRoot, "IVF-PQ")
    var cur = indexPath
    deletes.foreach { d =>
      deleteFromPqIndex(spark, cur, d, idCol, s"$outRoot/deleted")
      cur = s"$outRoot/deleted"
    }
    increment.foreach { inc =>
      updatePqIndex(spark, cur, inc, idCol, vecCol, coarseCents, codebooks,
        s"$outRoot/updated", residual)
      cur = s"$outRoot/updated"
    }
    if (needsPqCompaction(spark, cur, maxSegments, maxMaskedRatio)) {
      compactPqIndex(spark, cur, s"$outRoot/compacted")
      cur = s"$outRoot/compacted"
    }
    cur
  }

  /** ONE streaming micro-batch's VECTOR-TIER ingest round — the
    * IVF-PQ sibling of [[Retrieval.ingestIndexBatch]], on the shared
    * [[IndexManifest.ingestRound]] engine: the batch's new vectors are
    * encoded under the FROZEN quantizer models (the trained-model
    * stance of every incremental path here — retrain and rebuild when
    * drift demands it) and land as an O(batch) increment generation;
    * the serve pointer flips after each commit; replayed batches heal
    * instead of double-encoding; `keepGenerations` retention bounds
    * the footprint. Rows with a null id or vector are dropped before
    * the empty-batch check, mirroring what [[writePqIndex]] would
    * refuse.
    */
  def ingestPqIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      residual: Boolean = false,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit =
    IndexManifest.ingestRound(spark,
      batch.where(col(idCol).isNotNull && col(vecCol).isNotNull),
      batchId, pointerPath, ingestRoot, "IVF-PQ",
      (rows, cur, outRoot) => maintainPqIndex(spark, cur, None, Some(rows),
        idCol, vecCol, coarseCents, codebooks, outRoot, residual,
        maxSegments, maxMaskedRatio),
      keepGenerations, snapshotPath, nightlyMarkerPath)

  /** [[ingestPqIndexBatch]]'s UPSERT form — the CDC-shaped vector
    * stream where a batch row is "the current embedding of this id",
    * re-embedded or brand new: ids already live in the pointer's
    * generation are tombstoned first and every batch row then lands
    * as the increment, encoded under the FROZEN models — so a
    * re-embedded document's old codes stop serving in the SAME
    * generation its new codes start (the LSM delete + re-add update
    * path, one maintain round, one pointer flip). The sibling of
    * [[Retrieval.ingestUpsertBatch]] on the shared engine, with the
    * SAME refusal contract (IndexManifest.requireUpsertBatch): null
    * ids, null vectors (a deletion in disguise — routing it through
    * here would leave the stale embedding serving), and duplicate ids
    * refuse loudly before any state changes. Additive-only vector
    * streams should prefer [[ingestPqIndexBatch]], which skips the
    * live-set semi-join.
    */
  def ingestPqUpsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      residual: Boolean = false,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit = {
    val n = IndexManifest.requireUpsertBatch(batch, batchId, idCol, Some(vecCol),
      "ingestPqUpsertBatch")
    IndexManifest.ingestRound(spark, batch,
      batchId, pointerPath, ingestRoot, "IVF-PQ",
      (rows, cur, outRoot) => {
        // persist the replaced-id split so the masked live scan runs
        // ONCE (the emptiness probe and deleteFromPqIndex's own guard
        // read both hit the cached result)
        val replaced = rows.select(col(idCol))
          .join(readPqIndex(spark, cur).select(col("neighbor_id").as(idCol)),
            Seq(idCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val deletes = if (replaced.count() == 0L) None else Some(replaced)
          maintainPqIndex(spark, cur, deletes, Some(rows), idCol, vecCol,
            coarseCents, codebooks, outRoot, residual, maxSegments, maxMaskedRatio)
        } finally replaced.unpersist()
      },
      keepGenerations, snapshotPath, nightlyMarkerPath, Some(n))
  }

  /** The canonical per-vector payload fingerprint under an index's
    * FROZEN models: xxhash64 over (codes, c_norm) — exactly the two
    * payload columns a published segment stores — computed from a RAW
    * vector by the same encode expressions the write path uses
    * ([[pqCodes]] / residual codes + [[l2Norm]]), so the registry side
    * of [[IndexAudit.auditContent]] and the served side
    * ([[livePqHashes]]) can never hash differently on the same
    * embedding. A re-embedded vector the index never re-encoded
    * disagrees — the corpus embeddings being unit-norm, even a pure
    * rescale moves c_norm — and `n_stale` sees the class the id-set
    * audit cannot: right id, stale codes.
    */
  def pqContentHash(
      vec: Column,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      residual: Boolean = false): Column = {
    val codes =
      if (residual) {
        val cellCol = assignCell(vec, coarseCents)
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.PQEncodeResidualCodes(
            org.apache.spark.sql.graftbridge.Bridge.expression(vec),
            org.apache.spark.sql.graftbridge.Bridge.expression(cellCol),
            coarseCents, codebooks))
      } else pqCodes(vec, codebooks)
    xxhash64(codes, l2Norm(vec))
  }

  /** The published index's live (id, content_hash) relation — the
    * [[IndexAudit.auditContent]] input for the vector tier: xxhash64
    * over each SERVED row's stored (codes, c_norm), through the
    * sequenced tombstone mask via [[readPqIndex]] (codes are
    * array[byte] and c_norm a double — both parquet-exact, so the
    * round trip can never perturb the hash). Pair the registry side
    * with [[pqContentHash]] under the same models.
    */
  def livePqHashes(spark: SparkSession, indexPath: String): DataFrame =
    readPqIndex(spark, indexPath).select(col("neighbor_id"),
      xxhash64(col("codes"), col("c_norm")).as("content_hash"))

  /** Per-subspace PQ codebooks fit on the RESIDUALS of a bounded
    * id-ordered sample — each sample vector minus its nearest coarse
    * centroid (FAISS `by_residual=true` training). The coarse quantizer
    * absorbs each cell's mean, so the residual distribution the
    * codebooks must cover is tighter than the raw vectors' and the same
    * code budget quantizes with lower error. Same driver-side bounded-
    * sample stance as [[trainProductCodebooks]].
    */
  def trainResidualCodebooks(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      numSub: Int,
      nCentroids: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5,
      seed: Long = 42L
  ): Array[Array[Array[Float]]] = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(nCentroids >= 1 && nCentroids <= 256,
      s"nCentroids must fit a byte code: [1,256], got $nCentroids")
    val sample = boundedSample(vectors, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "trainResidualCodebooks: empty input")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"trainResidualCodebooks: ragged sample — every $vecCol must have dimension $dim")
    require(dim % numSub == 0, s"dimension $dim not divisible into $numSub subspaces")
    require(coarseCents.forall(_.length == dim),
      "coarse centroid dimension must match the vectors")
    val subDim = dim / numSub
    // nearest-centroid (L2) residual per sample point — mirrors the
    // distributed assignCell argmax exactly, ties to the lower id
    val residuals = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < coarseCents.length) {
        val cent = coarseCents(c)
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cent = coarseCents(best)
      Array.tabulate(dim)(i => v(i) - cent(i))
    }
    fitSubspaces(numSub) { m =>
      val sub = residuals.map(v => java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      kmeansFit(sub, nCentroids, iters, seed + m).map(_.map(_.toFloat))
    }
  }

  /** The `nprobe` nearest cells WITH the query-centroid dot product
    * riding along: array<struct<cell:int, qdot:double>>. The residual
    * score decomposition needs `dot(q, cent_cell)` per probed cell;
    * deriving it as halfNorm2 - negscore reuses the one dot product the
    * ranking already computed instead of issuing a second.
    */
  def probeCellsWithDot(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm2 = c.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble) / 2.0
      struct(
        (lit(0.0) - (dot(vec, typedLit(c)) - lit(halfNorm2))).as("negscore"),
        lit(i).as("cell"),
        lit(halfNorm2).as("halfn"))
    }
    transform(
      slice(array_sort(array(scored.toSeq: _*)), 1, nprobe),
      pc => struct(
        pc.getField("cell").as("cell"),
        (pc.getField("halfn") - pc.getField("negscore")).as("qdot")))
  }

  /** The residual IVF-PQ index: (id, cell, codes, c_norm) like
    * [[pqIndex]], but codes quantize the vector's OFFSET from its
    * coarse centroid ([[graft.expressions.PQEncodeResidualCodes]] —
    * subtraction fused into the encode, no residual column
    * materialized). `codebooks` must come from
    * [[trainResidualCodebooks]] over the same coarse centroids.
    */
  def pqResidualIndex(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    val cellCol = assignCell(col(vecCol), coarseCents)
    val codesCol = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.PQEncodeResidualCodes(
        org.apache.spark.sql.graftbridge.Bridge.expression(col(vecCol)),
        org.apache.spark.sql.graftbridge.Bridge.expression(cellCol),
        coarseCents, codebooks))
    candidates.select(
      col(idCol).as("neighbor_id"),
      cellCol.as("cell"),
      codesCol.as("codes"),
      l2Norm(col(vecCol)).as("c_norm"))
  }

  /** Parametric OPQ pre-rotation (Ge et al. 2013, "Optimized Product
    * Quantization", the eigenvalue-allocation variant): eigendecompose
    * the bounded sample's covariance and allocate principal directions
    * to the M subspaces so the PRODUCT of per-subspace eigenvalues
    * balances (greedy on log-eigenvalue sums, largest first into the
    * currently-lightest subspace with capacity). The returned R (rows =
    * allocated eigenvectors) rotates vectors so each subspace carries a
    * balanced share of the variance — the failure mode it removes is a
    * high-variance direction split across (or crammed into) one
    * subspace while another subspace's centroids idle on noise.
    * Deterministic: symmetric eigendecomposition of one sample
    * covariance, no iteration, no RNG. Chosen over the non-parametric
    * alternating variant (rotate -> retrain -> Procrustes) because that
    * procedure starts at a local optimum for exactly the structured
    * data where rotation matters most, while the allocation solution is
    * closed-form.
    *
    * On a near-isotropic corpus all eigenvalues tie, any allocation is
    * as good as any other, and OPQ is measurably a no-op — which is the
    * honest expected result on this repo's synthetic embeddings (the
    * OpqSpec demonstrates the real win on anisotropic data, and the
    * `similarity_opq` gate pins "never worse"). Returns (R, codebooks
    * trained on the ROTATED sample) — encode/search with
    * [[rotate]]-then-PQ, e.g. [[opqTopK]].
    */
  def trainOpqRotation(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      numSub: Int,
      nCentroids: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5,
      seed: Long = 42L
  ): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    val sample = boundedSample(vectors, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "trainOpqRotation: empty input")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"trainOpqRotation: ragged sample — every $vecCol must have dimension $dim")
    require(dim % numSub == 0, s"dimension $dim not divisible into $numSub subspaces")
    val subDim = dim / numSub
    val n = sample.length

    // sample covariance (centered) — breeze symmetric eigendecomposition
    val mean = new Array[Double](dim)
    sample.foreach { v => var i = 0; while (i < dim) { mean(i) += v(i); i += 1 } }
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    val cov = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    sample.foreach { v =>
      var a = 0
      while (a < dim) {
        val da = v(a) - mean(a)
        var b = a
        while (b < dim) { cov(a, b) += da * (v(b) - mean(b)); cov(b, a) = cov(a, b); b += 1 }
        a += 1
      }
    }
    cov :/= n.toDouble
    val es = breeze.linalg.eigSym(cov) // eigenvalues ascending, eigenvectors as columns

    // greedy balanced allocation on log eigenvalues, largest first
    val order = (0 until dim).sortBy(k => -es.eigenvalues(k))
    val groups = Array.fill(numSub)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val logSum = new Array[Double](numSub)
    order.foreach { k =>
      val g = (0 until numSub)
        .filter(groups(_).length < subDim)
        .minBy(m => (logSum(m), m))
      groups(g) += k
      logSum(g) += math.log(math.max(es.eigenvalues(k), 1e-12))
    }
    val rows = groups.flatten
    val r = Array.tabulate(dim, dim)((out, in) => es.eigenvectors(in, rows(out)).toFloat)

    // codebooks on the rotated sample, same seeded subspace fits
    val rotated = sample.map { v =>
      Array.tabulate(dim) { out =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += r(out)(j) * v(j); j += 1 }
        acc
      }
    }
    val cb = fitSubspaces(numSub) { m =>
      val sub = rotated.map(v => java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      kmeansFit(sub, nCentroids, iters, seed + m).map(_.map(_.toFloat))
    }
    (r, cb)
  }

  /** Apply an OPQ rotation to a vector column — the native
    * [[graft.expressions.RotateVector]] projection. Orthogonality means
    * dot products and norms computed on rotated vectors equal the
    * originals', so every downstream PQ/ADC surface works unchanged.
    */
  def rotate(vec: Column, r: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.RotateVector(
        org.apache.spark.sql.graftbridge.Bridge.expression(vec), r))

  /** Compressed-domain brute-force top-k in the OPQ-rotated space:
    * [[pqTopK]] with both sides pre-rotated by `r` (codebooks must come
    * from [[trainOpqRotation]]). Ranks are directly comparable to the
    * un-rotated exact answer because rotation preserves cosine.
    */
  def opqTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      r: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    def rotated(df: DataFrame) = df.select(col(idCol), rotate(col(vecCol), r).as(vecCol))
    pqTopK(rotated(queries), rotated(candidates), idCol, vecCol, k, codebooks)
  }

  /** Query a prebuilt [[pqResidualIndex]]: per probed cell the score is
    * `(dot(q, cent_cell) + adc(lut, codes)) / (|q| |c|)` — the additive
    * residual decomposition of the dot product. The LUT is the same
    * global per-query table ([[pqLut]] over the residual codebooks);
    * only one extra scalar (`qdot`, precomputed during cell ranking)
    * rides the broadcast, so the probe cost stays M lookups per pair.
    */
  def ivfPqResidualTopKIndexed(
      queries: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarseCents: Array[Array[Float]],
      nprobe: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    val kCents = codebooks(0).length
    val q = queries.select(
        col(idCol).as("query_id"),
        pqLut(col(vecCol), codebooks).as("lut"),
        l2Norm(col(vecCol)).as("q_norm"),
        explode(probeCellsWithDot(col(vecCol), coarseCents, nprobe)).as("pc"))
      .select(col("query_id"), col("lut"), col("q_norm"),
        col("pc.cell").as("cell"), col("pc.qdot").as("qdot"))
    val scored = index
      .join(broadcast(q), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        ((col("qdot") + pqAdcDot(col("lut"), col("codes"), kCents))
          / (col("q_norm") * col("c_norm"))).as("sim"))
    rankTopK(scored, k)
  }

  /** Residual IVF-PQ composed build + query in one lazy plan — the
    * ad-hoc form of [[pqResidualIndex]] + [[ivfPqResidualTopKIndexed]].
    */
  def ivfPqResidualTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarseCents: Array[Array[Float]],
      nprobe: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame =
    ivfPqResidualTopKIndexed(queries,
      pqResidualIndex(candidates, idCol, vecCol, coarseCents, codebooks),
      idCol, vecCol, k, coarseCents, nprobe, codebooks)

  // =====================================================================
  // Semantic deduplication (SemDeDup)
  // =====================================================================

  /** Nearest-cell assignment WITH the vector's cosine to that centroid
    * riding along: struct<cell:int, cent_cos:double>. The SemDeDup keep
    * policy ranks duplicate-cluster members by centroid similarity, and
    * deriving the cosine from the same struct-sort the argmax already
    * pays (dot rides in the struct; the winning entry's dot divides by
    * the two norms) keeps the assignment + policy input ONE projection
    * — no second pass over the centroid array.
    */
  def assignCellWithCos(vec: Column, centroids: Array[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val halfNorm2 = c.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble) / 2.0
      val cnorm = math.sqrt(2.0 * halfNorm2)
      struct(
        (lit(0.0) - (dot(vec, typedLit(c)) - lit(halfNorm2))).as("negscore"),
        lit(i).as("cell"),
        (dot(vec, typedLit(c)) / (l2Norm(vec) * lit(cnorm))).as("cent_cos"))
    }
    // the duplicate dot(vec, c) per centroid is shared by codegen CSE
    // (both references are the same canonicalized subtree)
    val best = array_sort(array(scored.toSeq: _*)).getItem(0)
    struct(best.getField("cell").as("cell"), best.getField("cent_cos").as("cent_cos"))
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): vectors are blocked by their nearest coarse
    * centroid and only SAME-CELL pairs are scored — the paper's
    * within-cluster pairwise search, here a cell-keyed self-join (never
    * an all-pairs cross join; K cells cut candidate work to ~1/K of
    * quadratic, the same blocking economics as the LSH tier). Each
    * candidate pair is verified with the exact codegen'd cosine; output
    * (a_id, b_id, cosine) at or above the threshold.
    *
    * Same ReusedExchange + shuffle_hash stance as
    * [[cosineNearDuplicates]]: one narrow (id, vec, norm, cell)
    * projection computed once, shuffle-file-backed, AQE free to split a
    * skewed cell. Centroids are caller-supplied
    * (bring-your-own-quantizer, like [[ivfWithCentroids]]) so the full
    * mechanism is deterministic given the centroids — [[trainCentroids]]
    * is the usual source.
    */
  def semanticDuplicatePairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      thresholdPct: Int
  ): DataFrame = {
    val t = vectors.select(
      col(idCol).as("vid"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("nrm"), assignCell(col(vecCol), cents).as("cell"))
    val a = t.select(col("vid").as("a_id"), col("cell"), col("vec").as("a_vec"), col("nrm").as("a_norm"))
    val b = t.select(col("vid").as("b_id"), col("cell"), col("vec").as("b_vec"), col("nrm").as("b_norm"))
    a.join(b.hint("shuffle_hash"), "cell")
      .where(col("a_id") < col("b_id"))
      // guard, don't divide: a zero-norm vector has no defined cosine —
      // NULL it (the decontaminateByEmbedding stance), so such rows
      // pair with nothing instead of faulting ANSI's divide-by-zero
      .select(
        col("a_id"), col("b_id"),
        when(col("a_norm") * col("b_norm") > 0,
          dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("cos"))
      .where(col("cos") * 100 >= thresholdPct)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Incremental SemDeDup pairing — the semantic sibling of
    * [[graft.operators.Dedup.fingerprintNearDuplicatesIncremental]]:
    * cosine duplicate pairs of a daily increment against the indexed
    * corpus plus within the increment, with corpus × corpus candidates
    * NEVER generated. The coarse centroids are FROZEN (the
    * trained-model stance shared with [[updatePqIndex]]): both sides
    * assign to the same caller-supplied cells, so an increment vector
    * probes exactly the corpus cell it would have landed in at build
    * time — re-fitting per delta would silently reshuffle blocks and
    * change which pairs are even candidates. One tagged-union join:
    * the probe side is the increment's cell relation (hinted
    * `shuffle_hash` — the hinted relation is the hash-join BUILD side,
    * and the build table must be the small relation in the
    * corpus-dwarfs-increment regime this operator exists for), the
    * other side is corpus ∪ increment, and the membership-dependent
    * rule (corpus matches in any order, increment-internal matches
    * only as a < b) is a residual filter on the tag. Exact codegen'd
    * cosine verifies every candidate, as in [[semanticDuplicatePairs]].
    * Output: (a_id, b_id, cosine) with `a_id` always the
    * increment-side vector. Increment ids must be new — re-submitting
    * an indexed id double-reports its pairs, the same contract as
    * every incremental tier.
    */
  def semanticDuplicatePairsIncremental(
      increment: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      thresholdPct: Int
  ): DataFrame = {
    def rel(df: DataFrame) = df.select(
      col(idCol).as("vid"), col(vecCol).as("vec"),
      l2Norm(col(vecCol)).as("nrm"), assignCell(col(vecCol), cents).as("cell"))
    val ri = rel(increment)
    val a = ri.select(col("vid").as("a_id"), col("cell"),
      col("vec").as("a_vec"), col("nrm").as("a_norm"))
    val b = rel(corpus).select(col("vid").as("b_id"), col("cell"),
        col("vec").as("b_vec"), col("nrm").as("b_norm"), lit(false).as("b_inc"))
      .unionByName(ri.select(col("vid").as("b_id"), col("cell"),
        col("vec").as("b_vec"), col("nrm").as("b_norm"), lit(true).as("b_inc")))
    a.hint("shuffle_hash").join(b, Seq("cell"))
      .where(!col("b_inc") || col("a_id") < col("b_id"))
      // zero-norm guard: NULL cosine pairs with nothing (the batch
      // form's stance, shared so the differential law holds verbatim)
      .select(
        col("a_id"), col("b_id"),
        when(col("a_norm") * col("b_norm") > 0,
          dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("cos"))
      .where(col("cos") * 100 >= thresholdPct)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** SemDeDup survivor selection: [[semanticDuplicatePairs]] →
    * connected components ([[graft.operators.Dedup.duplicateClusters]])
    * → per duplicate cluster keep the member FARTHEST from its cell
    * centroid (the paper's keep-low-centroid-similarity policy: the
    * most prototypical copies are the most redundant with the cluster,
    * so the outlier copy carries the most training signal), ties to the
    * lower id. Output: the surviving rows of `vectors`, schema
    * unchanged.
    *
    * Scale shape: the keep policy is one min-of-struct hash aggregate
    * over (cluster_id) — the ordering key (cent_cos, id) rides the
    * cluster relation, which is bounded by the number of DUPLICATED
    * vectors, not the corpus — and removal is a broadcast-able
    * left-anti join, exactly the [[graft.operators.Dedup.dedupedCorpus]]
    * stance with a policy key swapped in for min-id.
    */
  def semDedupSurvivors(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      thresholdPct: Int
  ): DataFrame = {
    val pairs = semanticDuplicatePairs(vectors, idCol, vecCol, cents, thresholdPct)
      .select("a_id", "b_id")
    val clusters = graft.operators.Dedup.duplicateClusters(pairs)
    val policy = vectors.select(
      col(idCol).as("id"),
      assignCellWithCos(col(vecCol), cents).getField("cent_cos").as("cent_cos"))
    val members = clusters.join(policy, Seq("id"))
    // the (cent_cos, id) argmin as TWO hash aggregates + a join rather
    // than one min(struct): a struct buffer is not hash-aggregable, so
    // the single-aggregate form planned a SortAggregate — a per-
    // partition sort of the member relation on every run. Equivalent by
    // the struct ordering's lexicographic definition: min cent_cos
    // first, then min id among exactly the rows carrying it (cent_cos
    // is never NULL here — cluster members verified with a positive
    // norm product — and Spark's min/equality agree on NaN and signed
    // zero, so the tie set matches the struct comparison's). The member
    // relation's join exchanges canonicalize, so the corpus-side
    // centroid scoring still evaluates once.
    val minCos = members
      .groupBy(col("cluster_id"))
      .agg(min(col("cent_cos")).as("min_cos"))
    val keepers = members.join(minCos, Seq("cluster_id"))
      .where(col("cent_cos") === col("min_cos"))
      .groupBy(col("cluster_id"))
      .agg(min(col("id")).as("keep_id"))
    val losers = members.join(keepers, Seq("cluster_id"))
      .where(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    vectors.join(losers, Seq(idCol), "left_anti")
  }

  /** Query a prebuilt [[pqIndex]] relation: queries project their ADC
    * table + probe cells, the cell join prunes, ADC scores, bounded
    * top-k ranks — no candidate vector anywhere in the plan.
    */
  def ivfPqTopKIndexed(
      queries: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarseCents: Array[Array[Float]],
      nprobe: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    val kCents = codebooks(0).length
    val q = queries.select(
      col(idCol).as("query_id"),
      pqLut(col(vecCol), codebooks).as("lut"),
      l2Norm(col(vecCol)).as("q_norm"),
      explode(probeCells(col(vecCol), coarseCents, nprobe)).as("cell"))
    val scored = index
      .join(broadcast(q), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (pqAdcDot(col("lut"), col("codes"), kCents) / (col("q_norm") * col("c_norm"))).as("sim"))
    rankTopK(scored, k)
  }

  /** Two-stage serve over a prebuilt [[pqIndex]]: the compressed index
    * produces an ADC shortlist of `shortlist` candidates per query,
    * then only those (query, candidate) pairs are re-scored with EXACT
    * cosine against the raw `corpus` vectors — the standard
    * quantized-recall/exact-precision split (FAISS's refine stage; the
    * same exact-verify-on-candidates stance every blocked pairing tier
    * here takes). ADC quantization error can reorder
    * or drop true neighbors; re-ranking repairs ordering within the
    * shortlist at the cost of fetching `queries x shortlist` raw
    * vectors.
    *
    * Scale shape: the shortlist relation is (numQueries x shortlist)
    * rows — a serve batch, bounded and explicitly broadcast — so the
    * join back to the corpus is one broadcast hash join against the
    * corpus scan (no shuffle of the corpus), the query side broadcasts
    * as in every serve path, and the final ranking is the bounded
    * O(k)-state top-k aggregate. One corpus scan per serve batch; a
    * deployment with a point-lookup vector store would replace that
    * scan, not this plan's shape.
    *
    * Output: (query_id, rank, neighbor_id), rank by exact cosine,
    * ties to the lower neighbor_id.
    */
  def ivfPqTopKReranked(
      queries: DataFrame,
      index: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int,
      coarseCents: Array[Array[Float]],
      nprobe: Int,
      codebooks: Array[Array[Array[Float]]]
  ): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be at least k ($k): the exact re-rank can only ever return shortlist candidates")
    val cand = ivfPqTopKIndexed(
        queries, index, idCol, vecCol, shortlist, coarseCents, nprobe, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"), l2Norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), l2Norm(col(vecCol)).as("c_norm"))
    exactCosineTopK(
      c.join(broadcast(cand), "neighbor_id").join(broadcast(q), "query_id"), k)
  }
}
