package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Training-pipeline tier: dedup + similarity semantics on crafted data. */
class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy dog", "en"),  // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "en"),  // near-dup of 0
    (3L, "completely different words about spark engines here", "en"),
    (4L, "lone", "en")                                          // single token: no shingles
  ).toDF("doc_id", "text", "lang")

  test("exactGroups collapses identical texts to one keeper") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dupGroup = groups.find(_.getAs[Long]("n_dupes") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    assert(groups.length == 4) // 5 docs, one pair collapsed
  }

  test("minhash LSH surfaces exact and near dups as candidate pairs") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing from $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), s"near dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $pairs")
  }

  test("driver and distributed clustering pick identical representatives for non-ASCII ids") {
    // U+FFFD is one UTF-16 code unit (0xFFFD); U+1F600 is a surrogate
    // pair whose lead unit 0xD83D sorts BELOW it — so String.compareTo
    // (UTF-16 code units) and Spark's UTF8String (UTF-8 bytes / code
    // points) order these two ids OPPOSITELY. The driver union-find gate
    // must agree with the distributed min() on which one represents the
    // cluster.
    val bmp = "\uFFFD-doc"
    val astral = new String(Character.toChars(0x1F600)) + "-doc"
    val pairs = Seq((bmp, astral)).toDF("a_id", "b_id")
    def labels(maxDriverEdges: Long) =
      Dedup.duplicateClusters(pairs, maxDriverEdges = maxDriverEdges)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaDriver = labels(500000L)
    val viaDistributed = labels(0L)
    assert(viaDriver == viaDistributed,
      s"regimes diverged: driver=$viaDriver distributed=$viaDistributed")
    // and the agreed representative is the UTF-8-smaller id
    assert(viaDriver == Set((bmp, bmp), (astral, bmp)), s"got $viaDriver")
  }

  test("rolling window fingerprints equal exactly when window content equals") {
    import org.apache.spark.sql.functions.{col, split}
    // "x y z" repeats at 1-based positions 1 and 5; every other window
    // differs — keys must agree exactly on the repeat and nowhere else
    val d = Seq((1L, "x y z w x y z")).toDF("id", "text")
    val keys = d.select(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expressions.RollingTokenHashes(
          org.apache.spark.sql.graftbridge.Bridge.expression(split(col("text"), " ")), 3)))
      .head().getSeq[Long](0)
    assert(keys.length == 5)
    assert(keys(0) == keys(4), s"identical windows got different keys: $keys")
    assert(keys.distinct.length == 4, s"distinct windows collided: $keys")
    // shorter than the span: empty, not null and not a partial window
    val short = Seq((2L, "a b")).toDF("id", "text")
      .select(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expressions.RollingTokenHashes(
          org.apache.spark.sql.graftbridge.Bridge.expression(split(col("text"), " ")), 3)))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
    // SQL registration + arity/literal guards
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT graft_rolling_span_hashes(split('x y z w x y z', ' '), 3)")
      .head().getSeq[Long](0)
    assert(viaSql == keys, "SQL route diverged from the programmatic expression")
    intercept[IllegalArgumentException] {
      spark.sql("SELECT graft_rolling_span_hashes(split('a b', ' '))").collect()
    }
  }

  test("repeatedSpans reports every occurrence of cross-doc verbatim windows") {
    val d = Seq(
      (1L, "a b c d e tail one"),       // shares "a b c d e" with 2 and 3
      (2L, "head a b c d e"),
      (3L, "a b c d e"),
      (4L, "a b c d x y z"),            // no full 5-token window repeats
      (5L, "short doc"),                // below spanTokens: dropped
      (6L, null.asInstanceOf[String])   // null text: dropped
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, "doc_id", "text", spanTokens = 5, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one fingerprint, three occurrences, at the right 1-based positions
    assert(out.map(_._3).toSet.size == 1, s"expected one repeated span, got $out")
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 1L), (2L, 2L), (3L, 1L)), s"got $out")
    // the with-text surface re-derives the actual repeated passage
    val withText = Dedup.repeatedSpansWithText(d, "doc_id", "text", spanTokens = 5, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(withText.map(_._3).toSet == Set("a b c d e"), s"got $withText")
    assert(withText.map(t => (t._1, t._2)).toSet == Set((1L, 1L), (2L, 2L), (3L, 1L)), s"got $withText")
    // minDocs counts DISTINCT docs: a span repeated twice inside ONE doc
    // does not qualify
    val selfRep = Seq((7L, "p q r s t u p q r s t u")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(selfRep, "doc_id", "text", spanTokens = 5, minDocs = 2).isEmpty)
    // loud failures on bad parameters
    intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(d, "doc_id", "text", spanTokens = 0): Unit
    }
    intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(d, "doc_id", "text", minDocs = 1): Unit
    }
  }

  test("cutRepeatedSpans removes covered tokens and counts the cut") {
    val d = Seq(
      (1L, "a b c d e tail one"),
      (2L, "head a b c d e"),
      (3L, "a b c d e"),                 // entirely one repeated span -> ''
      (4L, "nothing shared here at all"),
      (5L, null.asInstanceOf[String])    // null text stays null
    ).toDF("doc_id", "text")
    val out = Dedup.cutRepeatedSpans(d, "doc_id", "text", spanTokens = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(out(1L) == ("tail one", 5), s"got $out")
    assert(out(2L) == ("head", 5), s"got $out")
    assert(out(3L) == ("", 5), s"got $out")
    assert(out(4L) == ("nothing shared here at all", 0), s"got $out")
    assert(out(5L) == (null, -1), s"got $out")
  }

  test("native span cut matches the HOF probe form, including the template-page worst case") {
    // deterministic pseudo-random docs + start lists, plus the worst
    // case the merge scan exists for: a "template page" whose EVERY
    // window is a distinct repeated span (all-distinct-spans start
    // list 1..n-w+1) — the exists() probe is O(tokens x spans) there,
    // the merge scan O(tokens + spans); both must agree exactly
    val spanW = 3
    def mix(a: Long, b: Long): Long = { // splitmix-style, no RNG state
      var z = a * 0x9E3779B97F4A7C15L + b
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & Long.MaxValue
    }
    val cases = (0 until 60).map { i =>
      val n = (mix(i, 1) % 40 + 1).toInt
      val toks = (0 until n).map(t => s"t${mix(i, t + 2) % 7}")
      // sorted distinct subset of 1..n+2 (some starts past the end)
      val starts = (1 to n + 2).filter(p => mix(i, p * 31) % 3 == 0).map(_.toLong)
      (i.toLong, toks, starts)
    } :+ {
      val n = 300 // worst case: every position starts a span
      (1000L, (0 until n).map(t => s"w$t").toSeq, (1L to (n - spanW + 1).toLong).toSeq)
    } :+ (1001L, Seq("a", "b"), Seq.empty[Long]) // empty start list
    val df = cases.toDF("id", "cut_toks", "span_starts")
    val native = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.CutSpannedTokens(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("cut_toks")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("span_starts").cast("array<bigint>")),
        spanW))
    val mismatches = df.select(
      col("id"),
      native.as("fast"),
      expr(s"""filter(cut_toks,
            (t, i) -> NOT coalesce(
              exists(span_starts, s -> i + 1 >= s AND i + 1 <= s + ${spanW - 1}),
              false))""").as("ref"))
      .where(not(col("fast") <=> col("ref")))
      .collect()
    assert(mismatches.isEmpty,
      s"native cut disagrees with the probe form on: ${mismatches.mkString(", ")}")
    // arity/literal guards on the SQL registration
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_cut_spans(array('a'), array(CAST(1 AS BIGINT)), 2.5)").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("simhash: identical docs identical, near-dups close in hamming") {
    val fps = Dedup.simhash(docs, "doc_id", "text", 16).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fps(0L) == fps(1L))
    val hammingNear = Integer.bitCount(fps(0L) ^ fps(2L))
    val hammingFar = Integer.bitCount(fps(0L) ^ fps(3L))
    assert(hammingNear <= hammingFar, s"near=$hammingNear far=$hammingFar")
  }

  test("simhash banded pairing equals the brute-force Hamming scan exactly") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fp = Dedup.simhash(corpus, "doc_id", "text", 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    def brute(maxH: Int) = (for {
      (ida, fa) <- fp
      (idb, fb) <- fp
      if ida < idb
      h = Integer.bitCount(fa ^ fb)
      if h <= maxH
    } yield (ida, idb, h)).toSet
    // pigeonhole completeness + popcount exactness at the default radius
    val banded2 = Dedup.simhashNearDuplicates(corpus, "doc_id", "text", 16, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded2 == brute(2),
      s"banded != brute: only-banded=${banded2 -- brute(2)} only-brute=${brute(2) -- banded2}")
    assert(banded2.nonEmpty)
    // radius 0 degenerates to exact-fingerprint pairs (one band = whole
    // fingerprint)
    val banded0 = Dedup.simhashNearDuplicates(corpus, "doc_id", "text", 16, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded0 == brute(0))
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDuplicates(corpus, "doc_id", "text", bits = 16, maxHamming = 16): Unit
    }
  }

  test("simhash bits guidance: chance-pair birthday term and corpus-size-derived width") {
    // the closed form: C(n,2) * V(b,h) / 2^b with V the Hamming ball
    val expected1k16 = 1000.0 * 999 / 2 * (1 + 16 + 120) / math.pow(2, 16)
    assert(math.abs(Dedup.simhashChancePairs(1000, 16, 2) - expected1k16) < 1e-6,
      s"got ${Dedup.simhashChancePairs(1000, 16, 2)}, want $expected1k16")
    // ~1 chance pair PER DOC at only 1k docs: 16 bits is a toy width
    assert(expected1k16 > 1000)
    // the guidance is monotone in corpus size and lands on the
    // hand-computed widths (0.05 pairs/doc default tolerance)
    assert(Dedup.simhashBitsFor(40) == 16)
    assert(Dedup.simhashBitsFor(1000) == 22)
    assert(Dedup.simhashBitsFor(60000) == 28)
    assert(Dedup.simhashBitsFor(800000) == 32)
    val widths = Seq(10L, 100L, 1000L, 10000L, 100000L).map(Dedup.simhashBitsFor(_))
    assert(widths == widths.sorted, s"bits must grow with corpus size: $widths")
    // past 32 bits' reach the guidance REFUSES with the remedy instead
    // of returning a width that drowns in chance pairs
    val e = intercept[IllegalArgumentException] { Dedup.simhashBitsFor(10_000_000) }
    assert(e.getMessage.contains("MinHash") &&
      e.getMessage.contains("collapse exact duplicates"), e.getMessage)
    // the widened fingerprint actually pairs: exact dups at hamming 0
    val pairs32 = Dedup.simhashNearDuplicates(docs, "doc_id", "text", bits = 32,
      maxHamming = 2).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs32.contains((0L, 1L, 0)), pairs32.mkString(", "))
  }

  test("jaccardPairs computes word-set jaccard above threshold") {
    // doc0 vs doc2: |intersect|=7 of |union|=9 distinct words -> 0.7778
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 70)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) && math.abs(pairs((0L, 2L)) - 7.0 / 9.0) < 1e-6)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("trained IVF recall clears its pinned floors and grows with nprobe") {
    // the second configuration the recall gate needs: similarity_recall
    // value-grades nprobe=4 per round, but a quantizer regression could
    // hide behind multi-probe over-fetch — so pin the single-cell
    // (nprobe=1) floor AND probe monotonicity here. Measured at
    // sf0.001: nprobe=1 0.336, nprobe=2 0.58, nprobe=4 0.76-0.78; the
    // floors sit under the band with noise margin, and a random 1/8
    // cell scan would sit near 0.125.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 25)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    val total = exact.count().toDouble
    def recallAt(nprobe: Int): Double =
      exact.intersect(
        Similarity.ivfTrainedTopK(q, emb, "vec_id", "embedding", 10, 8, nprobe)
          .select("query_id", "neighbor_id")
      ).count() / total
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    assert(r1 >= 0.2, f"nprobe=1 recall $r1%.3f under the 0.2 floor — quantizer regressed")
    assert(r4 >= Similarity.RecallFloor,
      f"nprobe=4 recall $r4%.3f under the pinned ${Similarity.RecallFloor} floor")
    assert(r4 > r1, f"recall not improving with probes: nprobe=1 $r1%.3f vs nprobe=4 $r4%.3f")
  }

  test("ivfWithCentroids probing every cell equals brute force exactly") {
    // the exhaustive-probe identity: with nprobe = #centroids the cell
    // join visits every candidate, so IVF must reproduce the exact
    // answer rank for rank — any divergence means the mechanism
    // (assignment, probe, join, bounded top-k) drops or duplicates
    // candidates; with nprobe=1 the scan must PRUNE (fewer scored
    // pairs than the full cross product)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val cents = emb.where(col("vec_id") < 6).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val full = Similarity.ivfWithCentroids(q, emb, "vec_id", "embedding", 5, cents, nprobe = 6)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
    assert(full.except(exact).isEmpty && exact.except(full).isEmpty,
      "exhaustive-probe IVF diverged from brute force")
    val pruned = Similarity.ivfWithCentroids(q, emb, "vec_id", "embedding", 5, cents, nprobe = 1)
    val prunedPairs = pruned.count()
    assert(prunedPairs > 0 && prunedPairs <= exact.count(),
      s"nprobe=1 returned $prunedPairs ranked rows")
  }

  test("bruteForceTopK ranks by cosine with self excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // closest to 0
      (2L, Array(0.0f, 1.0f)),   // orthogonal to 0
      (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L, 3L, 2L))
  }

  test("ivfTopK only searches the query's cell") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.95f, 0.05f), 1) // closer, but in another cell
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfTopK(vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", "label", 5)
      .collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L))
  }

  test("lshBuckets: identical vectors share a bucket, deterministic across runs") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.0f, -2.0f, -3.0f))
    ).toDF("vec_id", "embedding")
    val b1 = Similarity.lshBuckets(vecs, "vec_id", "embedding", 8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b2 = Similarity.lshBuckets(vecs, "vec_id", "embedding", 8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b1 == b2)
    assert(b1(0L) == b1(1L))
    assert(b1(0L) != b1(2L)) // antipodal vector flips every plane sign
  }

  test("trained IVF: deterministic centroids, total cell cover, top-nprobe probes") {
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // same seed + sample -> identical centroids (partition-invariant fit)
    val c1 = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val c2 = Similarity.trainCentroids(emb.repartition(7), "vec_id", "embedding", k = 8)
    assert(c1.length == 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "centroids depend on partitioning")
    // every vector lands in a valid cell
    val cells = emb.select(Similarity.assignCell(col("embedding"), c1).as("cell"))
      .groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells.keySet.forall(c => c >= 0 && c < 8), s"invalid cell ids: ${cells.keySet}")
    assert(cells.values.sum == emb.count())
    // probeCells returns nprobe distinct cells, the first being the own cell
    val probes = emb.limit(10).select(
      Similarity.assignCell(col("embedding"), c1).as("own"),
      Similarity.probeCells(col("embedding"), c1, 3).as("probes")
    ).collect()
    probes.foreach { r =>
      val ps = r.getSeq[Int](1)
      assert(ps.length == 3 && ps.distinct.length == 3, s"probes not distinct: $ps")
      assert(ps.head == r.getInt(0), s"first probe ${ps.head} is not the own cell ${r.getInt(0)}")
    }
  }

  test("cosineNearDuplicates finds same-bucket high-cosine pairs only") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.01f, 2.01f, 3.01f)), // near-parallel to 0 -> cos ~ 1
      (2L, Array(-1.0f, -2.0f, -3.0f)), // antipodal: different bucket
      (3L, Array(5.0f, 0.1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDuplicates(vecs, "vec_id", "embedding", nPlanes = 4, thresholdPct = 95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.99), s"near-dup pair missing: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"antipodal vector paired: ${pairs.toSeq}")
    // verified pairs are drawn from same-bucket candidates
    val buckets = Similarity.lshBuckets(vecs, "vec_id", "embedding", 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.forall(p => buckets(p._1) == buckets(p._2)))
  }

  test("nearDuplicatesCollapsed runs LSH over exact-dup representatives only") {
    // docs 0 and 1 are exact dups -> one representative (0); near pair
    // (0,2) survives, and no pair involves the collapsed member 1
    val pairs = Dedup.nearDuplicatesCollapsed(docs, "doc_id", "text", 8, 2, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 2L)), s"got $pairs")
    // the uncollapsed form reports the exact pair too
    val full = Dedup.nearDuplicates(docs, "doc_id", "text", 8, 2, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((0L, 1L)) && full.contains((0L, 2L)))
  }

  test("duplicateClusters finds connected components with min-id labels") {
    // components: {1,2,3,4} via a chain (diameter 3, forces >1 iteration),
    // {10,11}, and 20-21 unconnected to 1..4
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L)
    ).toDF("a_id", "b_id")
    val labels = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("updateClusters merges a delta like a from-scratch run, including cluster bridges") {
    // yesterday's clustering: {1,2,3} -> 1, {10,11} -> 10, {20,21} -> 20,
    // {40,41} -> 40 (the untouched control)
    val oldPairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (40L, 41L)
    ).toDF("a_id", "b_id")
    val existing = Dedup.duplicateClusters(oldPairs)
    // today's increment: a BRIDGE joining clusters 1 and 10, a brand-new
    // pair {30,31}, and a new doc 22 joining cluster 20
    val incPairs = Seq((3L, 10L), (30L, 31L), (22L, 21L)).toDF("a_id", "b_id")
    val want = Dedup.duplicateClusters(oldPairs.unionByName(incPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L,
      40L -> 40L, 41L -> 40L), s"from-scratch ground truth surprised: $want")
    for (gate <- Seq(500000L, 0L)) { // driver union-find AND forced-distributed merge
      val got = Dedup.updateClusters(existing, incPairs, maxDriverEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"gate=$gate: incremental merge diverged: $got")
    }
    // an increment touching NOTHING existing leaves old labels verbatim
    // and only adds the new component
    val onlyNew = Dedup.updateClusters(existing, Seq((30L, 31L)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oldLabels = existing.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onlyNew == oldLabels ++ Map(30L -> 30L, 31L -> 30L), s"got $onlyNew")
  }

  test("removeFromClusters: bridge removal splits, survivors relabel, untouched stay verbatim") {
    // {1,2,3} chained through bridge 2; {10,11,12} a triangle; {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("a_id", "b_id")
    val existing = Dedup.duplicateClusters(pairs)
    val got = Dedup.removeFromClusters(existing, pairs, Seq(2L, 10L, 99L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // removing bridge 2 dissolves {1,3} (no surviving pair — both leave,
    // as a from-scratch run would have them); removing 10 from the
    // triangle leaves {11,12} relabeled to its own min member; 99 was
    // never clustered (no-op); {20,21} is untouched verbatim
    assert(got == Map(11L -> 11L, 12L -> 11L, 20L -> 20L, 21L -> 20L), s"got $got")
    // empty removal set: the clustering passes through unchanged
    val noop = Dedup.removeFromClusters(existing, pairs, spark.emptyDataset[Long].toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orig = existing.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == orig, s"empty removal changed the clustering: $noop vs $orig")
  }

  test("updateClusters churn is corpus-size invariant: Nx more clusters change nothing it touches") {
    // the 100 TB law behind the churn-sized CC: replicate the existing
    // clustering N times (disjoint id blocks) while the increment keeps
    // touching only block-0 clusters — the merge must (a) equal a
    // from-scratch clustering of the union graph at every scale and
    // (b) relabel EXACTLY the affected members + new ids, so the
    // untouched (N-1)/N of the corpus provably never enters the loop
    def blockPairs(n: Int): Seq[(Long, Long)] =
      (0 until n).flatMap { blk =>
        val o = blk * 1000L
        Seq((o + 1, o + 2), (o + 2, o + 3), (o + 10, o + 11), (o + 20, o + 21))
      }
    val incPairs = Seq((3L, 10L), (21L, 30L)).toDF("a_id", "b_id") // bridge + new doc
    for (n <- Seq(1, 25)) {
      val oldPairs = blockPairs(n).toDF("a_id", "b_id")
      val existing = Dedup.duplicateClusters(oldPairs)
      val merged = Dedup.updateClusters(existing, incPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Dedup.duplicateClusters(oldPairs.unionByName(incPairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == want, s"n=$n: merge diverged from from-scratch")
      val old = existing.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val changed = merged.filter { case (id, l) => old.get(id) != Some(l) }.keySet
      // affected: clusters {1,2,3} and {10,11} merge (10, 11 relabel to 1);
      // {20,21} gains new doc 30 — regardless of N, nothing else moves
      assert(changed == Set(10L, 11L, 30L),
        s"n=$n: relabel set must be churn-sized and block-0-only, got $changed")
    }
  }

  test("bounded top-k excludes NaN scores regardless of arrival order") {
    // a NaN compares false both ways: admitted, it would squat in the
    // buffer and reject later elements depending on arrival order
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, 0.9), (1L, 13L, Double.NaN)
    ).toDF("query_id", "neighbor_id", "sim")
    val top = scored.groupBy("query_id")
      .agg(Similarity.topKAgg(col("sim"), col("neighbor_id"), 2).as("top"))
      .select(explode(col("top")).as("e")).select("e.neighbor_id")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(12L, 10L), s"NaN leaked into the top-k: $top")
  }

  test("skew-safe LSH emits exactly the plain candidate set, each pair once") {
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plain = Dedup.lshCandidatePairs(d, "doc_id", "text", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val safe = Dedup.lshCandidatePairsSkewSafe(d, "doc_id", "text", 8, 2, nGroups = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.length == plain.toSet.size && safe.length == safe.toSet.size,
      "duplicate pairs emitted")
    assert(safe.toSet == plain.toSet,
      s"skew-safe candidates diverge: missing=${(plain.toSet -- safe).take(5)} extra=${(safe.toSet -- plain).take(5)}")
    assert(plain.nonEmpty)
  }

  test("incremental near-dup finds exactly the full-corpus pairs touching the increment") {
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val inc = d.where(col("doc_id") % 10 === 0)
    val corp = d.where(col("doc_id") % 10 =!= 0)
    val incIds = inc.select("doc_id").collect().map(_.getLong(0)).toSet
    val incremental = Dedup.incrementalNearDuplicates(inc, corp, "doc_id", "text", 8, 2, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a_id is always an increment doc; corpus x corpus pairs never appear
    assert(incremental.forall { case (a, _) => incIds.contains(a) },
      s"non-increment a_id emitted: ${incremental.filterNot(p => incIds.contains(p._1)).take(3)}")
    // reference: full-corpus near-dups, restricted to pairs touching the
    // increment, re-oriented so the increment doc is a_id
    val full = Dedup.nearDuplicates(d, "doc_id", "text", 8, 2, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.flatMap { case (x, y) =>
      (incIds.contains(x), incIds.contains(y)) match {
        case (true, _)      => Some((x, y)) // inc-inc keeps x<y; inc-corpus keeps orientation
        case (false, true)  => Some((y, x))
        case (false, false) => None
      }
    }
    assert(incremental == expected,
      s"missing=${(expected -- incremental).take(3)} extra=${(incremental -- expected).take(3)}")
    assert(incremental.nonEmpty)
  }

  test("nearDuplicates composes with the skew-safe pair generator unchanged") {
    // the skew posture is a parameter of the end-to-end chain, and it
    // must not change WHAT is computed — only how the quadratic pair
    // output is distributed across tasks
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val viaPlain = Dedup.nearDuplicates(d, "doc_id", "text", 8, 2, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaTriangle = Dedup.nearDuplicates(d, "doc_id", "text", 8, 2, 40,
        pairGenerator = Dedup.lshCandidatePairsSkewSafe(_, _, _, _, _, nGroups = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPlain.nonEmpty)
    assert(viaTriangle == viaPlain,
      s"triangle-composed verify diverges: missing=${(viaPlain -- viaTriangle).take(3)} " +
        s"extra=${(viaTriangle -- viaPlain).take(3)}")
    // the collapsed capstone accepts the generator too
    val collapsed = Dedup.nearDuplicatesCollapsed(d, "doc_id", "text", 8, 2, 40,
        pairGenerator = Dedup.lshCandidatePairsSkewSafe(_, _, _, _, _, nGroups = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(collapsed.nonEmpty)
  }

  test("duplicateClusters checkpoints each iteration to reliable storage") {
    // localCheckpoint truncates lineage into executor-resident blocks:
    // on a cluster, losing one executor mid-loop makes later iterations
    // unrecoverable. Reliable checkpointing writes each iteration's
    // labels to the checkpoint-dir FILESYSTEM, where any executor can
    // re-read them after a peer is lost — so recovery is a task retry,
    // not a pipeline rerun. Locally we assert the durable half of that
    // contract: a preset checkpoint dir receives rdd-* part files
    // during the loop.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt-spec")
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      // maxDriverEdges = 0 forces the distributed loop — the small-graph
      // driver short-circuit writes no checkpoints (nothing to recover)
      val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val labels = Dedup.duplicateClusters(pairs, maxDriverEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 10 && labels.values.forall(_ == 0L))
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toList
      assert(files.nonEmpty, s"no reliable checkpoint files written under $dir")
    } finally {
      prev.foreach(spark.sparkContext.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
    }
  }

  test("duplicateClusters and dedupedCorpus handle an empty pair list") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.duplicateClusters(empty).collect().isEmpty)
    assert(Dedup.dedupedCorpus(docs, "doc_id", empty).count() == docs.count())
  }

  test("duplicateClusters converges on a long path beyond one hop") {
    // path 9-8-7-...-0: min label must walk the whole diameter.
    // Run BOTH code paths: the driver union-find (default gate, this
    // graph is tiny) and the forced distributed delta iteration must
    // produce identical labelings.
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    for (gate <- Seq(500000L, 0L)) {
      val labels = Dedup.duplicateClusters(pairs, maxDriverEdges = gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 10 && labels.values.forall(_ == 0L), s"gate=$gate")
    }
    // multi-component + string ids through the driver path: per-component
    // minimum is picked independently, ordering is the column ordering
    val sp = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("a_id", "b_id")
    val sl = Dedup.duplicateClusters(sp).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sl == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("a non-converging cluster run releases the cached edge relation") {
    // maxIter = 0 on the forced-distributed path skips the loop and
    // fires the non-convergence throw — the finally must still release
    // the persisted edge relation, or every failed run leaks executor
    // storage for the rest of the session
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxIter = 0, maxDriverEdges = 0L)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before, s"leaked ${after - before} cached relation(s)")
    // and with maxIter = 1 on a path too long to converge in one round:
    // a REAL iteration runs (frontier join, checkpoint, convergence
    // probe) before the throw, so the cleanup is proven against the
    // loop's own allocations, not just the init path
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxIter = 1, maxDriverEdges = 0L)
    }
    val after1 = spark.sparkContext.getPersistentRDDs.size
    assert(after1 == before, s"looped run leaked ${after1 - before} cached relation(s)")
  }

  test("dedupedCorpus keeps one doc per cluster plus unpaired docs") {
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", 8, 2, 40)
    val kept = Dedup.dedupedCorpus(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0,1,2 form one near-dup cluster -> keep 0; 3 and 4 unpaired
    assert(kept == Set(0L, 3L, 4L))
  }

  test("PQ mechanism is exact under hand-built codebooks") {
    import org.apache.spark.sql.functions.col
    // 2 subspaces of 2 dims, 2 centroids each — every value checkable
    // by hand. Subspace 0: centroids (0,0) and (10,10); subspace 1:
    // centroids (1,0) and (0,1).
    val cb: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(10f, 10f)),
      Array(Array(1f, 0f), Array(0f, 1f)))
    val vecs = Seq(
      (0L, Seq(9f, 9f, 0.9f, 0.1f)),  // codes (1, 0)
      (1L, Seq(1f, 1f, 0.2f, 0.8f)),  // codes (0, 1)
      (2L, Seq(10f, 10f, 0f, 1f))     // ON centroids: codes (1, 1)
    ).toDF("vec_id", "embedding").select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

    val coded = vecs.select(col("vec_id"),
      Similarity.pqCodes(col("embedding"), cb).as("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(coded(0L) == Seq(1.toByte, 0.toByte), s"doc 0 codes ${coded(0L)}")
    assert(coded(1L) == Seq(0.toByte, 1.toByte), s"doc 1 codes ${coded(1L)}")
    assert(coded(2L) == Seq(1.toByte, 1.toByte), s"doc 2 codes ${coded(2L)}")

    // LUT layout for query q = (1, 2, 3, 4): flattened [m*K + j] =
    // dot(q_sub_m, cb[m][j]) -> [0*1+0*2=0... ] explicitly:
    //   m=0: dot((1,2),(0,0))=0, dot((1,2),(10,10))=30
    //   m=1: dot((3,4),(1,0))=3, dot((3,4),(0,1))=4
    val q = Seq((9L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val lut = q.select(Similarity.pqLut(col("embedding"), cb).as("lut"))
      .head().getSeq[Float](0)
    assert(lut == Seq(0f, 30f, 3f, 4f), s"lut $lut")

    // ADC = lut lookups summed: doc 0 codes (1,0) -> 30 + 3 = 33
    val adc = vecs.crossJoin(q.select(Similarity.pqLut(col("embedding"), cb).as("lut")))
      .select(col("vec_id"), Similarity.pqAdcDot(col("lut"), Similarity.pqCodes(col("embedding"), cb), 2).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(adc == Map(0L -> 33.0, 1L -> 4.0, 2L -> 34.0), s"adc $adc")

    // identity: a vector sitting exactly ON its centroids reconstructs
    // losslessly, so ADC equals the exact dot product (doc 2 vs q:
    // 10*1 + 10*2 + 0*3 + 1*4 = 34 — matches adc above)

    // null-poison: wrong dimensionality yields NULL codes, not a
    // truncated encoding
    val bad = Seq((3L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    assert(bad.select(Similarity.pqCodes(col("embedding"), cb)).head().isNullAt(0))
  }

  test("a parquet-roundtripped pqIndex answers queries identically to the composed plan") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Similarity.trainCentroids(emb, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(emb, "vec_id", "embedding", 8, 16)
    val q = emb.where(col("vec_id") < 10)
    val composed = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5, coarse, 2, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val path = java.nio.file.Files.createTempDirectory("graft_pq_index").toString + "/idx"
    Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb).write.parquet(path)
    val indexed = Similarity.ivfPqTopKIndexed(
      q, spark.read.parquet(path), "vec_id", "embedding", 5, coarse, 2, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(indexed == composed, "materialized index diverged from the composed build+query plan")
    assert(indexed.nonEmpty)
  }

  test("reranked serve: full coverage equals exact top-k; realistic shortlist never hurts recall") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Similarity.trainCentroids(emb, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(emb, "vec_id", "embedding", 8, 16)
    val q = emb.where(col("vec_id") < 10)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_rerank").toString + "/idx"
    Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb).write.parquet(path)
    val index = spark.read.parquet(path)
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._2).map(_._3).toSeq }

    // full coverage: every cell probed, shortlist spans the corpus ->
    // the two-stage path must reproduce exact cosine top-k exactly
    // (same id tie-break on both sides)
    val n = emb.count().toInt
    val exact = ids(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val full = ids(Similarity.ivfPqTopKReranked(
      q, index, emb, "vec_id", "embedding", 5, n, coarse, 4, cb))
    assert(full == exact, "full-coverage rerank diverged from brute force")
    assert(full.size == 10 && full.values.forall(_.size == 5))

    // realistic shortlist: within the SAME probed cells, any true
    // neighbor the pure-ADC top-5 finds is also in the ADC top-32, and
    // the exact re-rank of a set containing a true-top-5 member must
    // rank it in ITS top-5 (at most 4 corpus vectors score higher
    // anywhere) — so per-query recall can only improve. Pin that.
    val adc = ids(Similarity.ivfPqTopKIndexed(
      q, index, "vec_id", "embedding", 5, coarse, 2, cb))
    val rr = ids(Similarity.ivfPqTopKReranked(
      q, index, emb, "vec_id", "embedding", 5, 32, coarse, 2, cb))
    exact.foreach { case (qid, truth) =>
      val t = truth.toSet
      val adcHits = adc.getOrElse(qid, Seq.empty).count(t)
      val rrHits = rr.getOrElse(qid, Seq.empty).count(t)
      assert(rrHits >= adcHits, s"query $qid: rerank recall $rrHits < ADC recall $adcHits")
    }

    // a shortlist smaller than k can never serve k results — refused
    assertThrows[IllegalArgumentException](Similarity.ivfPqTopKReranked(
      q, index, emb, "vec_id", "embedding", 5, 3, coarse, 2, cb))
  }

  test("updatePqIndex merges a delta without re-encoding; guards trip loudly") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val baseCorpus = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val coarse = Similarity.trainCentroids(baseCorpus, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(baseCorpus, "vec_id", "embedding", 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_upd").toString
    // serving an unbuilt path must refuse, not return an empty corpus
    assertThrows[IllegalArgumentException](Similarity.readPqIndex(spark, s"$root/absent"))
    Similarity.writePqIndex(baseCorpus, "vec_id", "embedding", coarse, cb, s"$root/base")
    intercept[IllegalArgumentException] { // in-place update refused
      Similarity.updatePqIndex(spark, s"$root/base", delta,
        "vec_id", "embedding", coarse, cb, s"$root/base")
    }
    intercept[IllegalArgumentException] { // resubmitted ids refused
      Similarity.updatePqIndex(spark, s"$root/base", baseCorpus.limit(3),
        "vec_id", "embedding", coarse, cb, s"$root/bad")
    }
    Similarity.updatePqIndex(spark, s"$root/base", delta,
      "vec_id", "embedding", coarse, cb, s"$root/out")
    // the merged index must hold exactly the rows a one-pass encode of
    // the full corpus produces under the same frozen models
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val merged = rows(Similarity.readPqIndex(spark, s"$root/out"))
    val scratch = rows(Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb))
    assert(merged == scratch, "incrementally-merged index diverged from the one-pass encode")
    assert(merged.nonEmpty)
  }

  test("ingestPqIndexBatch: streamed vector batches behind the pointer equal a one-pass encode; replay heals") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ServePointer
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val baseCorpus = emb.where(col("vec_id") % 3 === 0)
    val coarse = Similarity.trainCentroids(baseCorpus, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(baseCorpus, "vec_id", "embedding", 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_ingest").toString
    val ptr = s"$root/CURRENT"
    Similarity.writePqIndex(baseCorpus, "vec_id", "embedding", coarse, cb, s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base", "IVF-PQ")
    Similarity.ingestPqIndexBatch(spark, emb.where(col("vec_id") % 3 === 1), 0L,
      ptr, s"$root/gen", "vec_id", "embedding", coarse, cb)
    Similarity.ingestPqIndexBatch(spark, emb.where(col("vec_id") % 3 === 2), 1L,
      ptr, s"$root/gen", "vec_id", "embedding", coarse, cb)
    val served = ServePointer.read(spark, ptr)
    assert(served.contains("/gen/batch-1/"), served)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val streamed = rows(Similarity.readPqIndex(spark, served))
    val scratch = rows(Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb))
    assert(streamed == scratch,
      "streamed per-batch generations diverged from the one-pass encode")
    assert(streamed.nonEmpty)
    // exactly-once: a replayed committed batch heals the pointer
    // instead of double-encoding (the re-submission guard would
    // refuse loudly otherwise)
    Similarity.ingestPqIndexBatch(spark, emb.where(col("vec_id") % 3 === 2), 1L,
      ptr, s"$root/gen", "vec_id", "embedding", coarse, cb)
    assert(ServePointer.read(spark, ptr) == served)
    assert(rows(Similarity.readPqIndex(spark, served)) == scratch)
  }

  test("updatePqIndex chains: a second-generation update serves like a one-pass encode (both flavors)") {
    import org.apache.spark.sql.functions.col
    // the daily-delta contract is closed under itself: the output of
    // one update must be a valid BASE for the next (the merged manifest
    // carries the encode flavor forward, or generation 2 is refused)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val baseCorpus = emb.where(col("vec_id") % 3 === 0)
    val delta1 = emb.where(col("vec_id") % 3 === 1)
    val delta2 = emb.where(col("vec_id") % 3 === 2)
    val coarse = Similarity.trainCentroids(baseCorpus, "vec_id", "embedding", 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    for (residual <- Seq(false, true)) {
      val cb =
        if (residual) Similarity.trainResidualCodebooks(baseCorpus, "vec_id", "embedding", coarse, 8, 16)
        else Similarity.trainProductCodebooks(baseCorpus, "vec_id", "embedding", 8, 16)
      val root = java.nio.file.Files.createTempDirectory(s"graft_pq_chain_$residual").toString
      Similarity.writePqIndex(baseCorpus, "vec_id", "embedding", coarse, cb,
        s"$root/g0", residual = residual)
      Similarity.updatePqIndex(spark, s"$root/g0", delta1,
        "vec_id", "embedding", coarse, cb, s"$root/g1", residual = residual)
      // generation 2 updates FROM the merged output — this is the call
      // that used to die on an empty manifest flavor
      Similarity.updatePqIndex(spark, s"$root/g1", delta2,
        "vec_id", "embedding", coarse, cb, s"$root/g2", residual = residual)
      val merged = rows(Similarity.readPqIndex(spark, s"$root/g2"))
      val scratch = rows(
        if (residual) Similarity.pqResidualIndex(emb, "vec_id", "embedding", coarse, cb)
        else Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb))
      assert(merged == scratch,
        s"generation-2 merge (residual=$residual) diverged from the one-pass encode")
      assert(merged.nonEmpty)
      // the generation-2 manifest still refuses the OTHER flavor
      intercept[IllegalArgumentException] {
        Similarity.updatePqIndex(spark, s"$root/g2", emb.limit(0),
          "vec_id", "embedding", coarse, cb, s"$root/bad", residual = !residual)
      }
    }
  }

  test("updatePqIndex is O(increment) and compactPqIndex re-homes: 3-generation chain, base files untouched") {
    import org.apache.spark.sql.functions.col
    // fileListing from SparkTestBase: shared (size, mtime) snapshots
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val baseCorpus = emb.where(col("vec_id") % 3 === 0)
    val delta1 = emb.where(col("vec_id") % 3 === 1)
    val delta2 = emb.where(col("vec_id") % 3 === 2)
    val coarse = Similarity.trainCentroids(baseCorpus, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(baseCorpus, "vec_id", "embedding", 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_oinc").toString
    Similarity.writePqIndex(baseCorpus, "vec_id", "embedding", coarse, cb, s"$root/g0")
    val g0Files = fileListing(s"$root/g0")

    Similarity.updatePqIndex(spark, s"$root/g0", delta1,
      "vec_id", "embedding", coarse, cb, s"$root/g1")
    // the base generation's files are byte-for-byte untouched
    assert(fileListing(s"$root/g0") == g0Files, "update rewrote base index files")
    // g1 holds the manifest plus ONE delta-sized segment
    val g1Segs = new java.io.File(s"$root/g1/segments").listFiles().map(_.getName).toSet
    assert(g1Segs == Set("seg-00001"), s"expected one new segment: $g1Segs")
    assert(spark.read.parquet(s"$root/g1/segments/seg-00001/vectors").count() == delta1.count(),
      "the new segment must hold exactly the increment's rows")

    val g1Files = fileListing(s"$root/g1")
    Similarity.updatePqIndex(spark, s"$root/g1", delta2,
      "vec_id", "embedding", coarse, cb, s"$root/g2")
    assert(fileListing(s"$root/g0") == g0Files, "second update rewrote generation-0 files")
    assert(fileListing(s"$root/g1") == g1Files, "second update rewrote generation-1 files")
    val g2Segs = new java.io.File(s"$root/g2/segments").listFiles().map(_.getName).toSet
    assert(g2Segs == Set("seg-00002"), s"expected one new segment: $g2Segs")

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val scratch = rows(Similarity.pqIndex(emb, "vec_id", "embedding", coarse, cb))
    assert(rows(Similarity.readPqIndex(spark, s"$root/g2")) == scratch,
      "3-generation segmented index diverged from the one-pass encode")

    // compaction: one self-contained segment, identical row set, and
    // the retired chain roots are no longer referenced
    Similarity.compactPqIndex(spark, s"$root/g2", s"$root/c")
    val cSegs = new java.io.File(s"$root/c/segments").listFiles().map(_.getName).toSet
    assert(cSegs == Set("seg-00000"), s"compacted root must hold one segment: $cSegs")
    assert(spark.read.parquet(s"$root/c/segments/seg-00000/vectors").count() == emb.count())
    assert(rows(Similarity.readPqIndex(spark, s"$root/c")) == scratch,
      "compaction changed the index contents")
    assertThrows[IllegalArgumentException](Similarity.compactPqIndex(spark, s"$root/c", s"$root/c"))
    // a post-compaction update chains from the compacted root
    intercept[IllegalArgumentException] { // flavor guard still live
      Similarity.updatePqIndex(spark, s"$root/c", emb.limit(1),
        "vec_id", "embedding", coarse, cb, s"$root/c2", residual = true)
    }
  }

  test("deleteFromPqIndex masks vectors; delete + re-embed updates; compaction drops bytes") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Similarity.trainCentroids(emb, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(emb, "vec_id", "embedding", 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_del").toString
    Similarity.writePqIndex(emb, "vec_id", "embedding", coarse, cb, s"$root/g0")
    val g0Files = fileListing(s"$root/g0")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val delIds = Set(3L, 7L, 11L)
    Similarity.deleteFromPqIndex(spark, s"$root/g0",
      delIds.toSeq.toDF("vec_id"), "vec_id", s"$root/g1")
    // O(delta): base untouched; the deleted root holds only manifest + tombstones
    assert(fileListing(s"$root/g0") == g0Files, "delete rewrote base index files")
    assert(new java.io.File(s"$root/g1").listFiles().map(_.getName).toSet
      == Set("manifest", "tombstones"))
    // the live view equals a one-pass encode of the remaining vectors
    val remaining = emb.where(!col("vec_id").isin(delIds.toSeq: _*))
    assert(rows(Similarity.readPqIndex(spark, s"$root/g1"))
      == rows(Similarity.pqIndex(remaining, "vec_id", "embedding", coarse, cb)))
    // guards: unknown + already-deleted refuse
    val scratch = java.nio.file.Files.createTempDirectory("graft_pq_del_x").toString
    assertThrows[IllegalArgumentException](Similarity.deleteFromPqIndex(
      spark, s"$root/g1", Seq(999999L).toDF("vec_id"), "vec_id", scratch))
    assertThrows[IllegalArgumentException](Similarity.deleteFromPqIndex(
      spark, s"$root/g1", Seq(3L).toDF("vec_id"), "vec_id", scratch))
    assertThrows[IllegalArgumentException](Similarity.deleteFromPqIndex(
      spark, s"$root/g1", Seq(Some(5L), None).toDF("vec_id"), "vec_id", scratch))
    // re-embed the deleted vector 3 via updatePqIndex (the guard checks
    // the LIVE set): the sequenced tombstone masks only the old row
    Similarity.updatePqIndex(spark, s"$root/g1", emb.where(col("vec_id") === 3L),
      "vec_id", "embedding", coarse, cb, s"$root/g2")
    val afterReadd = emb.where(!col("vec_id").isin(7L, 11L))
    assert(rows(Similarity.readPqIndex(spark, s"$root/g2"))
      == rows(Similarity.pqIndex(afterReadd, "vec_id", "embedding", coarse, cb)),
      "re-embedded vector must serve its new row, others stay masked")
    // the metadata-only ops surface tracks the chain: per-segment stats
    // and per-delete tsstats, never a codes scan. indexed counts the
    // re-embedded row's old (masked) AND new copy — the disk reality
    // compaction collects.
    val n = emb.count()
    def info(p: String) = {
      val r = Similarity.pqIndexInfo(spark, p).head()
      (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
    assert(info(s"$root/g1") == ((1, 1, "pq-direct", n, 3L, n - 3L)), s"g1: ${info(s"$root/g1")}")
    assert(info(s"$root/g2") == ((2, 1, "pq-direct", n + 1L, 3L, n - 2L)), s"g2: ${info(s"$root/g2")}")
    // compaction pays the delete debt physically: one segment, no
    // tombstones, exactly the live rows on disk
    Similarity.compactPqIndex(spark, s"$root/g2", s"$root/c")
    assert(new java.io.File(s"$root/c").listFiles().map(_.getName).toSet
      == Set("manifest", "segments"))
    assert(spark.read.parquet(s"$root/c/segments/seg-00000/vectors").count()
      == afterReadd.count())
    assert(rows(Similarity.readPqIndex(spark, s"$root/c"))
      == rows(Similarity.pqIndex(afterReadd, "vec_id", "embedding", coarse, cb)))
    assert(info(s"$root/c") == ((1, 0, "pq-direct", n - 2L, 0L, n - 2L)),
      s"compaction must clear the masked debt: ${info(s"$root/c")}")
  }

  test("maintainPqIndex runs a round and auto-compacts exactly when the policy trips") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Similarity.trainCentroids(emb, "vec_id", "embedding", 4)
    val cb = Similarity.trainProductCodebooks(emb, "vec_id", "embedding", 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_maint").toString
    Similarity.writePqIndex(emb, "vec_id", "embedding", coarse, cb, s"$root/base")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    // quiet policy: a delete-only round keeps the O(delta) root
    val p1 = Similarity.maintainPqIndex(spark, s"$root/base",
      Some(Seq(5L).toDF("vec_id")), None, "vec_id", "embedding", coarse, cb, s"$root/r1")
    assert(p1 == s"$root/r1/deleted", p1)
    assert(rows(Similarity.readPqIndex(spark, p1))
      == rows(Similarity.pqIndex(emb.where(col("vec_id") =!= 5L),
        "vec_id", "embedding", coarse, cb)))
    // tripping policy: delete + re-embed with maxSegments = 1 -> the
    // update's second segment trips, the served root is the compacted
    // re-home with the delete debt paid physically
    val p2 = Similarity.maintainPqIndex(spark, p1,
      Some(Seq(3L, 7L).toDF("vec_id")), Some(emb.where(col("vec_id") === 3L)),
      "vec_id", "embedding", coarse, cb, s"$root/r2", maxSegments = 1)
    assert(p2 == s"$root/r2/compacted", p2)
    val live = emb.where(!col("vec_id").isin(5L, 7L))
    assert(rows(Similarity.readPqIndex(spark, p2))
      == rows(Similarity.pqIndex(live, "vec_id", "embedding", coarse, cb)),
      "auto-compacted round diverged from the one-pass encode of the live set")
    val r = Similarity.pqIndexInfo(spark, p2).head()
    assert((r.getInt(0), r.getInt(1), r.getLong(4)) == ((1, 0, 0L)),
      s"served root must be one clean segment: $r")
    // a no-op round serves the same root back
    assert(Similarity.maintainPqIndex(spark, p2, None, None,
      "vec_id", "embedding", coarse, cb, s"$root/r3") == p2)
    // outRoot REUSE refuses loudly (the compaction-overwrites-its-own-
    // input hazard of a scheduler loop that recycles one root)
    val e = intercept[IllegalArgumentException] {
      Similarity.maintainPqIndex(spark, p2, Some(Seq(9L).toDF("vec_id")), None,
        "vec_id", "embedding", coarse, cb, s"$root/r2")
    }
    assert(e.getMessage.contains("not fresh"), e.getMessage)
  }

  test("updatePqIndex merges a RESIDUAL-coded delta against the same frozen models") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val baseCorpus = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val coarse = Similarity.trainCentroids(baseCorpus, "vec_id", "embedding", 4)
    val cb = Similarity.trainResidualCodebooks(baseCorpus, "vec_id", "embedding", coarse, 8, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_res_upd").toString
    Similarity.writePqIndex(baseCorpus, "vec_id", "embedding", coarse, cb,
      s"$root/base", residual = true)
    // the manifest records the encode flavor: merging DIRECT codes
    // into this residual index must refuse, not corrupt
    val e = intercept[IllegalArgumentException] {
      Similarity.updatePqIndex(spark, s"$root/base", delta,
        "vec_id", "embedding", coarse, cb, s"$root/bad")
    }
    assert(e.getMessage.contains("flavor"), e.getMessage)
    Similarity.updatePqIndex(spark, s"$root/base", delta,
      "vec_id", "embedding", coarse, cb, s"$root/out", residual = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("neighbor_id"), col("cell").cast("int"),
        col("codes").cast("string"), col("c_norm"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val merged = rows(Similarity.readPqIndex(spark, s"$root/out"))
    val scratch = rows(Similarity.pqResidualIndex(emb, "vec_id", "embedding", coarse, cb))
    assert(merged == scratch, "residual merge diverged from the one-pass residual encode")
    assert(merged.nonEmpty)
  }

  test("residual IVF-PQ is exact when residuals sit on the codebooks") {
    import org.apache.spark.sql.functions.col
    // two coarse cells on distinct axes; residual codebooks that contain
    // the exact offsets used to build the vectors -> reconstruction is
    // lossless, so qdot + residual ADC must equal the exact dot product
    // and the indexed top-k must equal brute force
    val coarse: Array[Array[Float]] = Array(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f))
    val cb: Array[Array[Array[Float]]] = Array(
      Array(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f)),   // subspace over dims 0-1
      Array(Array(0f, 0f), Array(2f, 0f), Array(0f, 2f)))   // subspace over dims 2-3
    val combos = for {
      (cent, ci) <- coarse.zipWithIndex
      (r0, i) <- cb(0).zipWithIndex; (r1, j) <- cb(1).zipWithIndex
    } yield ((ci * 9 + i * 3 + j).toLong,
      Seq(cent(0) + r0(0), cent(1) + r0(1), cent(2) + r1(0), cent(3) + r1(1)))
    val vecs = combos.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val q = vecs.where(col("vec_id") < 2)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = 2 of 2 cells: the cell pruning admits everything, so any
    // difference from brute force would be ADC/residual error — zero here
    val res = Similarity.ivfPqResidualTopK(q, vecs, "vec_id", "embedding", 3, coarse, 2, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(res == exact, s"residual $res vs exact $exact")
    // dirty input: an out-of-range cell NULL-poisons the encode
    val bad = vecs.select(org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.PQEncodeResidualCodes(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("embedding")),
        org.apache.spark.sql.graftbridge.Bridge.expression(org.apache.spark.sql.functions.lit(7)),
        coarse, cb)))
    assert(bad.collect().forall(_.isNullAt(0)))
  }

  test("OPQ rotation crushes quantization error on anisotropic data and preserves geometry") {
    import org.apache.spark.sql.functions.col
    // variance lives in dims 0 and 1 — BOTH in plain PQ's first
    // subspace at M=2 — while dims 2,3 are near-constant: the first
    // codebook must cover a 4x4 grid with K=4 centroids (big error)
    // and the second idles. The eigenvalue-allocation rotation sends
    // one high-variance direction to each subspace, making K=4
    // per-subspace coding near-lossless.
    val aniso = (0L until 256L).map { i =>
      val s = (i % 4).toFloat * 10f
      val tt = ((i / 4) % 4).toFloat * 10f
      val e = ((i / 16) % 4).toFloat * 0.05f
      val e2 = ((i / 64) % 4).toFloat * 0.05f
      (i, Seq(s + 1f, tt + 1f, e, e2))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

    def maeOf(rot: Option[Array[Array[Float]]], cb: Array[Array[Array[Float]]]): Double = {
      val vec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        v => rot.map(Similarity.rotate(v, _)).getOrElse(v)
      val c = aniso.select(col("vec_id").as("nid"), col("embedding").as("c_vec"),
        Similarity.pqCodes(vec(col("embedding")), cb).as("codes"),
        Similarity.l2Norm(col("embedding")).as("c_norm"))
      val q = aniso.where(col("vec_id") < 16).select(
        col("vec_id").as("qid"), col("embedding").as("q_vec"),
        Similarity.pqLut(vec(col("embedding")), cb).as("lut"),
        Similarity.l2Norm(col("embedding")).as("q_norm"))
      c.crossJoin(org.apache.spark.sql.functions.broadcast(q)).where(col("nid") =!= col("qid"))
        .select(abs(
          Similarity.pqAdcDot(col("lut"), col("codes"), 4) / (col("q_norm") * col("c_norm"))
            - Similarity.dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("e"))
        .agg(avg("e")).head().getDouble(0)
    }
    val cbPlain = Similarity.trainProductCodebooks(aniso, "vec_id", "embedding", 2, 4)
    val (r, cbOpq) = Similarity.trainOpqRotation(aniso, "vec_id", "embedding", 2, 4)
    val maePlain = maeOf(None, cbPlain)
    val maeOpq = maeOf(Some(r), cbOpq)
    assert(maePlain > 0.1, s"crafted case no longer stresses plain PQ: $maePlain")
    assert(maeOpq < maePlain * 0.01,
      s"OPQ rotation failed to concentrate variance: plain $maePlain vs opq $maeOpq")

    // R is orthogonal: R R^T = I (so dot products and norms are
    // preserved and ADC ranks transfer to the original vectors)
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(i)(k).toDouble * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4, s"R not orthogonal at ($i,$j): $dot")
    }
    // and the rotated column preserves norms bit-close
    val norms = aniso.select(
        Similarity.l2Norm(col("embedding")).as("n0"),
        Similarity.l2Norm(Similarity.rotate(col("embedding"), r)).as("n1"))
      .collect()
    norms.foreach(rr => assert(math.abs(rr.getDouble(0) - rr.getDouble(1)) < 1e-3,
      s"rotation changed a norm: ${rr.getDouble(0)} vs ${rr.getDouble(1)}"))
  }

  test("PQ expressions with equal codebook CONTENT compare equal") {
    import org.apache.spark.sql.functions.col
    // Array fields compare by reference under case-class equality, which
    // would stop identical encodes/LUTs from canonicalizing — losing
    // subexpression elimination and exchange reuse. Equality must be
    // content-based.
    val cb: Array[Array[Array[Float]]] = Array(Array(Array(1f, 0f), Array(0f, 1f)))
    val cbCopy = cb.map(_.map(_.clone()))
    val child = org.apache.spark.sql.graftbridge.Bridge.expression(col("embedding"))
    val e1 = graft.expressions.PQEncodeCodes(child, cb)
    val e2 = graft.expressions.PQEncodeCodes(child, cbCopy)
    assert(e1 == e2 && e1.hashCode == e2.hashCode, "PQEncodeCodes equality is reference-based")
    val l1 = graft.expressions.PQQueryLut(child, cb)
    val l2 = graft.expressions.PQQueryLut(child, cbCopy)
    assert(l1 == l2 && l1.hashCode == l2.hashCode, "PQQueryLut equality is reference-based")
    // and a different codebook must NOT compare equal
    val other = cb.map(_.map(_.clone())); other(0)(0)(0) = 9f
    assert(e1 != graft.expressions.PQEncodeCodes(child, other))
  }

  test("the split ann_index_build / ann_query_serve bench entries are structurally green") {
    import org.apache.spark.sql.functions.col
    // the serve entry queries a parquet-materialized, partitioned-by-cell
    // index built once per corpus — every structural flag must hold, or
    // the bench split would be timing a broken plan
    val dir = "/root/testdata/sf0.001"
    val build = SparkEntry.queries("ann_index_build")(spark, dir).head()
    assert(build.getLong(0) == 500L, s"index rows ${build.getLong(0)}")
    assert(build.getLong(1) == 1L && build.getLong(2) == 1L && build.getLong(3) == 1L,
      s"build flags ${build.toSeq}")
    val serve = SparkEntry.queries("ann_query_serve")(spark, dir).collect()
    assert(serve.length == 20)
    serve.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L && r.getLong(4) == 0L,
        s"serve flags for query ${r.get(0)}: ${r.toSeq}")
    }
  }

  test("pqTopK ranks by ADC-approximated cosine with exact vectors recovering exact ranks") {
    import org.apache.spark.sql.functions.col
    // centroid-resident vectors: PQ reconstruction is lossless, so the
    // compressed-domain top-k must EQUAL the brute-force ranking
    val cb: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)),
      Array(Array(1f, 0f), Array(0f, 1f), Array(0f, 0f)))
    val combos = for {
      (a, i) <- cb(0).zipWithIndex; (b, j) <- cb(1).zipWithIndex
      if !(a.forall(_ == 0f) && b.forall(_ == 0f))
    } yield (i * 3L + j, (a ++ b).toSeq)
    val vecs = combos.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val q = vecs.where(col("vec_id") < 2)
    val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(q, vecs, "vec_id", "embedding", 3, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == exact, s"pq $pq vs exact $exact")
  }

  test("semDedup: cell blocking bounds candidates and the farthest-from-centroid member survives") {
    import org.apache.spark.sql.functions.col
    // two orthogonal cells; 0-2 are near-parallel in cell 0 with 2 the
    // farthest from the centroid direction; 3-4 tie on centroid cosine
    // in cell 1 so the id tiebreak decides
    val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val vecs = Seq(
      (0L, Seq(10f, 0f, 0f)),   // cent_cos = 1.0
      (1L, Seq(10f, 0.5f, 0f)), // cent_cos ~ 0.9988
      (2L, Seq(10f, 2f, 0f)),   // cent_cos ~ 0.9806 -> farthest, must survive
      (3L, Seq(0f, 8f, 0f)),    // cell 1, cent_cos = 1.0
      (4L, Seq(0f, 8.1f, 0f))   // cell 1, cent_cos = 1.0, loses id tiebreak
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

    val pairs = Similarity.semanticDuplicatePairs(vecs, "vec_id", "embedding", cents, thresholdPct = 95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all within-cell near-parallel pairs, and ONLY within-cell pairs —
    // cross-cell (0,3)-style pairs are orthogonal anyway, but the plan
    // must not even consider them: the join key is the cell
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)), s"got $pairs")

    val survivors = Similarity.semDedupSurvivors(vecs, "vec_id", "embedding", cents, thresholdPct = 95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // cluster {0,1,2}: keeper is 2 (lowest centroid cosine), NOT min id;
    // cluster {3,4}: centroid cosine ties at 1.0, keeper is lower id 3
    assert(survivors == Set(2L, 3L), s"got $survivors")
  }

  test("semDedup keeps every vector when nothing clears the threshold") {
    import org.apache.spark.sql.functions.col
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val vecs = Seq(
      (0L, Seq(5f, 1f)), (1L, Seq(1f, 5f)), (2L, Seq(5f, -1f))
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val survivors = Similarity.semDedupSurvivors(vecs, "vec_id", "embedding", cents, thresholdPct = 99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 1L, 2L), s"got $survivors")
  }
}
