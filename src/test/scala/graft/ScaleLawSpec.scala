package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Centrality, Curation, Dedup, Multimodal, Retrieval, ServePointer,
  SideIndex, Similarity}

/** The scale laws of every tier, checked exactly on 1× against 4×
  * replicas of the sf0.001 tables (500 documents, 500 embeddings).
  * Replica r of a table shifts its ids by r × (max id + 1), so copies
  * never collide. Each tier runs once per scale, lazily, and every law
  * is a named test over those runs. The laws are counts, byte bounds,
  * file listings and values; no wall-clock sample decides one.
  */
class ScaleLawSpec extends SparkTestBase {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"
  private val N = 4
  private val Scales = Seq(1, N)
  private val Delta = 37 // the fixed delete size of the O(delta) laws

  private def bytes(dir: String): Long = fileListing(dir).values.map(_._1).sum
  private def exists(dir: String): Boolean = new java.io.File(dir).exists
  private def table(name: String): DataFrame = spark.read.parquet(s"$Sf/$name.parquet")
  private def atScales[T](run: Int => T): Map[Int, T] = Scales.map(n => n -> run(n)).toMap

  private def stride(df: DataFrame, idCols: String*): Long =
    idCols.map(c => df.agg(max(c)).head().getLong(0)).max + 1L

  /** `base` replicated `n` times and read back from parquet: replica r
    * shifts every `idCols` column by r × `stride`, then `vary(r, _)`
    * rewrites its payload. Replica 0 is `base` as is.
    */
  private def replicate(base: DataFrame, n: Int, stride: Long, idCols: String*)(
      vary: (Int, DataFrame) => DataFrame = (_, d) => d): DataFrame = {
    val path = tmpDir("replicas")
    (0 until n).map { r =>
      if (r == 0) base
      else vary(r, idCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(r * stride))))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def symmetricDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()
  /** The final adaptive plan: `df`'s own QueryExecution, run first. */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count(): Unit
    df.queryExecution.executedPlan.toString
  }
  private def ranked(df: DataFrame): Seq[(Int, Long, Double)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  private lazy val docs = table("documents").where(col("text").isNotNull)
    .select("doc_id", "text", "lang")
  private lazy val docStride = stride(docs, "doc_id")
  private def docCopies(n: Int) =
    replicate(docs.select("doc_id", "text"), n, docStride, "doc_id")()

  // ---- curation chain: quality gate, LSH candidates, Jaccard verify,
  // CC survivors, decontaminate, rebalance, token budget

  private val Budget = 100000L
  private val Cap = 2 // bounded duplication: content families of Cap replicas
  private val Families = (N + Cap - 1) / Cap
  // identity plus cyclic rotations of the 10 most frequent letters:
  // families share almost no token, so only replicas of one family are near-dups
  private val FamAlphabet = "etaoinsrhl"

  private case class Chain(rows: Map[String, Long], crossFamily: Long,
      survivorsByFamily: Map[Long, Long], budgetTokens: Map[String, Long])

  /** `cap` 0: every replica near-dups its base doc (a marker token
    * added). `cap` > 0: replicas form families of `cap`, each family's
    * text rewritten by its own letter rotation.
    */
  private def curationCorpus(n: Int, cap: Int) = replicate(docs, n, docStride, "doc_id") {
    (r, d) =>
      val fam = if (cap > 0) r / cap else 0
      val text = if (fam == 0) col("text")
        else translate(col("text"), FamAlphabet, FamAlphabet.drop(fam) + FamAlphabet.take(fam))
      d.withColumn("text", concat(text, lit(s" replica$r")))
  }
  private def famOf(id: Column): Column =
    floor(floor(id / lit(docStride)) / lit(Cap)).cast("long")

  private def chain(corpus: DataFrame, fam: Option[Column => Column]): Chain = {
    val held = scala.collection.mutable.Buffer.empty[DataFrame]
    def stage(df: DataFrame) = { held += df.persist(StorageLevel.MEMORY_AND_DISK); df }
    try {
      val benchmark = docs.where(col("doc_id") % 97 === 0).orderBy("doc_id").limit(50)
        .select("text")
      val quality = stage(corpus.join(Curation.qualityFilter(corpus, "doc_id", "text",
        minTokens = 10, maxBigramRep = 0.2, minAlphaRatio = 0.8)
        .where(col("keep") === 1).select("doc_id"), "doc_id"))
      val candidates = stage(Dedup.lshCandidatePairs(quality, "doc_id", "text", 8, 2))
      val verified = stage(Dedup.jaccardOnPairs(candidates, quality, "doc_id", "text", 40))
      val survivors = stage(Dedup.dedupedCorpus(quality, "doc_id", verified))
      val clean = stage(survivors.join(Curation.decontaminate(survivors, "doc_id", "text",
        benchmark, "text", n = 3), Seq("doc_id"), "left_anti"))
      val balanced = stage(clean.join(Curation.rebalanceMix(clean, "doc_id", "lang",
        Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15))
        .select("doc_id"), "doc_id"))
      val budget = stage(Curation.tokenBudgetSample(balanced, "doc_id", "text", "lang",
        budgetTokens = Budget))
      Chain(
        Seq("quality" -> quality, "candidates" -> candidates, "survivors" -> survivors,
          "budget" -> budget).map { case (k, df) => k -> df.count() }.toMap,
        fam.map(f => verified.where(f(col("a_id")) =!= f(col("b_id"))).count()).getOrElse(0L),
        fam.map(f => survivors.groupBy(f(col("doc_id"))).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty),
        // re-counted from text, not from the operator's own running sum
        budget.select("doc_id").join(balanced, "doc_id").groupBy("lang")
          .agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    } finally held.foreach(_.unpersist())
  }

  private lazy val chain1 = chain(curationCorpus(1, 0), None)
  private lazy val allDupCorpus = curationCorpus(N, 0)
  private lazy val allDup = chain(allDupCorpus, None)
  private lazy val bounded = chain(curationCorpus(N, Cap), Some(famOf))
  private def growth(c: Chain, stage: String) = c.rows(stage).toDouble / chain1.rows(stage)

  /** The exact pair-count growth of replicating every natural cluster
    * k-fold in each of `copies` families: a cluster of s docs becomes
    * k²·C(s,2) + k(k−1)·s/2 pairs, so over the 1× pair count P the
    * growth is copies · (k² + k(k−1)·D/(2P)), D the 1× docs.
    */
  private def pairCeiling(k: Int, copies: Int): Double = {
    val (p, d) = (chain1.rows("candidates").toDouble, chain1.rows("quality").toDouble)
    copies * (k.toDouble * k + k.toDouble * (k - 1) * d / (2 * p))
  }

  test("curation: candidate pairs grow at most N² when every replica is a near-dup") {
    val (g, ceiling) = (growth(allDup, "candidates"), pairCeiling(N, 1))
    info(f"growth $g%.2fx, ceiling $ceiling%.2fx")
    assert(g <= ceiling * 1.1)
  }

  test("curation: candidate pairs grow at most F·C² under bounded duplication") {
    val (g, ceiling) = (growth(bounded, "candidates"), pairCeiling(Cap, Families))
    info(f"growth $g%.2fx, ceiling $ceiling%.2fx")
    assert(g <= ceiling * 1.3)
  }

  test("curation: survivors track content families, not corpus size") {
    assert(growth(allDup, "survivors") <= 1.2, "near-dup recall collapsed")
    assert(growth(bounded, "survivors") <= Families * 1.2, "near-dup recall collapsed")
  }

  test("curation: no verified pair crosses content families") {
    assert(bounded.crossFamily == 0L)
  }

  test("curation: every content family keeps survivors, in balance") {
    val s = bounded.survivorsByFamily
    assert(s.size == Families, s)
    assert(s.values.min >= 0.5 * s.values.max, s)
  }

  test("curation: the token budget holds in every stratum") {
    for (c <- Seq(allDup, bounded); (stratum, toks) <- c.budgetTokens)
      assert(toks <= Budget, s"stratum $stratum")
  }

  test("curation: token-budget output stays flat when replicas add no content") {
    assert(growth(allDup, "budget") <= 1.2)
  }

  test("curation: repeated-span occurrences stay within the corpus window count") {
    val spanTokens = 8
    val spans = Dedup.repeatedSpans(allDupCorpus, "doc_id", "text", spanTokens, 2).count()
    val windows = allDupCorpus
      .select(sum(greatest(size(split(col("text"), " ")) - (spanTokens - 1), lit(0))))
      .head().getLong(0)
    assert(spans <= windows, "duplicate span emission")
  }

  // ---- IVF-PQ: scan fraction, completeness, compression, O(delta) delete

  private val Cells = 16
  private val Probe = 2
  private val K = 10

  private case class Ann(incomplete: Long, scanFrac: Double, deleteBytes: Long,
      maskedDiff: Long, maskPlan: String, payloadBytes: Int, vectorBytes: Int)

  private lazy val ann = atScales { n =>
    val vecs = table("embeddings").select("vec_id", "embedding")
    // a per-replica, per-dimension jitter: distinct vectors in the same region
    val corpus = replicate(vecs, n, stride(vecs, "vec_id"), "vec_id") { (r, d) =>
      d.withColumn("embedding", expr("transform(embedding, (x, i) -> x + " +
        s"CAST(0.01 * $r AS FLOAT) * CAST(1 + pmod(i, 3) AS FLOAT))").cast("array<float>"))
    }
    val queries = corpus.where(col("vec_id") < 25)
    val coarse = Similarity.trainCentroids(corpus, "vec_id", "embedding", Cells)
    val cb = Similarity.trainProductCodebooks(corpus, "vec_id", "embedding",
      numSub = 16, nCentroids = 64)
    val root = tmpDir("ann")
    Similarity.pqIndex(corpus, "vec_id", "embedding", coarse, cb).write.parquet(s"$root/index")
    val incomplete = Similarity.ivfPqTopKIndexed(queries, spark.read.parquet(s"$root/index"),
        "vec_id", "embedding", K, coarse, Probe, cb)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"), countDistinct("neighbor_id").as("d"),
        max((col("neighbor_id") === col("query_id")).cast("int")).as("self"))
      .where(col("n") =!= K || col("d") =!= K || col("self") === 1).count()
    // the (query, candidate) pairs the cell join admits
    val cells = corpus.select(Similarity.assignCell(col("embedding"), coarse).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("csize"))
    val scanned = queries
      .select(explode(Similarity.probeCells(col("embedding"), coarse, Probe)).as("cell"))
      .join(cells, "cell").agg(sum("csize")).head().getLong(0)
    // a 90 % build, a 10 % update, then the fixed delete
    Similarity.writePqIndex(corpus.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
      coarse, cb, s"$root/seg")
    Similarity.updatePqIndex(spark, s"$root/seg", corpus.where(col("vec_id") % 10 === 0),
      "vec_id", "embedding", coarse, cb, s"$root/upd")
    val delIds = corpus.select("vec_id").orderBy("vec_id").limit(Delta)
    Similarity.deleteFromPqIndex(spark, s"$root/upd", delIds, "vec_id", s"$root/del")
    val masked = Similarity.readPqIndex(spark, s"$root/del")
    def rows(df: DataFrame) = df.select(col("neighbor_id"), col("cell").cast("int"),
      col("codes").cast("string"), col("c_norm"))
    val live = Similarity.pqIndex(corpus.join(delIds, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", coarse, cb)
    Ann(incomplete, scanned.toDouble / (queries.count() * corpus.count()),
      bytes(s"$root/del"), symmetricDiff(rows(masked), rows(live)), finalPlan(masked),
      cb.length + 8, vecs.head().getSeq[Float](1).length * 4 + 8)
  }

  test("IVF-PQ: every query gets k distinct non-self neighbours at 1× and 4×") {
    Scales.foreach(n => assert(ann(n).incomplete == 0L, s"at ${n}x"))
  }

  test("IVF-PQ: cell pruning scores at most 2·nprobe/nCells of the brute-force pairs") {
    Scales.foreach(n => assert(ann(n).scanFrac <= 2.0 * Probe / Cells, s"at ${n}x"))
  }

  test("IVF-PQ: the masked segmented read equals a one-pass encode of the live set") {
    Scales.foreach(n => assert(ann(n).maskedDiff == 0L, s"at ${n}x"))
  }

  test("IVF-PQ: the scored payload (codes + norm) is at least 4× narrower than the vector") {
    assert(ann(N).payloadBytes * 4 <= ann(N).vectorBytes)
  }

  // ---- duplicate-pair graph: PageRank and personalized PageRank over
  // N isolated copies of the LSH pair graph

  private case class Graph(nodes: Long, ranks: Map[Long, Double], ppr: Map[Long, Double])

  private lazy val pairs0 = {
    val p = tmpDir("graph")
    Dedup.lshCandidatePairs(table("documents"), "doc_id", "text", numHashes = 8,
      rowsPerBand = 2).select("a_id", "b_id").write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }
  private lazy val pairStride = stride(pairs0, "a_id", "b_id")
  private lazy val graph = atScales { n =>
    val pairs = replicate(pairs0, n, pairStride, "a_id", "b_id")()
    def collected(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the same 32 copy-0 seeds at every scale
    val seeds = pairs0.select(col("a_id").as("doc_id")).distinct().orderBy("doc_id").limit(32)
    Graph(
      pairs.select(col("a_id").as("id")).unionByName(pairs.select(col("b_id").as("id")))
        .distinct().count(),
      collected(Centrality.pageRank(pairs, "a_id", "b_id", 5)),
      collected(Centrality.pageRankPersonalized(pairs, "a_id", "b_id", seeds, "doc_id",
        iterations = 3)))
  }

  test("graph: PageRank ranks every endpoint once and keeps mass 1 within rounding") {
    assert(pairs0.count() > 0L, "no LSH candidate pairs to replicate")
    Scales.foreach { n =>
      val g = graph(n)
      assert(g.ranks.size == g.nodes, s"at ${n}x")
      assert(math.abs(g.ranks.values.sum - 1.0) <= g.nodes * 5e-7 + 1e-9, s"at ${n}x")
    }
  }

  test("graph: each copy of a node ranks 1/N of its 1× rank, copies within one round-6 step") {
    val byBase = graph(N).ranks.groupBy { case (id, _) => id % pairStride }
    assert(byBase.keySet == graph(1).ranks.keySet)
    byBase.foreach { case (id, copies) =>
      val vs = copies.values
      assert(vs.max - vs.min <= 1.1e-6, s"copies of node $id: $copies")
      assert(math.abs(vs.head - graph(1).ranks(id) / N) <= 2e-6, s"node $id")
    }
  }

  test("graph: personalized PageRank stays in the seeded copy with its 1× values") {
    Scales.foreach(n => assert(graph(n).ppr.nonEmpty, s"no ranked node at ${n}x"))
    val (at1, atN) = (graph(1).ppr, graph(N).ppr)
    assert(atN.keys.forall(_ < pairStride), "rank leaked out of the seeded component")
    assert(atN.keySet == at1.keySet)
    at1.foreach { case (id, want) => assert(math.abs(atN(id) - want) <= 1.1e-6, s"node $id") }
  }

  // ---- BM25 write path: a fixed additive batch, or a fixed upsert
  // batch, on an always-on index of 1× or 4× the corpus

  private val Terms = Seq("spark", "fast", "join")

  private case class Round(batchBytes: Long, baseKept: Boolean, flipped: Boolean,
      baseHeld: Boolean, replayKeptFiles: Boolean, replayKeptPointer: Boolean,
      retention: Option[(Boolean, Boolean, Boolean)], live: Long, wantLive: Long,
      served: Seq[(Int, Long, Double)], reference: Seq[(Int, Long, Double)])

  /** Additive: 40 new docs, replayed, then 40 more under a tripped
    * policy with keep-0 retention. Upsert: 20 replaced docs plus 20
    * arrivals, replayed. The batches are the same rows at every scale.
    */
  private def bm25Round(n: Int, upsert: Boolean): Round = {
    val corpus = docCopies(n)
    val ids = corpus.where(col("doc_id") < docStride).orderBy("doc_id").limit(80)
      .collect().map(_.getLong(0)).toSeq
    def rowsOf(is: Seq[Long]) = corpus.where(col("doc_id").isin(is: _*))
    val (base, batch, post) =
      if (upsert) {
        val old = rowsOf(ids.take(20))
        val b = old.withColumn("text", concat(col("text"), lit(" refreshed"))).unionByName(
          old.select((col("doc_id") + lit((N + 1) * docStride)).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
        (corpus, b, corpus.where(!col("doc_id").isin(ids.take(20): _*)).unionByName(b))
      } else (corpus.where(!col("doc_id").isin(ids: _*)), rowsOf(ids.take(40)), corpus)
    val root = tmpDir("bm25-round")
    val (ptr, gen) = (s"$root/CURRENT", s"$root/gen")
    Retrieval.buildIndex(base, "doc_id", "text", s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base", "BM25")
    val baseBefore = fileListing(s"$root/base")
    def round(): Unit =
      if (upsert) Retrieval.ingestUpsertBatch(spark, batch, 0L, ptr, gen, "doc_id", "text",
        maxSegments = 64, maxMaskedRatio = 1.0, keepGenerations = Some(0))
      else Retrieval.ingestIndexBatch(spark, batch, 0L, ptr, gen, "doc_id", "text",
        maxSegments = 64, maxMaskedRatio = 1.0, keepGenerations = Some(0))
    round()
    val (batchBytes, baseKept) = (bytes(s"$gen/batch-0"), fileListing(s"$root/base") == baseBefore)
    val (flipped, baseHeld) =
      (ServePointer.read(spark, ptr).contains("/gen/batch-0/"), exists(s"$root/base"))
    val (genBefore, ptrBefore) = (fileListing(gen), ServePointer.read(spark, ptr))
    round()
    val replay = (fileListing(gen) == genBefore, ServePointer.read(spark, ptr) == ptrBefore)
    val retention = Option.when(!upsert) {
      Retrieval.ingestIndexBatch(spark, rowsOf(ids.drop(40)), 1L, ptr, gen, "doc_id", "text",
        maxSegments = 1, keepGenerations = Some(0))
      (ServePointer.read(spark, ptr).endsWith("/gen/batch-1/compacted"),
        !exists(s"$root/base"), !exists(s"$gen/batch-0"))
    }
    val served = ServePointer.read(spark, ptr)
    Retrieval.buildIndex(post, "doc_id", "text", s"$root/ref")
    def top(path: String) = ranked(Retrieval.searchTopKIndexed(spark, path, "doc_id", Terms, 10))
    Round(batchBytes, baseKept, flipped, baseHeld, replay._1, replay._2, retention,
      Retrieval.liveDocIds(spark, served).count(), post.count(), top(served), top(s"$root/ref"))
  }

  private lazy val ingest = atScales(bm25Round(_, upsert = false))
  private lazy val upsert = atScales(bm25Round(_, upsert = true))

  Seq("ingest" -> (() => ingest), "upsert" -> (() => upsert)).foreach { case (kind, at) =>
    test(s"BM25 $kind: the round leaves every base file untouched and holds the carried base") {
      Scales.foreach(n => assert(at()(n).baseKept && at()(n).baseHeld, s"at ${n}x"))
    }
    test(s"BM25 $kind: the pointer flips to the committed batch") {
      Scales.foreach(n => assert(at()(n).flipped, s"at ${n}x"))
    }
    test(s"BM25 $kind: a replayed committed batch changes no file and moves no pointer") {
      Scales.foreach { n =>
        assert(at()(n).replayKeptFiles, s"replay rewrote files at ${n}x")
        assert(at()(n).replayKeptPointer, s"replay moved the pointer at ${n}x")
      }
    }
    test(s"BM25 $kind: the served generation equals a from-scratch build") {
      Scales.foreach { n =>
        val r = at()(n)
        assert(r.live == r.wantLive, s"at ${n}x")
        assert(r.served.nonEmpty && r.served == r.reference, s"at ${n}x")
      }
    }
  }

  test("BM25 ingest: a tripped round re-homes, and keep-0 retention reclaims base and batch 0") {
    Scales.foreach(n => assert(ingest(n).retention.contains((true, true, true)), s"at ${n}x"))
  }

  // ---- BM25 serve: the index is an access path, never a semantics change

  private case class Lexical(direct: Seq[(Int, Long, Double)], indexed: Seq[(Int, Long, Double)],
      matched: Long, sumDf: Long, postings: Long, deleteBytes: Long,
      masked: Seq[(Int, Long, Double)], directLive: Seq[(Int, Long, Double)], maskPlan: String)

  private lazy val lexical = atScales { n =>
    val corpus = docCopies(n)
    val root = tmpDir("lexical")
    Retrieval.buildIndex(corpus, "doc_id", "text", s"$root/index")
    val seg = s"$root/index/segments/seg-00000"
    val postings = spark.read.parquet(s"$seg/postings")
    Retrieval.buildIndex(corpus.where(col("doc_id") % 10 =!= 0), "doc_id", "text", s"$root/seg")
    Retrieval.updateIndex(spark, s"$root/seg", corpus.where(col("doc_id") % 10 === 0),
      "doc_id", "text", s"$root/upd")
    val delIds = corpus.select("doc_id").orderBy("doc_id").limit(Delta)
    Retrieval.deleteFromIndex(spark, s"$root/upd", delIds, "doc_id", s"$root/del")
    val maskedDf = Retrieval.searchTopKIndexed(spark, s"$root/del", "doc_id", Terms, K)
    Lexical(ranked(Retrieval.searchTopK(corpus, "doc_id", "text", Terms, K)),
      ranked(Retrieval.searchTopKIndexed(spark, s"$root/index", "doc_id", Terms, K)),
      postings.where(col("term").isin(Terms: _*)).count(),
      spark.read.parquet(s"$seg/termdf").where(col("term").isin(Terms: _*))
        .agg(coalesce(sum("df"), lit(0L))).head().getLong(0),
      postings.count(), bytes(s"$root/del"), ranked(maskedDf),
      ranked(Retrieval.searchTopK(corpus.join(delIds, Seq("doc_id"), "left_anti"), "doc_id",
        "text", Terms, K)),
      finalPlan(maskedDf))
  }

  test("BM25: the indexed serve ranks exactly like the direct scan, ranks 1..k") {
    Scales.foreach { n =>
      val l = lexical(n)
      assert(l.indexed.nonEmpty && l.indexed == l.direct, s"at ${n}x")
      assert(l.indexed.map(_._1) == (1 to l.indexed.length), s"at ${n}x")
    }
  }

  test("BM25: the scoring join admits exactly sum(df) postings, a scale-invariant share") {
    Scales.foreach(n => assert(lexical(n).matched == lexical(n).sumDf, s"at ${n}x"))
    val Seq(f1, fN) = Scales.map(n => lexical(n).matched.toDouble / lexical(n).postings)
    assert(math.abs(fN - f1) <= 0.01 * f1 + 1e-9, s"admitted share $f1 at 1x, $fN at ${N}x")
  }

  test("BM25: the masked serve after a fixed delete equals the direct scan of the live set") {
    Scales.foreach(n => assert(lexical(n).masked == lexical(n).directLive, s"at ${n}x"))
  }

  // ---- image fingerprints: N pixel-identical renders of every image

  private case class Prints(reps: Long, members: Long, payloads: Long,
      pairs: Set[(Long, Long, Int)])

  private lazy val prints = atScales { n =>
    val ids = table("documents").select(col("doc_id").cast("long"))
    val s = stride(ids, "doc_id")
    // the multimodal_image_neardup fixture, keyed on the base id
    val bmps = replicate(ids, n, s, "doc_id")().as[Long].map { id =>
      val base = id % s
      val (g, v) = (base % 32, (base / 32) % 2)
      val (w, h) = ((16 + g % 5).toInt, (12 + g % 4).toInt)
      (id, Multimodal.bmpBytes(w, h, (x, y) => {
        val bump = if (v == 1 && 2 * x < w) 40L else 0L
        (((g + x * 7 + y * 13 + bump) % 256).toInt << 16) |
          (((g + x * 3 + y * 5) % 256).toInt << 8) | ((g + x + y) % 256).toInt
      }))
    }.toDF("id", "payload")
    val hashes = Multimodal.decodeBmpDhash(bmps, "id", "payload").where(col("ok") === 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val reps = hashes.groupBy("dhash").agg(min("id").as("id"))
      val nReps = reps.count()
      Prints(nReps, hashes.count() - nReps, n * ids.count(),
        // every render of an image hashes alike, so a pair maps to base ids exactly
        Dedup.fingerprintNearDuplicates(reps, "id", "dhash", bits = 64, maxHamming = 8)
          .collect().map(r => (r.getLong(0) % s, r.getLong(1) % s, r.getInt(2))).toSet)
    } finally hashes.unpersist(): Unit
  }

  test("fingerprints: replicas add no representative and no representative pair") {
    assert(prints(N).reps == prints(1).reps)
    assert(prints(N).pairs == prints(1).pairs)
  }

  test("fingerprints: member edges number exactly payloads minus representatives") {
    Scales.foreach(n => assert(prints(n).members == prints(n).payloads - prints(n).reps))
  }

  // ---- release: one maintenance round whose churn touches one stratum

  private case class Release(published: Boolean, escaped: Set[String], staged: Boolean,
      untouchedKept: Boolean, diff: Long, removed: Seq[Long], wantRemoved: Seq[Long])

  private lazy val release = atScales { n =>
    val reg0 = docs.where(col("lang").isNotNull).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("int").as("n_tokens"))
    val langs = reg0.select("lang").distinct().collect().map(_.getString(0))
    val weights = langs.map(_ -> 1.0 / langs.length).toMap
    // the largest stratum does not bind the equal-weight budget, so no
    // other stratum's packing may change
    val churnLang = reg0.groupBy("lang").agg(sum("n_tokens").as("tok"))
      .orderBy(col("tok").desc).head().getString(0)
    def manifest(reg: DataFrame) = Curation.releaseRegistryManifest(reg, "doc_id", "n_tokens",
      "lang", weights, 256, 4)
    val reg = replicate(reg0, n, docStride, "doc_id")()
    val churned = reg.where(col("lang") =!= churnLang || col("doc_id") % 9 =!= 0)
    val root = s"${tmpDir("release")}/tree"
    Curation.publishRelease(manifest(reg), "lang", root)
    val before = fileListing(root)
    val report = Curation.maintainRelease(spark, root, churned, "doc_id", "n_tokens", "lang",
      weights, 256, 4, maxPsi = 0.5).collect()
    val after = fileListing(root)
    def churnable(k: String) = k.startsWith(s"lang=$churnLang/") || k.startsWith("_removed/") ||
      k.startsWith("_commit/") || k == "_SUCCESS" || k.startsWith("._SUCCESS")
    val cols = Seq("doc_id", "lang", "n_tokens", "bin_id", "offset_in_bin", "len_in_bin")
    val fresh = manifest(churned)
    Release(report.forall(_.getBoolean(2)),
      after.keySet.filter(k => before.get(k) != after.get(k)).filterNot(churnable).toSet,
      after.keySet.exists(_.startsWith("_staged/")),
      before.forall { case (k, v) => churnable(k) || after.get(k).contains(v) },
      symmetricDiff(
        Curation.readRelease(spark, root).select(cols.map(col) :+ col("shard_id").cast("int"): _*),
        fresh.select(cols.map(col) :+ col("shard_id"): _*)),
      Curation.readRemoved(spark, root, "doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      manifest(reg).select("doc_id").distinct()
        .join(fresh.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("release: a one-stratum churn passes the drift gate and touches only its stratum") {
    Scales.foreach { n =>
      val r = release(n)
      assert(r.published, s"the drift gate tripped at ${n}x")
      assert(r.escaped.isEmpty, s"files outside the churned stratum changed at ${n}x")
      assert(r.untouchedKept, s"an untouched stratum's file changed at ${n}x")
      assert(!r.staged, s"staged residue at ${n}x")
    }
  }

  test("release: the maintained tree equals the from-scratch release, _removed exactly") {
    Scales.foreach { n =>
      assert(release(n).diff == 0L, s"at ${n}x")
      assert(release(n).removed == release(n).wantRemoved, s"at ${n}x")
    }
  }

  // ---- side table: one fixed churn round, then a tripped compaction

  private case class Side(roundBytes: Long, baseKept: Boolean, diff: Long, live: Long,
      wantLive: Long, maskPlan: String, compacted: (Int, Int, Long))

  private lazy val side = atScales { n =>
    val rows0 = docs.select(col("doc_id"), length(col("text")).as("n_chars"))
    val corpus = replicate(rows0, n, docStride, "doc_id") { (r, d) =>
      d.withColumn("n_chars", col("n_chars") + r)
    }
    val root = tmpDir("side")
    SideIndex.build(corpus, "doc_id", "chars", s"$root/base")
    val before = fileListing(s"$root/base")
    val churn = corpus.orderBy("doc_id").limit(Delta).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // half the deleted rows re-enter with a new payload; a quiet policy
      val readds = churn.where(col("doc_id") % 2 === 0).withColumn("n_chars", col("n_chars") + 1)
      val served = SideIndex.maintain(spark, s"$root/base", deletes = Some(churn.select("doc_id")),
        increment = Some(readds), "doc_id", "chars", s"$root/round", maxMaskedRatio = 1.0)
      val (roundBytes, baseKept) = (bytes(s"$root/round"), fileListing(s"$root/base") == before)
      val live = SideIndex.read(spark, served, "doc_id", "chars")
      val want = corpus.join(churn.select("doc_id"), Seq("doc_id"), "left_anti").unionByName(readds)
      val side = Side(roundBytes, baseKept, symmetricDiff(live, want),
        SideIndex.info(spark, served, "chars").head().getAs[Long]("n_rows_live"), want.count(),
        finalPlan(live), (0, 0, 0L))
      val c = SideIndex.info(spark, SideIndex.maintain(spark, served, None, None, "doc_id",
        "chars", s"$root/compact", maxSegments = 1), "chars").head()
      side.copy(compacted = (c.getInt(0), c.getInt(1), c.getAs[Long]("n_rows_live")))
    } finally churn.unpersist(): Unit
  }

  test("side table: a churn round leaves every base file untouched") {
    Scales.foreach(n => assert(side(n).baseKept, s"at ${n}x"))
  }

  test("side table: the masked live read and its info count equal the replayed rows") {
    Scales.foreach { n =>
      assert(side(n).diff == 0L, s"at ${n}x")
      assert(side(n).live == side(n).wantLive, s"at ${n}x")
    }
  }

  test("side table: a tripped round re-homes the live rows into one segment, no tombstone") {
    Scales.foreach(n => assert(side(n).compacted == ((1, 0, side(n).wantLive)), s"at ${n}x"))
  }

  // ---- laws every segmented family shares

  Seq[(String, () => Map[Int, Long])](
    "BM25 ingest batch root" -> (() => ingest.map { case (n, r) => n -> r.batchBytes }),
    "BM25 upsert batch root" -> (() => upsert.map { case (n, r) => n -> r.batchBytes }),
    "BM25 delete root" -> (() => lexical.map { case (n, l) => n -> l.deleteBytes }),
    "IVF-PQ delete root" -> (() => ann.map { case (n, a) => n -> a.deleteBytes }),
    "side-table round root" -> (() => side.map { case (n, s) => n -> s.roundBytes })
  ).foreach { case (what, at) =>
    test(s"O(delta): the $what of a fixed batch holds at most 3× its 1× bytes at ${N}x") {
      val b = at()
      info(s"${b(1)} B at 1x, ${b(N)} B at ${N}x")
      assert(b(1) > 0L && b(N) <= 3L * b(1), s"$b")
    }
  }

  Seq[(String, () => Map[Int, String])](
    "BM25 masked serve" -> (() => lexical.map { case (n, l) => n -> l.maskPlan }),
    "IVF-PQ masked read" -> (() => ann.map { case (n, a) => n -> a.maskPlan }),
    "side-table masked read" -> (() => side.map { case (n, s) => n -> s.maskPlan })
  ).foreach { case (what, at) =>
    test(s"mask plan: the $what joins its tombstone mask by broadcast, never sort-merge") {
      at().foreach { case (n, plan) =>
        assert(plan.contains("BroadcastHashJoin"), s"at ${n}x:\n$plan")
        assert(!plan.contains("SortMergeJoin"), s"at ${n}x:\n$plan")
      }
    }
  }
}
