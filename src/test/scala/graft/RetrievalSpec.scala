package graft

import graft.operators.Retrieval

/** BM25 lexical retrieval: scoring against a hand-computed reference
  * implementation of the same formula, ranking semantics, and the
  * rare-vs-stopword idf sign behavior on crafted corpora.
  */
class RetrievalSpec extends SparkTestBase {
  import spark.implicits._

  // 5 docs; "rare" appears in 1, "common" in 4 (> N/2 -> negative idf)
  private val docs = Seq(
    (0L, "rare common alpha beta"),
    (1L, "common alpha beta gamma delta epsilon zeta"),
    (2L, "common alpha"),
    (3L, "common beta gamma"),
    (4L, "alpha beta gamma delta")
  ).toDF("doc_id", "text")

  /** The scoring model, in plain Scala: the spec's independent replica. */
  private def refScore(
      tf: Long, df: Long, dl: Long, n: Long, total: Long,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val idf = log2(2 * n - 2 * df + 1) - log2(2 * df + 1)
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl * n / total.toDouble))
  }

  test("bm25 scores match the formula exactly on a crafted corpus") {
    val q = Seq((0L, "rare"), (0L, "common")).toDF("query_id", "term")
    val got = Retrieval.bm25(docs, "doc_id", "text", q)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // N=5, total_len=4+7+2+3+4=20; df(rare)=1, df(common)=4
    val dls = Map(0L -> 4L, 1L -> 7L, 2L -> 2L, 3L -> 3L, 4L -> 4L)
    val expect = Map(
      0L -> (refScore(1, 1, 4, 5, 20) + refScore(1, 4, 4, 5, 20)),
      1L -> refScore(1, 4, 7, 5, 20),
      2L -> refScore(1, 4, 2, 5, 20),
      3L -> refScore(1, 4, 3, 5, 20))
    assert(got.keySet == expect.keySet, s"matched docs: ${got.keySet}")
    expect.foreach { case (id, e) =>
      val rounded = BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == rounded, s"doc $id: got ${got(id)}, want $rounded")
    }
    assert(dls(0L) == 4L) // guard the hand-computed lengths against edits
  }

  test("stopword-like terms (df > N/2) contribute negative scores") {
    val q = Seq((0L, "common")).toDF("query_id", "term")
    val scores = Retrieval.bm25(docs, "doc_id", "text", q)
      .collect().map(_.getDouble(2))
    assert(scores.nonEmpty && scores.forall(_ < 0.0),
      s"df=4 of N=5 must score negative: ${scores.toSeq}")
  }

  test("docs sharing no query term emit no row") {
    val q = Seq((0L, "rare")).toDF("query_id", "term")
    val ids = Retrieval.bm25(docs, "doc_id", "text", q)
      .collect().map(_.getLong(1)).toSet
    assert(ids == Set(0L), s"only doc 0 contains 'rare': $ids")
  }

  test("searchTopK ranks by score desc with ties to the lower id") {
    val got = Retrieval.searchTopK(docs, "doc_id", "text", Seq("rare", "alpha"), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (1 to got.length).toSeq, "contiguous ranks")
    val scores = got.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "desc scores")
    got.zip(got.tail).foreach { case ((_, idA, sA), (_, idB, sB)) =>
      if (sA == sB) assert(idA < idB, s"tie must go to lower id: $idA vs $idB")
    }
    // doc 0 holds the only 'rare' hit plus an 'alpha' hit -> rank 1
    assert(got.head._2 == 0L, s"doc 0 must rank first: ${got.toSeq}")
  }

  test("invertedIndex carries tf and denormalized dl per distinct (doc, term)") {
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(idx(("common", 0L)) == (1L, 4L))
    assert(idx(("alpha", 1L)) == (1L, 7L))
    // one row per DISTINCT pair: doc 1 has 7 distinct terms
    assert(idx.keys.count(_._2 == 1L) == 7)
  }

  test("indexed serve returns the identical ranking as the direct scan") {
    val dir = java.nio.file.Files.createTempDirectory("retrieval-spec-idx").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val direct = Retrieval.searchTopK(docs, "doc_id", "text", Seq("rare", "alpha", "common"), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Retrieval.searchTopKIndexed(spark, dir, "doc_id", Seq("rare", "alpha", "common"), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed == direct, s"indexed $indexed != direct $direct")
  }

  test("updateIndex serves rankings identical to a from-scratch build on the union") {
    val base = docs.where($"doc_id" < 3)
    val increment = docs.where($"doc_id" >= 3)
    val baseDir = java.nio.file.Files.createTempDirectory("retrieval-spec-base").toString
    val updDir = java.nio.file.Files.createTempDirectory("retrieval-spec-upd").toString
    Retrieval.buildIndex(base, "doc_id", "text", baseDir)
    Retrieval.updateIndex(spark, baseDir, increment, "doc_id", "text", updDir)
    val q = Seq("rare", "alpha", "common", "gamma")
    val direct = Retrieval.searchTopK(docs, "doc_id", "text", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val updated = Retrieval.searchTopKIndexed(spark, updDir, "doc_id", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(updated == direct, s"updated $updated != direct $direct")
    // segmented df: each segment counts only its own docs, and the
    // QUERY-TIME sum across segments must recover the corpus df — the
    // base segment sits under baseDir, the increment's under updDir
    val dfRows = spark.read.parquet(
        s"$baseDir/segments/seg-00000/termdf", s"$updDir/segments/seg-00001/termdf")
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(dfRows.toMap.apply("common") == 4L, s"df(common) must sum across segments: $dfRows")
  }

  test("updates chain: two successive increments equal one build on everything") {
    val d0 = java.nio.file.Files.createTempDirectory("retrieval-spec-chain0").toString
    val d1 = java.nio.file.Files.createTempDirectory("retrieval-spec-chain1").toString
    val d2 = java.nio.file.Files.createTempDirectory("retrieval-spec-chain2").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 2), "doc_id", "text", d0)
    Retrieval.updateIndex(spark, d0, docs.where($"doc_id" === 2 || $"doc_id" === 3),
      "doc_id", "text", d1)
    Retrieval.updateIndex(spark, d1, docs.where($"doc_id" === 4), "doc_id", "text", d2)
    val q = Seq("rare", "common", "gamma")
    val direct = Retrieval.searchTopK(docs, "doc_id", "text", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val chained = Retrieval.searchTopKIndexed(spark, d2, "doc_id", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(chained == direct, s"chained $chained != direct $direct")
  }

  // fileListing comes from SparkTestBase — the shared (size, mtime)
  // snapshot the O(increment)/O(delta) assertions compare

  test("updateIndex is O(increment): base untouched, out holds ONE increment-sized segment, 3-generation chain") {
    val d0 = java.nio.file.Files.createTempDirectory("retrieval-oinc-0").toString
    val d1 = java.nio.file.Files.createTempDirectory("retrieval-oinc-1").toString
    val d2 = java.nio.file.Files.createTempDirectory("retrieval-oinc-2").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 3), "doc_id", "text", d0)
    val base0 = fileListing(d0)

    val inc1 = docs.where($"doc_id" === 3)
    Retrieval.updateIndex(spark, d0, inc1, "doc_id", "text", d1)
    // the base generation's files are byte-for-byte untouched — the
    // update wrote NOTHING under the old root
    assert(fileListing(d0) == base0, "update rewrote base index files")
    // the new root holds exactly the manifest and ONE new segment
    val d1Dirs = new java.io.File(d1).listFiles().map(_.getName).toSet
    assert(d1Dirs == Set("manifest", "segments"), s"unexpected entries under out: $d1Dirs")
    val d1Segs = new java.io.File(s"$d1/segments").listFiles().map(_.getName).toSet
    assert(d1Segs == Set("seg-00001"), s"expected one new segment: $d1Segs")
    // ...and that segment's tables are increment-sized, not corpus-sized
    val segPostings = spark.read.parquet(s"$d1/segments/seg-00001/postings").count()
    val incPostings = Retrieval.invertedIndex(inc1, "doc_id", "text").count()
    assert(segPostings == incPostings, s"segment postings $segPostings != increment's $incPostings")
    assert(spark.read.parquet(s"$d1/segments/seg-00001/doclen").count() == 1L)

    // generation 2: neither earlier root gains or loses a byte
    val upd1 = fileListing(d1)
    Retrieval.updateIndex(spark, d1, docs.where($"doc_id" === 4), "doc_id", "text", d2)
    assert(fileListing(d0) == base0, "second update rewrote generation-0 files")
    assert(fileListing(d1) == upd1, "second update rewrote generation-1 files")
    val d2Segs = new java.io.File(s"$d2/segments").listFiles().map(_.getName).toSet
    assert(d2Segs == Set("seg-00002"), s"expected one new segment: $d2Segs")

    // the three-root chain still serves exactly the direct-path answer
    val q = Seq("rare", "common", "gamma")
    val direct = Retrieval.searchTopK(docs, "doc_id", "text", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val chained = Retrieval.searchTopKIndexed(spark, d2, "doc_id", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(chained == direct, s"chained $chained != direct $direct")
  }

  test("compactIndex merges the segment chain into ONE self-contained root that serves identically") {
    val d0 = java.nio.file.Files.createTempDirectory("retrieval-compact-0").toString
    val d1 = java.nio.file.Files.createTempDirectory("retrieval-compact-1").toString
    val c = java.nio.file.Files.createTempDirectory("retrieval-compact-c").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 3), "doc_id", "text", d0)
    Retrieval.updateIndex(spark, d0, docs.where($"doc_id" >= 3), "doc_id", "text", d1)
    Retrieval.compactIndex(spark, d1, c)
    // one self-contained segment; the full corpus-sized tables live here
    val cSegs = new java.io.File(s"$c/segments").listFiles().map(_.getName).toSet
    assert(cSegs == Set("seg-00000"), s"compacted root must hold one segment: $cSegs")
    val allPostings = Retrieval.invertedIndex(docs, "doc_id", "text").count()
    assert(spark.read.parquet(s"$c/segments/seg-00000/postings").count() == allPostings)
    assert(spark.read.parquet(s"$c/segments/seg-00000/doclen").count() == docs.count())
    val stats = spark.read.parquet(s"$c/segments/seg-00000/stats").collect()
    assert(stats.length == 1, "compacted stats must re-aggregate to one row")
    // in-place compaction refused (cannot overwrite an index being read)
    assertThrows[IllegalArgumentException](Retrieval.compactIndex(spark, c, c))
    // and the answer is unchanged — compaction is storage, not semantics
    val q = Seq("rare", "alpha", "common", "gamma")
    val direct = Retrieval.searchTopK(docs, "doc_id", "text", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val compacted = Retrieval.searchTopKIndexed(spark, c, "doc_id", q, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(compacted == direct, s"compacted $compacted != direct $direct")
  }

  test("deleteFromIndex masks docs exactly; delete + update is the per-doc update; compaction pays the debt") {
    val d0 = java.nio.file.Files.createTempDirectory("retrieval-del-0").toString
    val dDel = java.nio.file.Files.createTempDirectory("retrieval-del-1").toString
    val dUpd = java.nio.file.Files.createTempDirectory("retrieval-del-2").toString
    val c = java.nio.file.Files.createTempDirectory("retrieval-del-c").toString
    Retrieval.buildIndex(docs, "doc_id", "text", d0)
    val base0 = fileListing(d0)
    Retrieval.deleteFromIndex(spark, d0, Seq(1L, 3L).toDF("doc_id"), "doc_id", dDel)
    // O(delta): the base index gains/loses no byte; the new root holds
    // ONLY the manifest and the tombstone dir (no data segment)
    assert(fileListing(d0) == base0, "delete rewrote base index files")
    val dDirs = new java.io.File(dDel).listFiles().map(_.getName).toSet
    assert(dDirs == Set("manifest", "tombstones"), s"unexpected entries: $dDirs")
    // serving from the deleted index == a direct scan of the remaining
    // corpus: postings mask, per-term df subtraction, AND the
    // tsstats-based (n_docs, total_len) correction must all be exact —
    // BM25 scores move with N and avg doclen, so any slack shows
    val q = Seq("rare", "common", "gamma")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val remaining = docs.where(!$"doc_id".isin(1L, 3L))
    assert(ranks(Retrieval.searchTopKIndexed(spark, dDel, "doc_id", q, k = 5))
      == ranks(Retrieval.searchTopK(remaining, "doc_id", "text", q, k = 5)))
    // guards: unknown and already-deleted ids refuse loudly
    val scratch = java.nio.file.Files.createTempDirectory("retrieval-del-x").toString
    assertThrows[IllegalArgumentException](
      Retrieval.deleteFromIndex(spark, dDel, Seq(99L).toDF("doc_id"), "doc_id", scratch))
    assertThrows[IllegalArgumentException](
      Retrieval.deleteFromIndex(spark, dDel, Seq(1L).toDF("doc_id"), "doc_id", scratch))
    assertThrows[IllegalArgumentException](Retrieval.deleteFromIndex(
      spark, dDel, Seq(Some(2L), None).toDF("doc_id"), "doc_id", scratch))
    // the per-document UPDATE path: re-add deleted doc 1 with NEW text;
    // the sequenced tombstone must mask only the OLD segment's rows
    val newDoc1 = Seq((1L, "rare gamma gamma zeta")).toDF("doc_id", "text")
    Retrieval.updateIndex(spark, dDel, newDoc1, "doc_id", "text", dUpd)
    val updatedCorpus = remaining.unionByName(newDoc1)
    val directUpd = ranks(Retrieval.searchTopK(updatedCorpus, "doc_id", "text", q, k = 5))
    assert(ranks(Retrieval.searchTopKIndexed(spark, dUpd, "doc_id", q, k = 5)) == directUpd,
      "delete + re-add must serve exactly the updated corpus")
    // a LIVE doc still refuses re-submission
    assertThrows[IllegalArgumentException](
      Retrieval.updateIndex(spark, dUpd, Seq((0L, "x y")).toDF("doc_id", "text"),
        "doc_id", "text", scratch))
    // compaction applies tombstones physically: doc 3 and OLD doc 1
    // leave disk, the re-added doc 1 survives, manifest carries no
    // tombstones, and serving is unchanged
    Retrieval.compactIndex(spark, dUpd, c)
    val cIds = spark.read.parquet(s"$c/segments/seg-00000/doclen")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cIds == Set(0L, 1L, 2L, 4L), s"compacted doclen ids: $cIds")
    val cPostings = spark.read.parquet(s"$c/segments/seg-00000/postings")
    assert(cPostings.where($"doc_id" === 3L).count() == 0, "deleted doc's postings survived compaction")
    assert(cPostings.where($"doc_id" === 1L && $"term" === "zeta").count() == 1,
      "re-added doc's NEW postings must survive compaction")
    assert(cPostings.where($"doc_id" === 1L && $"term" === "delta").count() == 0,
      "re-added doc's OLD postings must not survive compaction")
    assert(ranks(Retrieval.searchTopKIndexed(spark, c, "doc_id", q, k = 5)) == directUpd)
  }

  test("maintenance chains survive a relative base index path: carried references qualify") {
    // a base index built at a RELATIVE path, then chained to an
    // absolute out root: the new manifest must reference the base
    // segments/tombstones FULLY QUALIFIED — written verbatim-relative,
    // a reader would re-anchor them at the NEW root and crash (or
    // silently read a wrong directory)
    def rm(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    val relBase = "target/retrieval-spec-relbase"
    rm(java.nio.file.Paths.get(relBase))
    val out = java.nio.file.Files.createTempDirectory("retrieval-rel-out").toString
    val out2 = java.nio.file.Files.createTempDirectory("retrieval-rel-out2").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 3), "doc_id", "text", relBase)
    Retrieval.updateIndex(spark, relBase, docs.where($"doc_id" >= 3), "doc_id", "text", out)
    val q = Seq("rare", "common", "gamma")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ranks(Retrieval.searchTopKIndexed(spark, out, "doc_id", q, k = 5))
      == ranks(Retrieval.searchTopK(docs, "doc_id", "text", q, k = 5)),
      "chained index with a relative base must serve the full corpus")
    // and a SECOND-generation operation from the absolute root still
    // resolves the (once-relative) base segments
    Retrieval.deleteFromIndex(spark, out, Seq(0L).toDF("doc_id"), "doc_id", out2)
    assert(ranks(Retrieval.searchTopKIndexed(spark, out2, "doc_id", q, k = 5))
      == ranks(Retrieval.searchTopK(docs.where($"doc_id" =!= 0L), "doc_id", "text", q, k = 5)),
      "second-generation delete over the once-relative base diverged")
  }

  test("indexInfo reports metadata-derived masses; needsCompaction triggers on segments or masked share") {
    val d0 = java.nio.file.Files.createTempDirectory("retrieval-info-0").toString
    val d1 = java.nio.file.Files.createTempDirectory("retrieval-info-1").toString
    val dDel = java.nio.file.Files.createTempDirectory("retrieval-info-d").toString
    Retrieval.buildIndex(docs, "doc_id", "text", d0)
    def info(p: String) = Retrieval.indexInfo(spark, p).head()
    val i0 = info(d0)
    assert((i0.getInt(0), i0.getInt(1), i0.getLong(2), i0.getLong(3), i0.getLong(4), i0.getLong(5))
      == ((1, 0, 5L, 0L, 5L, 20L)), s"fresh build info: $i0")
    assert(!Retrieval.needsCompaction(spark, d0), "fresh build must not need compaction")
    // deleting docs 1 and 3 masks dl 7 + 3 = 10 of 20 tokens, 2 of 5
    // docs — a 40% masked share trips the default 0.2 ratio
    Retrieval.deleteFromIndex(spark, d0, Seq(1L, 3L).toDF("doc_id"), "doc_id", dDel)
    val iDel = info(dDel)
    assert((iDel.getInt(0), iDel.getInt(1), iDel.getLong(2), iDel.getLong(3), iDel.getLong(4), iDel.getLong(5))
      == ((1, 1, 5L, 2L, 3L, 10L)), s"post-delete info: $iDel")
    assert(Retrieval.needsCompaction(spark, dDel), "40% masked share must trip the ratio")
    assert(!Retrieval.needsCompaction(spark, dDel, maxMaskedRatio = 0.5),
      "a 0.5 ratio threshold must tolerate 40%")
    // a second segment trips a maxSegments = 1 policy
    Retrieval.updateIndex(spark, d0, Seq((9L, "brand new doc")).toDF("doc_id", "text"),
      "doc_id", "text", d1)
    assert(Retrieval.needsCompaction(spark, d1, maxSegments = 1),
      "two segments must trip maxSegments = 1")
    assert(!Retrieval.needsCompaction(spark, d1), "two segments are fine by default")
  }

  test("maintainIndex chains rounds and auto-compacts exactly when the policy trips") {
    val base = java.nio.file.Files.createTempDirectory("retrieval-maint-0").toString
    val r1 = java.nio.file.Files.createTempDirectory("retrieval-maint-1").toString
    val r2 = java.nio.file.Files.createTempDirectory("retrieval-maint-2").toString
    val r3 = java.nio.file.Files.createTempDirectory("retrieval-maint-3").toString
    val r4 = java.nio.file.Files.createTempDirectory("retrieval-maint-4").toString
    Retrieval.buildIndex(docs, "doc_id", "text", base)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    def serveEq(path: String, corpus: org.apache.spark.sql.DataFrame): Unit = {
      val q = Seq("rare", "alpha", "common")
      assert(ranks(Retrieval.searchTopKIndexed(spark, path, "doc_id", q, k = 10))
        == ranks(Retrieval.searchTopK(corpus, "doc_id", "text", q, k = 10)),
        s"serve from $path diverged from the direct path")
    }
    def info(p: String) = {
      val r = Retrieval.indexInfo(spark, p).head(); (r.getInt(0), r.getInt(1))
    }
    // round 1: increment only, quiet policy -> the updated root serves
    val extra = Seq((9L, "alpha gamma fresh")).toDF("doc_id", "text")
    val p1 = Retrieval.maintainIndex(spark, base, None, Some(extra), "doc_id", "text", r1)
    assert(p1 == s"$r1/updated", p1)
    serveEq(p1, docs.unionByName(extra))
    // round 2: one delete, tolerant ratio -> masked debt carried, no compaction
    val p2 = Retrieval.maintainIndex(spark, p1, Some(Seq(1L).toDF("doc_id")), None,
      "doc_id", "text", r2, maxMaskedRatio = 0.5)
    assert(p2 == s"$r2/deleted", p2)
    assert(info(p2) == ((2, 1)), s"round 2 must keep 2 segments + 1 tombstone gen: ${info(p2)}")
    serveEq(p2, docs.where($"doc_id" =!= 1).unionByName(extra))
    // round 3: second delete pushes masked share to 2/6 > 0.2 -> compaction
    // fires, the served root is one self-contained segment with no debt
    val p3 = Retrieval.maintainIndex(spark, p2, Some(Seq(0L).toDF("doc_id")), None,
      "doc_id", "text", r3)
    assert(p3 == s"$r3/compacted", p3)
    assert(info(p3) == ((1, 0)), s"compaction must clear segments+tombstones: ${info(p3)}")
    serveEq(p3, docs.where($"doc_id" > 1).unionByName(extra))
    // a no-op round (nothing to apply, quiet policy) serves the same root
    assert(Retrieval.maintainIndex(spark, p3, None, None, "doc_id", "text", r4) == p3)
    // outRoot REUSE refuses loudly: feeding round 3's compacted output
    // back under the same r3 would make the next tripped compaction
    // overwrite segments it is reading
    val e = intercept[IllegalArgumentException] {
      Retrieval.maintainIndex(spark, p3, Some(Seq(2L).toDF("doc_id")), None,
        "doc_id", "text", r3)
    }
    assert(e.getMessage.contains("not fresh"), e.getMessage)
  }

  test("indexInfo degrades an EMPTY stats table to zeros; needsCompaction stays poll-safe") {
    // a listed segment whose stats parquet exists but holds zero rows
    // (partial write predating the manifest protocol, or external
    // truncation) must read as zero mass, not surface a null that
    // NPEs the scheduler's compaction probe
    val dir = java.nio.file.Files.createTempDirectory("retrieval-info-empty").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val statsPath = s"$dir/segments/seg-00000/stats"
    spark.read.parquet(statsPath).limit(0)
      .write.mode("overwrite").parquet(s"$statsPath.tmp")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(statsPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$statsPath.tmp"),
      new org.apache.hadoop.fs.Path(statsPath))
    val r = Retrieval.indexInfo(spark, dir).head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == ((0L, 0L, 0L, 0L)),
      s"truncated stats must degrade to zeros: $r")
    assert(!Retrieval.needsCompaction(spark, dir),
      "zero indexed docs must not NPE or trip the masked-share ratio")
  }

  test("updateIndex refuses an increment that re-submits an indexed doc") {
    val base = java.nio.file.Files.createTempDirectory("retrieval-spec-dup0").toString
    val out = java.nio.file.Files.createTempDirectory("retrieval-spec-dup1").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 3), "doc_id", "text", base)
    val e = intercept[IllegalArgumentException] {
      // doc 2 is already indexed: merging it would double-count its
      // postings/df/stats and still earn a valid manifest
      Retrieval.updateIndex(spark, base, docs.where($"doc_id" >= 2), "doc_id", "text", out)
    }
    assert(e.getMessage.contains("already live"), e.getMessage)
  }

  test("updateIndex refuses a pre-doclen index format instead of crashing mid-update") {
    val base = java.nio.file.Files.createTempDirectory("retrieval-spec-v1").toString
    val out = java.nio.file.Files.createTempDirectory("retrieval-spec-v1out").toString
    Retrieval.buildIndex(docs.where($"doc_id" < 3), "doc_id", "text", base)
    // simulate an index written by the previous release: doclen absent,
    // manifest declaring format version 1
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(base, "segments", "seg-00000", "doclen"))
    spark.range(1).select(org.apache.spark.sql.functions.lit(1).as("format_version"))
      .write.mode("overwrite").parquet(s"$base/manifest")
    val e = intercept[IllegalArgumentException] {
      Retrieval.updateIndex(spark, base, docs.where($"doc_id" >= 3), "doc_id", "text", out)
    }
    assert(e.getMessage.contains("format version"), e.getMessage)
  }

  test("updateIndex catches a re-submitted ZERO-TOKEN doc (no postings row to check)") {
    // an empty doc earns no postings but counts toward n_docs: a guard
    // derived from the postings id set would let it resubmit and skew
    // BM25 length normalization — the doclen table must catch it
    val base = java.nio.file.Files.createTempDirectory("retrieval-spec-zt0").toString
    val out = java.nio.file.Files.createTempDirectory("retrieval-spec-zt1").toString
    val withEmpty = docs.where($"doc_id" < 3)
      .unionByName(Seq((99L, "")).toDF("doc_id", "text"))
    Retrieval.buildIndex(withEmpty, "doc_id", "text", base)
    val e = intercept[IllegalArgumentException] {
      Retrieval.updateIndex(spark, base,
        Seq((99L, "")).toDF("doc_id", "text"), "doc_id", "text", out)
    }
    assert(e.getMessage.contains("already live"), e.getMessage)
  }

  test("batch serve answers every query identically to its own direct-path ranking") {
    val dir = java.nio.file.Files.createTempDirectory("retrieval-spec-batch").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val q = Seq((0L, "rare"), (0L, "alpha"), (1L, "common"), (1L, "gamma"), (2L, "zeta"))
      .toDF("query_id", "term")
    val got = Retrieval.searchTopKIndexedBatch(spark, dir, "doc_id", q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val perQuery = Map(
      0L -> Seq("rare", "alpha"), 1L -> Seq("common", "gamma"), 2L -> Seq("zeta"))
    perQuery.foreach { case (qid, terms) =>
      val direct = Retrieval.searchTopK(docs, "doc_id", "text", terms, k = 5)
        .collect().map(r => (qid, r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got(qid).toSeq == direct, s"query $qid: ${got(qid).toSeq} != $direct")
    }
  }

  test("serving refuses an index whose manifest is missing (interrupted build)") {
    val dir = java.nio.file.Files.createTempDirectory("retrieval-spec-nomanifest").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    // simulate a crash between table writes: the commit marker is gone
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val e = intercept[IllegalArgumentException] {
      Retrieval.searchTopKIndexed(spark, dir, "doc_id", Seq("rare"), k = 3)
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("zero-token docs count toward N in the index stats like the direct path") {
    val padded = Seq((0L, "rare alpha"), (1L, "  "), (2L, "alpha beta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("retrieval-spec-zero").toString
    Retrieval.buildIndex(padded, "doc_id", "text", dir)
    val stats = spark.read.parquet(s"$dir/segments/seg-00000/stats").collect()(0)
    assert(stats.getLong(0) == 3L, s"N must include the zero-token doc: ${stats.getLong(0)}")
    assert(stats.getLong(1) == 4L)
    val direct = Retrieval.searchTopK(padded, "doc_id", "text", Seq("rare"), k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Retrieval.searchTopKIndexed(spark, dir, "doc_id", Seq("rare"), k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed == direct, s"indexed $indexed != direct $direct")
  }

  test("tfidfKeywords surfaces rare terms above stopwords, ties to the smaller term") {
    val kw = Retrieval.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val doc0 = kw.filter(_._1 == 0L).sortBy(_._2)
    // doc 0 = "rare common alpha beta": df(rare)=1 < df(alpha)=4 = df(beta)=4
    // < df(common)=4 — 'rare' has the highest idf, then the alpha/beta/
    // common three-way tf*idf tie resolves lexicographically
    assert(doc0.map(_._3).toSeq == Seq("rare", "alpha"), s"doc 0 keywords: ${doc0.toSeq}")
    // every score is positive (idf form log2(2N+1)-log2(2df+1) > 0)
    assert(kw.forall(_._4 > 0.0))
    // ranks are contiguous from 1 within every doc
    kw.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length).toSeq, s"ranks: ${g.toSeq}")
    }
  }

  test("rrfFuse sums reciprocal ranks with fixed order, absent side contributes zero") {
    val lex = Seq((10L, 1), (11L, 2)).toDF("doc_id", "rank")
    val sem = Seq((11L, 1), (12L, 2)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(lex, sem, "doc_id", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 11 appears in both lists (1/62 + 1/61), 10 and 12 in one each
    val expect = Seq(
      (1, 11L, r6(1.0 / 62 + 1.0 / 61)),
      (2, 10L, r6(1.0 / 61)),
      (3, 12L, r6(1.0 / 62)))
    assert(got == expect, s"got $got, want $expect")
  }

  test("phraseHits counts consecutive-token occurrences, overlapping included") {
    val corpus = Seq(
      (0L, "a b a b a"),     // "a b" twice, "a b a" twice (overlap)
      (1L, "a  b"),          // split artifacts: still one "a b"
      (2L, "b a"),           // reversed: no "a b"
      (3L, "a")              // too short for any bigram
    ).toDF("doc_id", "text")
    def hits(phrase: String) =
      Retrieval.phraseHits(corpus, "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("a b") == Map(0L -> 2L, 1L -> 1L))
    assert(hits("a b a") == Map(0L -> 2L))
    assert(hits("a") == Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("scoreAgainstQuery matches bm25 even with duplicate query terms") {
    val terms = Seq("rare", "common", "rare") // duplicate re-scores
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
    val dfMap = idx.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = terms.zipWithIndex.map { case (t, _) => (0L, t) }.toDF("query_id", "term")
    val batched = Retrieval.bm25(docs, "doc_id", "text", q)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val projected = Retrieval.scoreAgainstQuery(docs, "doc_id", "text", terms,
      dfMap, nDocs = 5L, totalLen = 20L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(projected == batched, s"projected $projected != batched $batched")
  }

  test("liveDocHashes: a pre-fingerprint segment reads unknown, and the content audit degrades to the set check") {
    import graft.operators.IndexAudit
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-prehash").toString
    Retrieval.buildIndex(docs, "doc_id", "text", s"$root/idx")
    // strip the fingerprint column from the published segment's doclen
    // in place — simulating an index built before the column existed
    // (the manifest is untouched, so the handle still loads)
    val dlPath = s"$root/idx/segments/seg-00000/doclen"
    spark.read.parquet(dlPath).select("doc_id", "dl")
      .write.parquet(s"$root/tmp-doclen")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dlPath), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/tmp-doclen"),
      new org.apache.hadoop.fs.Path(dlPath)))
    val hashes = Retrieval.liveDocHashes(spark, s"$root/idx")
    assert(hashes.count() == docs.count())
    assert(hashes.where(col("content_hash").isNotNull).count() == 0L,
      "a pre-fingerprint segment must read unknown, not fail")
    // null = "content unknown" is NEVER stale: the audit reports the id
    // sets in sync instead of failing the tier on absent evidence
    val registry = docs.select(col("doc_id"),
      Retrieval.contentHash(col("text")).as("h"))
    val rep = IndexAudit.auditContent(registry, "doc_id", "h",
      Seq("bm25" -> hashes)).head()
    assert(rep.getAs[Long]("n_stale") == 0L && rep.getAs[Long]("in_sync") == 1L,
      s"null hashes are never stale — the audit degrades to the set check: $rep")
  }

  test("unknown query terms score nothing rather than failing") {
    val got = Retrieval.searchTopK(docs, "doc_id", "text", Seq("nonexistent"), k = 5)
    assert(got.collect().isEmpty)
  }

  test("empty-token artifacts neither score nor count toward length") {
    val padded = Seq((0L, "  rare   alpha  "), (1L, "alpha beta")).toDF("doc_id", "text")
    val q = Seq((0L, "rare")).toDF("query_id", "term")
    val got = Retrieval.bm25(padded, "doc_id", "text", q)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // dl(0)=2, dl(1)=2, N=2, total=4, df(rare)=1, tf=1
    val e = refScore(1, 1, 2, 2, 4)
    val rounded = BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(0L -> rounded), s"got $got, want ${Map(0L -> rounded)}")
  }
}
