package graft.operators

import graft.SparkTestBase

/** The memoized index-manifest handle: one parquet read per
  * generation, filesystem-listing staleness detection (a republished
  * manifest must be picked up, a stale handle never served), loud
  * refusal when the manifest — or a base root carried by reference —
  * is gone. Lives in package graft.operators to reach the
  * private[operators] surface directly.
  */
class IndexHandleSpec extends SparkTestBase {

  test("handle loads version/flavor/segments/tombstones with paths resolved at the root") {
    val dir = tmpDir("handle-load")
    val other = tmpDir("handle-load-absroot")
    IndexManifest.write(spark, dir, version = 3, flavor = "direct",
      segments = Seq("segments/seg-00000", s"$other/seg"),
      tombstones = Seq("tombstones/ts-00000"))
    // referenced dirs must exist for the load to accept the manifest
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/seg-00000"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$other/seg"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/tombstones/ts-00000"))
    val h = IndexManifest.handle(spark, dir)
    assert(h.version == 3 && h.flavor == "direct")
    assert(h.segments == Seq(s"$dir/segments/seg-00000", s"$other/seg"))
    assert(h.tombstones == Seq(s"$dir/tombstones/ts-00000"))
  }

  test("a republished manifest at the same path is picked up — stale handles are never served") {
    val dir = tmpDir("handle-stale")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/a"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/b"))
    IndexManifest.write(spark, dir, version = 3, segments = Seq("segments/a"))
    assert(IndexManifest.segmentPaths(spark, dir) == Seq(s"$dir/segments/a"))
    // warm the cache, then republish a NEW generation at the same root
    IndexManifest.write(spark, dir, version = 3, segments = Seq("segments/a", "segments/b"))
    assert(IndexManifest.segmentPaths(spark, dir) ==
      Seq(s"$dir/segments/a", s"$dir/segments/b"),
      "republish must invalidate the memoized handle")
    // and an out-of-band rewrite (no in-JVM invalidate) is still caught
    // by the listing fingerprint: simulate by writing through a session
    // path alias the cache has not seen won't do — rewrite the manifest
    // directory contents directly instead
    val m = spark.read.parquet(s"$dir/manifest")
    m.sparkSession.range(1).selectExpr(
        "3 as format_version", "'' as flavor",
        "array('segments/b') as segments",
        "cast(array() as array<string>) as tombstones")
      .write.mode("overwrite").parquet(s"$dir/manifest")
    assert(IndexManifest.segmentPaths(spark, dir) == Seq(s"$dir/segments/b"),
      "an external republish (fresh part-file names) must be detected by fingerprint")
  }

  test("missing manifest refuses loudly with the index name") {
    val dir = tmpDir("handle-missing")
    val e = intercept[IllegalArgumentException] {
      IndexManifest.handle(spark, dir, what = "BM25")
    }
    assert(e.getMessage.contains("no complete BM25 index"), e.getMessage)
  }

  test("the handle cache is LRU-bounded: the eldest path is evicted past the cap") {
    val saved = IndexManifest.handleCacheCap
    try {
      IndexManifest.handleCacheCap = 2
      // suites share one JVM (and so one cache): lowering the cap does
      // not shrink entries already present, and eviction is one-per-put
      // — start from empty so the bound is observable (evicted foreign
      // entries just reload on their next touch)
      IndexManifest.handleCacheClear()
      val dirs = (1 to 3).map { i =>
        val d = tmpDir(s"handle-lru-$i")
        IndexManifest.write(spark, d, version = 3, segments = Seq("segments/a"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$d/segments/a"))
        d
      }
      dirs.foreach(d => IndexManifest.handle(spark, d))
      assert(IndexManifest.handleCacheSize <= 2,
        s"cache grew past the cap: ${IndexManifest.handleCacheSize}")
      // the evicted path still serves — it just pays a reload
      assert(IndexManifest.handle(spark, dirs.head).segments.nonEmpty)
      assert(IndexManifest.handleCacheSize <= 2)
    } finally IndexManifest.handleCacheCap = saved
  }

  test("a base root deleted AFTER the handle is cached trips the periodic re-validation") {
    val dir = tmpDir("handle-revalidate")
    val base = tmpDir("handle-revalidate-base")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/a"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/seg"))
    IndexManifest.write(spark, dir, version = 3,
      segments = Seq("segments/a", s"$base/seg"))
    assert(IndexManifest.handle(spark, dir, "BM25").segments.size == 2)
    // delete the carried base root OUT OF BAND — the manifest (and so
    // the fingerprint) is untouched, so only re-validation can catch it
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/seg"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(base))
    val e = intercept[IllegalArgumentException] {
      (1 to 64).foreach(_ => IndexManifest.handle(spark, dir, "BM25"))
    }
    assert(e.getMessage.contains("no longer exists"), e.getMessage)
    // the tripped entry is dropped, so the very next call refuses at
    // load time instead of waiting out another period
    val e2 = intercept[IllegalArgumentException] {
      IndexManifest.handle(spark, dir, "BM25")
    }
    assert(e2.getMessage.contains("no longer exists"), e2.getMessage)
  }

  test("a vanished base root carried by reference fails at the manifest level, not mid-scan") {
    val dir = tmpDir("handle-gone")
    IndexManifest.write(spark, dir, version = 3,
      segments = Seq(s"$dir/segments/seg-00000", "/tmp/graft-retired-base/segments/seg-00000"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/seg-00000"))
    // the retired base root deliberately does NOT exist
    val e = intercept[IllegalArgumentException] {
      IndexManifest.handle(spark, dir, what = "BM25")
    }
    assert(e.getMessage.contains("no longer exists") &&
      e.getMessage.contains("compactIndex"), e.getMessage)
  }

  test("a handle cached on write equals the one reloaded from disk") {
    val dir = tmpDir("handle-onwrite")
    val base = tmpDir("handle-onwrite-base")
    Seq(s"$dir/segments/seg-00000", s"$dir/tombstones/ts-00000", s"$base/seg").foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    IndexManifest.write(spark, dir, version = 3, flavor = "pq-direct",
      segments = Seq(s"$base/seg", "segments/seg-00000"),
      tombstones = Seq("tombstones/ts-00000"))
    val (cached, jobs) = graft.JobCounter.jobsDuring(spark)(IndexManifest.handle(spark, dir))
    assert(jobs == 0, s"handle() right after write read the manifest back ($jobs jobs)")
    IndexManifest.handleCacheClear()
    val (reloaded, reloadJobs) =
      graft.JobCounter.jobsDuring(spark)(IndexManifest.handle(spark, dir))
    assert(reloadJobs > 0, "the cleared cache must reload from disk")
    assert(cached == reloaded)
  }

  test("a manifest whose roots do not exist yet is not cached on write") {
    val dir = tmpDir("handle-onwrite-missing")
    IndexManifest.write(spark, dir, version = 3, segments = Seq("segments/seg-00000"))
    // the roots appear after the write: the first handle() must load
    // (and validate) from disk, not serve anything cached by write
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/seg-00000"))
    val (h, jobs) = graft.JobCounter.jobsDuring(spark)(IndexManifest.handle(spark, dir))
    assert(jobs > 0, "a write whose roots did not exist must not have cached its handle")
    assert(h.segments == Seq(s"$dir/segments/seg-00000"))
  }

  test("a memoized directory read is not served after the directory is rewritten in place") {
    val dir = s"${tmpDir("dirmemo")}/stats"
    spark.range(3).selectExpr("id as a").write.parquet(dir)
    assert(IndexManifest.readDir(spark, dir).columns.toSeq == Seq("a"))
    assert(graft.JobCounter.jobs(spark)(IndexManifest.readDir(spark, dir).columns) == 0,
      "a re-read of an unchanged directory must come from the memo")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.range(5).selectExpr("id * 10 as b").write.parquet(dir)
    val again = IndexManifest.readDir(spark, dir)
    assert(again.columns.toSeq == Seq("b"))
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 10L, 20L, 30L, 40L))
    // a directory that is gone fails as the plain read does, and is
    // never cached as absent
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    intercept[org.apache.spark.sql.AnalysisException](IndexManifest.readDir(spark, dir))
  }

  /** The parquet data files of a one-row table directory, by name. */
  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def footer(f: java.io.File) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  test("a driver-written one-row table is the table a Spark write of the same row leaves") {
    import org.apache.spark.sql.functions.{lit, typedLit}
    val root = tmpDir("one-row-format")
    val segs = Seq("segments/seg-00000", s"$root/abs/seg-00001")
    Seq(s"$root/drv/segments/seg-00000", s"$root/ref/segments/seg-00000", s"$root/abs/seg-00001")
      .foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val manifest = Seq("format_version" -> 3, "flavor" -> "pq-direct", "segments" -> segs,
      "tombstones" -> Seq("tombstones/ts-00000"))
    val rows = Seq(
      "manifest" -> manifest,
      "pq-stats" -> Seq("n_vecs" -> 40L),
      "side-stats" -> Seq("n_rows" -> 7L),
      "bm25-stats" -> Seq("n_docs" -> 12L, "total_len" -> 57L),
      "bm25-tsstats" -> Seq("n_docs" -> 0L, "total_len" -> 0L))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/drv/tombstones/ts-00000"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/ref/tombstones/ts-00000"))
    rows.foreach { case (what, cols) =>
      val (drv, ref) =
        if (what == "manifest") (s"$root/drv/manifest", s"$root/ref/manifest")
        else (s"$root/drv-$what", s"$root/ref-$what")
      if (what == "manifest")
        IndexManifest.write(spark, s"$root/drv", version = 3, flavor = "pq-direct",
          segments = segs, tombstones = Seq("tombstones/ts-00000")): Unit
      else IndexManifest.writeOneRow(spark, drv, cols: _*)
      spark.range(1).select(cols.map {
        case (n, v: Seq[_]) => typedLit(v.map(_.toString)).as(n)
        case (n, v) => lit(v).as(n)
      }: _*).write.parquet(ref)

      val (d, r) = (spark.read.parquet(drv), spark.read.parquet(ref))
      assert(d.schema == r.schema, what)
      assert(d.collect().toSeq == r.collect().toSeq, what)
      assert(IndexManifest.readDir(spark, drv).schema == IndexManifest.readDir(spark, ref).schema,
        what)
      assert(IndexManifest.readDir(spark, drv).schema == r.schema, what)
      val longs = cols.collect { case (n, _: Long) => n }
      assert(IndexManifest.sumOneRowTables(spark, Seq(drv), longs) ==
        IndexManifest.sumOneRowTables(spark, Seq(ref), longs), what)
      assert(IndexManifest.footerRowCount(spark, drv) == 1L, what)
      assert(IndexManifest.footerRowCount(spark, ref) == 1L, what)
      // one data file beside _SUCCESS, each with its checksum
      val names = new java.io.File(drv).list().toSeq.sorted
      val part = names.filter(_.startsWith("part-"))
      assert(part.size == 1 && part.head.matches(
        "part-00000-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}-c000\\.snappy\\.parquet"),
        s"$what: $names")
      assert(names == Seq(s".${part.head}.crc", "._SUCCESS.crc", "_SUCCESS", part.head).sorted,
        s"$what: $names")
      // the footer Spark's row-carrying file has: row metadata, schema,
      // encodings — and so the same bytes on disk
      val refFile = dataFiles(ref).find(f => footer(f).getBlocks.size == 1).get
      val (fd, fr) = (footer(dataFiles(drv).head), footer(refFile))
      assert(fd.getFileMetaData.getKeyValueMetaData == fr.getFileMetaData.getKeyValueMetaData,
        what)
      assert(fd.getFileMetaData.getSchema == fr.getFileMetaData.getSchema, what)
      assert(fd.getBlocks.toString == fr.getBlocks.toString, what)
      assert(dataFiles(drv).head.length == refFile.length, what)
    }
    // handle() reads both manifests back to the same generation
    IndexManifest.handleCacheClear()
    val (hd, hr) = (IndexManifest.handle(spark, s"$root/drv"), IndexManifest.handle(spark, s"$root/ref"))
    assert(hd == hr.copy(segments = hr.segments.map(_.replace(s"$root/ref/", s"$root/drv/")),
      tombstones = hr.tombstones.map(_.replace(s"$root/ref/", s"$root/drv/"))))
    assert(hd.version == 3 && hd.flavor == "pq-direct" &&
      hd.segments == Seq(s"$root/drv/segments/seg-00000", s"$root/abs/seg-00001"))
  }

  test("a manifest holding only the one-row writer's temp file is crash residue, and a refusal under the serving root") {
    import spark.implicits._
    val root = tmpDir("one-row-crash")
    val ptr = s"$root/CURRENT"
    val docs = (1L to 7L).map(i => (i, s"spark join doc $i")).toDF("doc_id", "text")
    Retrieval.buildIndex(docs.where($"doc_id" <= 4), "doc_id", "text", s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base", "BM25")
    // a crash between the writer's data-file write and its rename
    def crashBeforeRename(indexRoot: String): Unit = {
      IndexManifest.stageOneRow(spark, s"$indexRoot/manifest", "format_version" -> 3,
        "flavor" -> "", "segments" -> Seq.empty[String], "tombstones" -> Seq.empty[String]): Unit
      val names = new java.io.File(s"$indexRoot/manifest").list().toSeq
      assert(names.nonEmpty && names.forall(_.startsWith(".")), names)
    }
    crashBeforeRename(s"$root/gen/batch-0/updated")
    Retrieval.ingestIndexBatch(spark, docs.where($"doc_id" >= 5), 0L, ptr, s"$root/gen",
      "doc_id", "text")
    val served = ServePointer.read(spark, ptr)
    assert(served.contains("/gen/batch-0/"),
      "the temp-only residue must have been cleaned and the batch committed")
    assert(Retrieval.liveDocIds(spark, served).count() == 7L)
    // the same shape under the SERVING root is out-of-band damage: the
    // replay refuses and deletes nothing
    crashBeforeRename(served.stripPrefix("file:"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.ingestIndexBatch(spark, docs.where($"doc_id" >= 5), 0L, ptr, s"$root/gen",
        "doc_id", "text")
    }
    assert(e.getMessage.contains("out-of-band corruption"), e.getMessage)
    assert(new java.io.File(served.stripPrefix("file:")).exists,
      "the refusal must not have deleted the serving root")
    assert(ServePointer.read(spark, ptr) == served)
  }
}
