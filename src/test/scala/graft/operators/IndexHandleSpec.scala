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

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("handle loads version/flavor/segments/tombstones with paths resolved at the root") {
    val dir = tmp("handle-load")
    val other = tmp("handle-load-absroot")
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
    val dir = tmp("handle-stale")
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
    val dir = tmp("handle-missing")
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
        val d = tmp(s"handle-lru-$i")
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
    val dir = tmp("handle-revalidate")
    val base = tmp("handle-revalidate-base")
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
    val dir = tmp("handle-gone")
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
    val dir = tmp("handle-onwrite")
    val base = tmp("handle-onwrite-base")
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
    val dir = tmp("handle-onwrite-missing")
    IndexManifest.write(spark, dir, version = 3, segments = Seq("segments/seg-00000"))
    // the roots appear after the write: the first handle() must load
    // (and validate) from disk, not serve anything cached by write
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/segments/seg-00000"))
    val (h, jobs) = graft.JobCounter.jobsDuring(spark)(IndexManifest.handle(spark, dir))
    assert(jobs > 0, "a write whose roots did not exist must not have cached its handle")
    assert(h.segments == Seq(s"$dir/segments/seg-00000"))
  }

  test("a memoized directory read is not served after the directory is rewritten in place") {
    val dir = s"${tmp("dirmemo")}/stats"
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
}
