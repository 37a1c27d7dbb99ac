package graft.operators

import graft.JobCounter.{jobs, jobsDuring, writesDuring}
import graft.SparkTestBase

/** The fixed cost of the index lifecycle in Spark jobs, counted by a
  * listener (never timed): metadata the driver already read or wrote
  * is not read again, and one upsert round on a tiny fixture stays
  * within the job budget this layout lands with.
  */
class IndexJobCountSpec extends SparkTestBase {
  import spark.implicits._

  private val words = Seq("spark", "join", "stream", "index", "segment", "merge", "query")
  private def docs(ids: Seq[Long], tag: String) =
    ids.map(i => (i, s"${words((i % 7).toInt)} ${words(((i / 7) % 7).toInt)} $tag $i"))
      .toDF("doc_id", "text")
  private def sideRows(ids: Seq[Long], tag: String) =
    ids.map(i => (i, s"$tag-$i")).toDF("doc_id", "payload")
  private def vecs(ids: Seq[Long], shift: Float) =
    ids.map(i => (i, Array.tabulate(8)(d => i * 0.1f + d + shift))).toDF("doc_id", "embedding")
  // the frozen quantizer models, trained once outside every counted block
  private lazy val (coarse, codebooks) = {
    val base = vecs(1L to 60L, 0f)
    (Similarity.trainCentroids(base, "doc_id", "embedding", 4),
      Similarity.trainProductCodebooks(base, "doc_id", "embedding", numSub = 4, nCentroids = 8))
  }

  // one upsert batch: 3 live ids replaced, 7 new ids
  private def batchIds(round: Int): Seq[Long] =
    Seq(3L, 11L, 29L).map(_ + round) ++ (100L + 10 * round until 107L + 10 * round)

  test("re-reading segment, tombstone and stats directories launches no job") {
    val root = tmpDir("jobs-reread")
    Retrieval.buildIndex(docs(1L to 60L, "base"), "doc_id", "text", s"$root/base")
    Retrieval.deleteFromIndex(spark, s"$root/base", Seq(3L, 4L).toDF("doc_id"), "doc_id",
      s"$root/del")
    val h = IndexManifest.handle(spark, s"$root/del", "BM25")
    def reads(): Unit = {
      IndexManifest.segTableOrd(spark, h.segments, "doclen").columns: Unit
      IndexManifest.tombstoneRel(spark, h.tombstones, "doc_id").get.columns: Unit
      Retrieval.needsCompaction(spark, s"$root/del"): Unit
      Retrieval.indexInfo(spark, s"$root/del").head(): Unit
    }
    reads()
    assert(jobs(spark)(reads()) == 0)
    SideIndex.build(sideRows(1L to 60L, "base"), "doc_id", "t", s"$root/side")
    SideIndex.delete(spark, s"$root/side", Seq(5L).toDF("doc_id"), "doc_id", s"$root/side-del")
    SideIndex.info(spark, s"$root/side-del", "t").head(): Unit
    assert(jobs(spark)(SideIndex.needsCompaction(spark, s"$root/side-del", "t")) == 0)
  }

  test("the first read of a freshly written segment, tombstone and stats directory launches no job") {
    val root = tmpDir("jobs-first-read")
    Retrieval.buildIndex(docs(1L to 40L, "base"), "doc_id", "text", s"$root/bm25")
    Similarity.writePqIndex(vecs(1L to 40L, 0f), "doc_id", "embedding", coarse, codebooks,
      s"$root/pq")
    SideIndex.build(sideRows(1L to 40L, "base"), "doc_id", "t", s"$root/side")
    def seg(path: String) = IndexManifest.handle(spark, path).segments.head
    val segDirs =
      Seq("postings", "termdf", "stats", "doclen").map(t => s"${seg(s"$root/bm25")}/$t") ++
      Seq(s"${seg(s"$root/pq")}/vectors", s"${seg(s"$root/pq")}/stats",
        s"${seg(s"$root/side")}/rows", s"${seg(s"$root/side")}/stats")
    assert(jobs(spark)(segDirs.foreach(d => IndexManifest.readDir(spark, d).columns: Unit)) == 0)
    Retrieval.deleteFromIndex(spark, s"$root/bm25", Seq(3L).toDF("doc_id"), "doc_id",
      s"$root/del")
    val ts = IndexManifest.handle(spark, s"$root/del").tombstones.head
    assert(jobs(spark) {
      IndexManifest.readDir(spark, s"$ts/ids").columns: Unit
      IndexManifest.readDir(spark, s"$ts/tsstats").columns: Unit
    } == 0)
  }

  test("readDir's driver-read schema equals Spark's inferred schema for every index table") {
    val root = tmpDir("jobs-schema")
    Retrieval.buildIndex(docs(1L to 40L, "base"), "doc_id", "text", s"$root/bm25")
    Retrieval.deleteFromIndex(spark, s"$root/bm25", Seq(3L).toDF("doc_id"), "doc_id",
      s"$root/del")
    Similarity.writePqIndex(vecs(1L to 40L, 0f), "doc_id", "embedding", coarse, codebooks,
      s"$root/pq")
    SideIndex.build(sideRows(1L to 40L, "base"), "doc_id", "t", s"$root/side")
    val h = IndexManifest.handle(spark, s"$root/del")
    def seg(path: String) = IndexManifest.handle(spark, path).segments.head
    val dirs = Seq("postings", "termdf", "stats", "doclen").map(t => s"${h.segments.head}/$t") ++
      Seq(s"${seg(s"$root/pq")}/vectors", s"${seg(s"$root/side")}/rows",
        s"${h.tombstones.head}/ids", s"${h.tombstones.head}/tsstats", s"$root/del/manifest")
    // a footer without Spark's row metadata (written by parquet-hadoop
    // alone) takes the fallback: Spark's own inference, in a job
    val plain = s"$root/plain"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$plain/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("name", "a"))
    finally w.close()
    assert(jobs(spark)(IndexManifest.readDir(spark, plain).columns) > 0,
      "a footer without Spark metadata should fall back to Spark's inference")
    (dirs :+ plain).foreach { d =>
      assert(IndexManifest.readDir(spark, d).schema == spark.read.parquet(d).schema, d)
    }
    assert(dirs.forall(d => IndexManifest.readDir(spark, d).schema.nonEmpty))
    assert(IndexManifest.readDir(spark, s"${seg(s"$root/pq")}/vectors").columns.last == "cell")
  }

  test("handle() right after a family publishes launches no job") {
    val root = tmpDir("jobs-onwrite")
    Retrieval.buildIndex(docs(1L to 40L, "base"), "doc_id", "text", s"$root/base")
    Retrieval.updateIndex(spark, s"$root/base", docs(41L to 45L, "inc"), "doc_id", "text",
      s"$root/up")
    val (h, n) = jobsDuring(spark)(IndexManifest.handle(spark, s"$root/up", "BM25"))
    assert(n == 0, s"handle() after updateIndex read its manifest back ($n jobs)")
    assert(h.segments.size == 2)
  }

  test("publishing a generation (manifest, stats, tsstats) launches no job") {
    val root = tmpDir("jobs-publish")
    Similarity.writePqIndex(vecs(1L to 40L, 0f), "doc_id", "embedding", coarse, codebooks,
      s"$root/pq")
    SideIndex.build(sideRows(1L to 40L, "base"), "doc_id", "t", s"$root/side")
    // one PQ update and one side delete: every Spark write is a data
    // table, and the one-row tables they publish come from the driver
    val (written, n) = jobsDuring(spark)(writesDuring(spark) {
      Similarity.updatePqIndex(spark, s"$root/pq", vecs(41L to 45L, 1f), "doc_id", "embedding",
        coarse, codebooks, s"$root/pq-up")
      SideIndex.delete(spark, s"$root/side", Seq(5L, 6L).toDF("doc_id"), "doc_id",
        s"$root/side-del")
    })
    def leaf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    assert(written.map(leaf) == Seq("vectors", "ids"), s"Spark writes: $written ($n jobs)")
    val pq = IndexManifest.handle(spark, s"$root/pq-up")
    val side = IndexManifest.handle(spark, s"$root/side-del")
    assert(IndexManifest.sumOneRowTables(spark, pq.segments.map(s => s"$s/stats"),
      Seq("n_vecs")) == Seq(45L))
    assert(IndexManifest.sumOneRowTables(spark, side.tombstones.map(t => s"$t/tsstats"),
      Seq("n_rows")) == Seq(2L))
    // and each publish step alone, re-run over the same generations
    assert(jobs(spark) {
      SegmentedIndex.writeCountStats(spark, pq.segments.last, "vectors", "n_vecs")
      IndexManifest.writeOneRow(spark, s"${side.tombstones.last}/tsstats", "n_rows" -> 2L)
      IndexManifest.write(spark, s"$root/pq-up", version = pq.version, flavor = pq.flavor,
        segments = pq.segments, tombstones = pq.tombstones)
    } == 0)
    assert(IndexManifest.handle(spark, s"$root/pq-up") == pq)
  }

  /** One family's fixture: its 60-row base build and its upsert round
    * `r` (3 live ids replaced, 7 new).
    */
  private final case class Fam(build: String => Unit, ingest: (Int, String, String) => Unit)

  private lazy val bm25 = Fam(
    path => Retrieval.buildIndex(docs(1L to 60L, "base"), "doc_id", "text", path),
    (r, ptr, gen) => Retrieval.ingestUpsertBatch(spark, docs(batchIds(r), s"r$r"), r.toLong,
      ptr, gen, "doc_id", "text"))

  private lazy val side = Fam(
    path => SideIndex.build(sideRows(1L to 60L, "base"), "doc_id", "t", path),
    (r, ptr, gen) => SideIndex.ingestUpsertBatch(spark, sideRows(batchIds(r), s"r$r"),
      r.toLong, ptr, gen, "doc_id", "t"))

  private lazy val pq = Fam(
    path => Similarity.writePqIndex(vecs(1L to 60L, 0f), "doc_id", "embedding", coarse,
      codebooks, path),
    (r, ptr, gen) => Similarity.ingestPqUpsertBatch(spark, vecs(batchIds(r), r + 1f),
      r.toLong, ptr, gen, "doc_id", "embedding", coarse, codebooks))

  /** Jobs of `measured(ptr, gen)` after `rounds` upsert rounds (each
    * adds one carried segment) on a fresh base behind the serve pointer
    * `ptr`. The bounds are the counts this layout was measured at: a
    * regression that re-reads metadata, or re-counts a batch, raises
    * them.
    */
  private def jobsAfter(f: Fam, rounds: Int)(measured: (String, String) => Any): Int = {
    val root = tmpDir("jobs-upsert")
    val ptr = s"$root/CURRENT"
    f.build(s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base")
    (0 until rounds).foreach(r => f.ingest(r, ptr, s"$root/gen"))
    jobs(spark)(measured(ptr, s"$root/gen"))
  }

  /** Jobs of the upsert round after `warm` earlier ones. */
  private def roundJobs(f: Fam, warm: Int): Int =
    jobsAfter(f, warm)((ptr, gen) => f.ingest(warm, ptr, gen))

  /** Jobs of the first serve of the generation one upsert round
    * publishes, which carries one tombstone. The mask is built on the
    * driver and broadcast, so a regression that brings its shuffle
    * back, or reads metadata in a job, raises the count.
    */
  private def maskedServeJobs(f: Fam)(serve: String => Any): Int =
    jobsAfter(f, 1) { (ptr, _) =>
      val cur = ServePointer.read(spark, ptr)
      assert(IndexManifest.handle(spark, cur).tombstones.size == 1, cur)
      serve(cur)
    }

  test("a BM25 upsert round stays within its job budget at 1 and 3 carried segments") {
    val (one, three) = (roundJobs(bm25, 0), roundJobs(bm25, 2))
    info(s"BM25 upsert round jobs: $one at 1 segment, $three at 3")
    assert(one <= Bm25At1, s"$one jobs at 1 carried segment (budget $Bm25At1)")
    assert(three <= Bm25At3, s"$three jobs at 3 carried segments (budget $Bm25At3)")
  }

  test("a side-table upsert round stays within its job budget at 1 and 3 carried segments") {
    val (one, three) = (roundJobs(side, 0), roundJobs(side, 2))
    info(s"side upsert round jobs: $one at 1 segment, $three at 3")
    assert(one <= SideAt1, s"$one jobs at 1 carried segment (budget $SideAt1)")
    assert(three <= SideAt3, s"$three jobs at 3 carried segments (budget $SideAt3)")
  }

  test("an IVF-PQ upsert round stays within its job budget at 1 and 3 carried segments") {
    val (one, three) = (roundJobs(pq, 0), roundJobs(pq, 2))
    info(s"IVF-PQ upsert round jobs: $one at 1 segment, $three at 3")
    assert(one <= PqAt1, s"$one jobs at 1 carried segment (budget $PqAt1)")
    assert(three <= PqAt3, s"$three jobs at 3 carried segments (budget $PqAt3)")
  }

  test("a masked BM25 serve stays within its job budget") {
    val n = maskedServeJobs(bm25)(cur =>
      Retrieval.searchTopKIndexed(spark, cur, "doc_id", Seq("spark", "join", "r0"), 10).collect())
    info(s"masked BM25 serve jobs: $n")
    assert(n <= Bm25Serve, s"$n jobs (budget $Bm25Serve)")
  }

  test("a masked IVF-PQ serve stays within its job budget") {
    val n = maskedServeJobs(pq)(cur =>
      Similarity.ivfPqTopKIndexed(vecs(Seq(5L, 17L), 0.5f), Similarity.readPqIndex(spark, cur),
        "doc_id", "embedding", 5, coarse, 4, codebooks).collect())
    info(s"masked IVF-PQ serve jobs: $n")
    assert(n <= PqServe, s"$n jobs (budget $PqServe)")
  }

  test("a masked side-table serve stays within its job budget") {
    val n = maskedServeJobs(side)(cur =>
      SideIndex.read(spark, cur, "doc_id", "t")
        .where(org.apache.spark.sql.functions.col("doc_id").isin(3L, 4L, 29L, 50L))
        .orderBy("doc_id").collect())
    info(s"masked side serve jobs: $n")
    assert(n <= SideServe, s"$n jobs (budget $SideServe)")
  }

  // the counts measured with this layout, AQE on, local[4]
  private val Bm25At1 = 15
  private val Bm25At3 = 16
  private val SideAt1 = 9
  private val SideAt3 = 10
  private val PqAt1 = 9
  private val PqAt3 = 10
  private val Bm25Serve = 10
  private val PqServe = 4
  private val SideServe = 4
}
