package graft.operators

import graft.JobCounter.{jobs, jobsDuring}
import graft.SparkTestBase

/** The fixed cost of the index lifecycle in Spark jobs, counted by a
  * listener (never timed): metadata the driver already read or wrote
  * is not read again, and one upsert round on a tiny fixture stays
  * within the job budget this layout lands with.
  */
class IndexJobCountSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val words = Seq("spark", "join", "stream", "index", "segment", "merge", "query")
  private def docs(ids: Seq[Long], tag: String) =
    ids.map(i => (i, s"${words((i % 7).toInt)} ${words(((i / 7) % 7).toInt)} $tag $i"))
      .toDF("doc_id", "text")
  private def sideRows(ids: Seq[Long], tag: String) =
    ids.map(i => (i, s"$tag-$i")).toDF("doc_id", "payload")

  // one upsert batch: 3 live ids replaced, 7 new ids
  private def batchIds(round: Int): Seq[Long] =
    Seq(3L, 11L, 29L).map(_ + round) ++ (100L + 10 * round until 107L + 10 * round)

  test("re-reading segment, tombstone and stats directories launches no job") {
    val root = tmp("jobs-reread")
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

  test("handle() right after a family publishes launches no job") {
    val root = tmp("jobs-onwrite")
    Retrieval.buildIndex(docs(1L to 40L, "base"), "doc_id", "text", s"$root/base")
    Retrieval.updateIndex(spark, s"$root/base", docs(41L to 45L, "inc"), "doc_id", "text",
      s"$root/up")
    val (h, n) = jobsDuring(spark)(IndexManifest.handle(spark, s"$root/up", "BM25"))
    assert(n == 0, s"handle() after updateIndex read its manifest back ($n jobs)")
    assert(h.segments.size == 2)
  }

  /** Jobs of the measured upsert round after `warmRounds` earlier ones
    * (each adds one carried segment). The bounds are the counts this
    * layout was measured at: a regression that re-reads metadata, or
    * re-counts a batch, raises them.
    */
  private def upsertRoundJobs(warmRounds: Int, ingest: (Int, String, String) => Unit,
      build: String => Unit): Int = {
    val root = tmp("jobs-upsert")
    val ptr = s"$root/CURRENT"
    build(s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base")
    (0 until warmRounds).foreach(r => ingest(r, ptr, s"$root/gen"))
    jobs(spark)(ingest(warmRounds, ptr, s"$root/gen"))
  }

  private def bm25Round(warm: Int): Int = upsertRoundJobs(warm,
    (r, ptr, gen) => Retrieval.ingestUpsertBatch(spark, docs(batchIds(r), s"r$r"), r.toLong,
      ptr, gen, "doc_id", "text"),
    path => Retrieval.buildIndex(docs(1L to 60L, "base"), "doc_id", "text", path))

  private def sideRound(warm: Int): Int = upsertRoundJobs(warm,
    (r, ptr, gen) => SideIndex.ingestUpsertBatch(spark, sideRows(batchIds(r), s"r$r"),
      r.toLong, ptr, gen, "doc_id", "t"),
    path => SideIndex.build(sideRows(1L to 60L, "base"), "doc_id", "t", path))

  test("a BM25 upsert round stays within its job budget at 1 and 3 carried segments") {
    val (one, three) = (bm25Round(0), bm25Round(2))
    info(s"BM25 upsert round jobs: $one at 1 segment, $three at 3")
    assert(one <= Bm25At1, s"$one jobs at 1 carried segment (budget $Bm25At1)")
    assert(three <= Bm25At3, s"$three jobs at 3 carried segments (budget $Bm25At3)")
  }

  test("a side-table upsert round stays within its job budget at 1 and 3 carried segments") {
    val (one, three) = (sideRound(0), sideRound(2))
    info(s"side upsert round jobs: $one at 1 segment, $three at 3")
    assert(one <= SideAt1, s"$one jobs at 1 carried segment (budget $SideAt1)")
    assert(three <= SideAt3, s"$three jobs at 3 carried segments (budget $SideAt3)")
  }

  // the counts measured with this layout, AQE on, local[4]
  private val Bm25At1 = 36
  private val Bm25At3 = 42
  private val SideAt1 = 32
  private val SideAt3 = 36
}
