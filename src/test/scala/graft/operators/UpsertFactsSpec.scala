package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The facts an upsert round establishes once instead of re-proving
  * through the delete and update guards: after every round of a
  * delete / re-add / delete chain, the published generation serves
  * each id at most once, every replaced id's old version is masked,
  * and the live set equals the model. Checked per family, plus the
  * refusals the round still runs before any write. After every step
  * the generation's tombstone mask, built on the driver, equals the
  * distributed `groupBy/max` over the same `ids` tables row for row;
  * a string key and a disabled broadcast threshold take that
  * distributed mask and serve the same rows.
  */
class UpsertFactsSpec extends SparkTestBase {
  import spark.implicits._

  /** One family under test: `rows` turns (id, version) pairs into the
    * family's input relation; `served` is the live (id, fingerprint)
    * relation of a published index, `want` the same relation computed
    * directly from input rows.
    */
  private final case class Fam(
      name: String,
      maskCol: String,
      rows: Seq[(Long, Int)] => DataFrame,
      build: (DataFrame, String) => Unit,
      upsert: (DataFrame, Long, String, String, Double) => Unit,
      delete: (String, DataFrame, String) => Unit,
      served: String => DataFrame,
      want: DataFrame => DataFrame,
      nLive: String => Long)

  private def fingerprints(df: DataFrame): Seq[(Long, String)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))

  /** The mask every read of the generation at `path` joins: built on
    * the driver as a local relation when `local`, else the distributed
    * fallback, and in both cases the distributed `groupBy/max`'s rows.
    */
  private def checkMask(path: String, idCol: String, local: Boolean, step: String): Unit = {
    val h = IndexManifest.handle(spark, path)
    IndexManifest.tombstoneRel(spark, h, idCol).foreach { mask =>
      val isLocal = mask.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(isLocal == local, s"$step: local mask $isLocal, expected $local")
      val dist = IndexManifest.distributedMask(spark, h.tombstones, idCol)
      def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      assert(mask.schema == dist.schema, s"$step: mask schema")
      assert(rows(mask) == rows(dist), s"$step: mask rows")
    }
  }

  // id 7: replaced in round 0, deleted, re-added in round 1, replaced
  // again in round 2; id 3 replaced twice; 12 once; 101-103 arrive new.
  // Round 2 trips the 0.15 masked-ratio policy, so the last check runs
  // on a compacted generation
  private def chain(f: Fam, localMask: Boolean = true): Unit = {
    val root = tmpDir(s"upsert-facts-${f.name}")
    val ptr = s"$root/CURRENT"
    var model: Map[Long, Int] = (1L to 30L).map(_ -> 0).toMap
    f.build(f.rows(model.toSeq), s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base")

    def check(step: String): Unit = {
      val cur = ServePointer.read(spark, ptr)
      val got = fingerprints(f.served(cur))
      val ids = got.map(_._1)
      assert(ids.size == ids.distinct.size,
        s"${f.name} $step: ids live twice: ${ids.diff(ids.distinct).distinct.sorted}")
      val want = fingerprints(f.want(f.rows(model.toSeq))).toSet
      assert(got.toSet == want,
        s"${f.name} $step: served ${(got.toSet -- want).toSeq.sortBy(_._1)} beyond the model, " +
          s"missing ${(want -- got.toSet).toSeq.sortBy(_._1)}")
      assert(f.nLive(cur) == model.size.toLong, s"${f.name} $step: info live count")
      checkMask(cur, f.maskCol, localMask, s"${f.name} $step")
    }
    def round(b: Long, batch: Map[Long, Int]): Unit = {
      f.upsert(f.rows(batch.toSeq), b, ptr, s"$root/gen", 0.15)
      model ++= batch
      check(s"round $b")
    }

    round(0L, Map(3L -> 1, 7L -> 1, 11L -> 1, 101L -> 1, 102L -> 1))
    f.delete(ServePointer.read(spark, ptr), Seq(7L).toDF("doc_id"), s"$root/del")
    ServePointer.publish(spark, ptr, s"$root/del")
    model -= 7L
    check("delete")
    round(1L, Map(7L -> 2, 12L -> 2, 103L -> 2))
    round(2L, Map(7L -> 3, 3L -> 3))
    assert(ServePointer.read(spark, ptr).endsWith("batch-2/compacted"),
      s"${f.name}: round 2 should compact, serving ${ServePointer.read(spark, ptr)}")
  }

  private val words = Seq("spark", "join", "stream", "index", "segment", "merge", "query")

  private val bm25 = Fam("bm25", "doc_id",
    rows => rows.map { case (i, v) => (i, s"${words((i % 7).toInt)} v$v doc $i") }
      .toDF("doc_id", "text"),
    (df, path) => Retrieval.buildIndex(df, "doc_id", "text", path),
    (df, b, ptr, gen, ratio) => Retrieval.ingestUpsertBatch(spark, df, b, ptr, gen,
      "doc_id", "text", maxMaskedRatio = ratio),
    (path, ids, out) => Retrieval.deleteFromIndex(spark, path, ids, "doc_id", out),
    path => Retrieval.liveDocHashes(spark, path)
      .select(col("doc_id"), col("content_hash").cast("string")),
    df => df.select(col("doc_id"), Retrieval.contentHash(col("text")).cast("string")),
    path => Retrieval.indexInfo(spark, path).head().getAs[Long]("n_docs_live"))

  private val side = Fam("side", "doc_id",
    rows => rows.map { case (i, v) => (i, s"v$v-$i") }.toDF("doc_id", "payload"),
    (df, path) => SideIndex.build(df, "doc_id", "t", path),
    (df, b, ptr, gen, ratio) => SideIndex.ingestUpsertBatch(spark, df, b, ptr, gen,
      "doc_id", "t", maxMaskedRatio = ratio),
    (path, ids, out) => SideIndex.delete(spark, path, ids, "doc_id", out),
    path => SideIndex.read(spark, path, "doc_id", "t").select("doc_id", "payload"),
    df => df,
    path => SideIndex.info(spark, path, "t").head().getAs[Long]("n_rows_live"))

  private def vecRows(rows: Seq[(Long, Int)]): DataFrame =
    rows.map { case (i, v) => (i, Array.tabulate(8)(d => i * 0.1f + d + v)) }
      .toDF("doc_id", "embedding")
  // the frozen quantizer models, trained once on the base rows
  private lazy val (coarse, codebooks) = {
    val base = vecRows((1L to 30L).map(_ -> 0))
    (Similarity.trainCentroids(base, "doc_id", "embedding", 4),
      Similarity.trainProductCodebooks(base, "doc_id", "embedding", numSub = 4, nCentroids = 8))
  }
  private def pqFingerprint(df: DataFrame): DataFrame =
    df.select(col("neighbor_id"),
      concat_ws("|", col("cell").cast("string"), col("codes").cast("string"),
        col("c_norm").cast("string")))

  private val pq = Fam("pq", "neighbor_id",
    vecRows,
    (df, path) => Similarity.writePqIndex(df, "doc_id", "embedding", coarse, codebooks, path),
    (df, b, ptr, gen, ratio) => Similarity.ingestPqUpsertBatch(spark, df, b, ptr, gen,
      "doc_id", "embedding", coarse, codebooks, maxMaskedRatio = ratio),
    (path, ids, out) => Similarity.deleteFromPqIndex(spark, path, ids, "doc_id", out),
    path => pqFingerprint(Similarity.readPqIndex(spark, path)),
    df => pqFingerprint(Similarity.pqIndex(df, "doc_id", "embedding", coarse, codebooks)),
    path => Similarity.pqIndexInfo(spark, path).head().getAs[Long]("n_vecs_live"))

  test("BM25 upsert rounds keep one live version per id through delete / re-add / delete") {
    chain(bm25)
  }

  test("side-table upsert rounds keep one live version per id through delete / re-add / delete") {
    chain(side)
  }

  test("IVF-PQ upsert rounds keep one live version per id through delete / re-add / delete") {
    chain(pq)
  }

  // the side family keyed by a string ("k<id>"): the driver takes only
  // BIGINT and INT ids, so every mask is the distributed one
  private val sideStringKey = {
    def keyed(df: DataFrame) =
      df.withColumn("doc_id", concat(lit("k"), col("doc_id").cast("string")))
    def unkeyed(df: DataFrame) =
      df.withColumn("doc_id", substring(col("doc_id"), 2, 20).cast("long"))
    side.copy(name = "side-string-key",
      rows = rows => keyed(side.rows(rows)),
      delete = (path, ids, out) => side.delete(path, keyed(ids), out),
      served = path => unkeyed(side.served(path)),
      want = df => unkeyed(df))
  }

  test("a string-keyed side table serves the model through the distributed mask") {
    chain(sideStringKey, localMask = false)
  }

  test("with the broadcast threshold disabled, BM25 serves the model through the distributed mask") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try chain(bm25, localMask = false)
    finally spark.conf.set(key, prev)
  }

  test("BM25 upsert rounds publish stats and tsstats equal to doclen's count and sum, zero-token docs included") {
    val root = tmpDir("upsert-bm25-numbers")
    val ptr = s"$root/CURRENT"
    // every fifth (id + version) is a zero-token document (dl = 0);
    // the rest vary in length with the id
    def text(i: Long, v: Int): String =
      if ((i + v) % 5 == 0) " " * (v % 3)
      else (Seq(words((i % 7).toInt), s"v$v") ++ Seq.fill((i % 4).toInt)("pad") :+ s"doc$i")
        .mkString(" ")
    def dl(t: String): Long = t.split(" ").count(_.nonEmpty).toLong
    def docs(m: Map[Long, Int]): DataFrame =
      m.toSeq.map { case (i, v) => (i, text(i, v)) }.toDF("doc_id", "text").repartition(4)
    var model: Map[Long, Int] = (1L to 40L).map(_ -> 0).toMap
    Retrieval.buildIndex(docs(model), "doc_id", "text", s"$root/base")
    ServePointer.publish(spark, ptr, s"$root/base")

    def numbers(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def row(dir: String): (Long, Long) = {
      val r = spark.read.parquet(dir).collect()
      assert(r.length == 1, s"$dir holds ${r.length} rows")
      (r.head.getAs[Long]("n_docs"), r.head.getAs[Long]("total_len"))
    }
    def check(step: String): Unit = {
      val cur = ServePointer.read(spark, ptr)
      val h = IndexManifest.handle(spark, cur)
      h.segments.foreach { s =>
        assert(row(s"$s/stats") == numbers(spark.read.parquet(s"$s/doclen")), s"$step: $s")
      }
      // a tombstone's mass is its ids' rows in the doclen live when it
      // was published: the segments below its horizon, masked by the
      // tombstones before it
      h.tombstones.zipWithIndex.foreach { case (t, k) =>
        val ids = spark.read.parquet(s"$t/ids")
        val upTo = ids.agg(max("up_to")).head().getInt(0)
        val live = IndexManifest.maskLive(
          IndexManifest.segTableOrd(spark, h.segments.take(upTo), "doclen"),
          IndexManifest.tombstoneRel(spark, h.tombstones.take(k), "doc_id"), "doc_id")
        assert(row(s"$t/tsstats") ==
          numbers(live.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")), s"$step: $t")
      }
      checkMask(cur, "doc_id", local = true, step)
      val info = Retrieval.indexInfo(spark, cur).head()
      assert(info.getAs[Long]("n_docs_live") == model.size.toLong, s"$step: n_docs_live")
      assert(info.getAs[Long]("total_len_live") ==
        model.toSeq.map { case (i, v) => dl(text(i, v)) }.sum, s"$step: total_len_live")
      val q = Seq("spark", "join", "v1", "v2", "pad")
      def ranked(df: DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(ranked(Retrieval.searchTopKIndexed(spark, cur, "doc_id", q, 60)) ==
        ranked(Retrieval.searchTopK(docs(model), "doc_id", "text", q, 60)), s"$step: scores")
    }
    def round(b: Long, batch: Map[Long, Int]): Unit = {
      Retrieval.ingestUpsertBatch(spark, docs(batch), b, ptr, s"$root/gen", "doc_id", "text")
      model ++= batch
      check(s"round $b")
    }
    def delete(ids: Seq[Long], out: String): Unit = {
      Retrieval.deleteFromIndex(spark, ServePointer.read(spark, ptr), ids.toDF("doc_id"),
        "doc_id", s"$root/$out")
      ServePointer.publish(spark, ptr, s"$root/$out")
      model --= ids
      check(out)
    }
    check("build")
    // id 4 (zero tokens at version 1) is replaced, deleted, re-added,
    // deleted again; id 5 starts with zero tokens
    round(0L, Map(4L -> 1, 5L -> 1, 9L -> 1, 101L -> 1, 104L -> 1))
    delete(Seq(4L, 10L), "del-a")
    round(1L, Map(4L -> 2, 5L -> 2, 15L -> 2, 102L -> 2))
    delete(Seq(4L, 104L), "del-b")
    round(2L, Map(5L -> 3, 9L -> 3, 20L -> 3, 103L -> 3))
  }

  test("the upsert round still refuses a drifted side schema and an IVF-PQ flavor mismatch") {
    val root = tmpDir("upsert-refusals")
    SideIndex.build(side.rows((1L to 10L).map(_ -> 0)), "doc_id", "t", s"$root/side")
    ServePointer.publish(spark, s"$root/SIDE", s"$root/side")
    val drift = intercept[IllegalArgumentException] {
      SideIndex.ingestUpsertBatch(spark, Seq((3L, 1), (40L, 2)).toDF("doc_id", "payload"), 0L,
        s"$root/SIDE", s"$root/side-gen", "doc_id", "t")
    }
    assert(drift.getMessage.contains("does not match"), drift.getMessage)
    assert(ServePointer.read(spark, s"$root/SIDE").endsWith("/side"))

    pq.build(vecRows((1L to 30L).map(_ -> 0)), s"$root/pq")
    ServePointer.publish(spark, s"$root/PQ", s"$root/pq")
    val flavor = intercept[IllegalArgumentException] {
      Similarity.ingestPqUpsertBatch(spark, vecRows(Seq(3L -> 1, 40L -> 1)), 0L, s"$root/PQ",
        s"$root/pq-gen", "doc_id", "embedding", coarse, codebooks, residual = true)
    }
    assert(flavor.getMessage.contains("flavor"), flavor.getMessage)
    assert(ServePointer.read(spark, s"$root/PQ").endsWith("/pq"))
  }
}
