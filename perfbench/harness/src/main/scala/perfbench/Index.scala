package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, ServePointer, SideIndex, Similarity}

/** The index workload: BM25 (`Retrieval`), IVF-PQ (`Similarity`) and
  * side-table (`SideIndex`) indexes built over the base half of the
  * generated corpus, then a sequence of rounds. Each round ingests one
  * batch per family through the upsert entry point, replacing a seeded
  * share of the live rows so tombstones accrue, and then serves each
  * family's queries through its `ServePointer`. The default policy (8
  * segments, 0.2 masked) decides when an ingest compacts.
  *
  * The sequence is stateful, so a pass is one whole sequence on indexes
  * built in set-up for it; a run makes one untraced pass (and a traced
  * one before it with `--trace 1`), however long `--seconds` is. The
  * first pass's final-round serves are checked against the direct-scan
  * answer over the live rows.
  */
final class Index(a: Main.Args) extends Main.Workload {
  private val in = s"${a.data}/index"
  val minPasses = 1
  val maxPasses = 1
  private val plan: Map[String, Seq[Int]] = lines(s"$in/plan.txt").map { l =>
    val w = l.split(" ").toSeq
    w.head -> w.tail.map(_.toInt)
  }.toMap
  private val rounds = plan("rounds").head
  private def lines(p: String) =
    Files.readAllLines(Paths.get(p)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  /** One index family behind its serve pointer. */
  private abstract class Family(val name: String) {
    def base(spark: SparkSession): DataFrame = spark.read.parquet(s"$in/${name}_base.parquet")
    def batch(spark: SparkSession, r: Int): DataFrame =
      spark.read.parquet(s"$in/${name}_batch_$r.parquet")
    def batchBytes(r: Int): Long = Files.size(Paths.get(s"$in/${name}_batch_$r.parquet"))
    def live(spark: SparkSession): DataFrame = spark.read.parquet(s"$in/${name}_live.parquet")
    def queries: Seq[String] = lines(s"$in/queries_$name.txt")
    def build(spark: SparkSession, rows: DataFrame, root: String): Unit
    def ingest(spark: SparkSession, rows: DataFrame, id: Long, ptr: String, root: String): Unit
    def serve(spark: SparkSession, served: String, q: Int): Array[Row]
    def direct(spark: SparkSession, q: Int): Array[Row]
    /** (segments, masked share) from the family's public info call. */
    def info(spark: SparkSession, served: String): (Double, Double)
  }

  private def infoOf(df: DataFrame, indexed: String, masked: String): (Double, Double) = {
    val r = df.head()
    val n = r.getAs[Long](indexed)
    (r.getAs[Int]("n_segments").toDouble, if (n > 0) r.getAs[Long](masked).toDouble / n else 0.0)
  }

  private object Bm25 extends Family("bm25") {
    private lazy val terms = queries.map(_.split(" ").toSeq)
    def build(spark: SparkSession, rows: DataFrame, root: String): Unit =
      Retrieval.buildIndex(rows, "doc_id", "text", root)
    def ingest(spark: SparkSession, rows: DataFrame, id: Long, ptr: String, root: String): Unit =
      Retrieval.ingestUpsertBatch(spark, rows, id, ptr, root, "doc_id", "text")
    def serve(spark: SparkSession, served: String, q: Int): Array[Row] =
      Retrieval.searchTopKIndexed(spark, served, "doc_id", terms(q), 10).collect()
    def direct(spark: SparkSession, q: Int): Array[Row] =
      Retrieval.searchTopK(live(spark), "doc_id", "text", terms(q), 10).collect()
    def info(spark: SparkSession, served: String): (Double, Double) =
      infoOf(Retrieval.indexInfo(spark, served), "n_docs_indexed", "n_docs_masked")
  }

  private object Pq extends Family("pq") {
    var coarse: Array[Array[Float]] = _
    var cb: Array[Array[Array[Float]]] = _
    private var probes: Seq[DataFrame] = Nil
    def prepare(spark: SparkSession): Unit = {
      val rows = base(spark)
      coarse = Similarity.trainCentroids(rows, "vec_id", "embedding", 8)
      cb = Similarity.trainProductCodebooks(rows, "vec_id", "embedding", numSub = 16, nCentroids = 64)
      val emb = spark.read.parquet(s"${a.data}/embeddings.parquet").select("vec_id", "embedding")
      probes = queries.map { q =>
        val ids = q.split(" ").map(_.toLong).toSeq
        val local = emb.where(col("vec_id").isin(ids: _*)).collect().toSeq
        spark.createDataFrame(local.asJava, emb.schema)
      }
    }
    def build(spark: SparkSession, rows: DataFrame, root: String): Unit =
      Similarity.writePqIndex(rows, "vec_id", "embedding", coarse, cb, root)
    def ingest(spark: SparkSession, rows: DataFrame, id: Long, ptr: String, root: String): Unit =
      Similarity.ingestPqUpsertBatch(spark, rows, id, ptr, root, "vec_id", "embedding", coarse, cb)
    private def topK(index: DataFrame, q: Int) =
      Similarity.ivfPqTopKIndexed(probes(q), index, "vec_id", "embedding", 5, coarse, 4, cb)
        .orderBy("query_id", "rank").collect()
    def serve(spark: SparkSession, served: String, q: Int): Array[Row] =
      topK(Similarity.readPqIndex(spark, served), q)
    def direct(spark: SparkSession, q: Int): Array[Row] =
      topK(Similarity.pqIndex(live(spark), "vec_id", "embedding", coarse, cb), q)
    def info(spark: SparkSession, served: String): (Double, Double) =
      infoOf(Similarity.pqIndexInfo(spark, served), "n_vecs_indexed", "n_vecs_masked")
  }

  private object Side extends Family("side") {
    private val flavor = "chars"
    private lazy val ids = queries.map(_.split(" ").map(_.toLong).toSeq)
    def build(spark: SparkSession, rows: DataFrame, root: String): Unit =
      SideIndex.build(rows, "doc_id", flavor, root)
    def ingest(spark: SparkSession, rows: DataFrame, id: Long, ptr: String, root: String): Unit =
      SideIndex.ingestUpsertBatch(spark, rows, id, ptr, root, "doc_id", flavor)
    def serve(spark: SparkSession, served: String, q: Int): Array[Row] =
      SideIndex.read(spark, served, "doc_id", flavor)
        .where(col("doc_id").isin(ids(q): _*)).orderBy("doc_id").collect()
    def direct(spark: SparkSession, q: Int): Array[Row] =
      live(spark).where(col("doc_id").isin(ids(q): _*)).orderBy("doc_id").collect()
    def info(spark: SparkSession, served: String): (Double, Double) =
      infoOf(SideIndex.info(spark, served, flavor), "n_rows_indexed", "n_rows_masked")
  }

  private val families = Seq(Bm25, Pq, Side)
  private val what = Map("bm25" -> "BM25", "pq" -> "IVF-PQ", "side" -> "side(chars)")
  /** Fresh index roots, one per sequence, built in set-up. */
  private val ready = mutable.Queue.empty[String]
  /** The first pass's final-round serve results, checked after the run. */
  private val finalServes = mutable.Map.empty[(Family, Int), Array[Row]]

  private def ptr(root: String, f: Family) = s"$root/${f.name}/CURRENT"

  private def buildBases(spark: SparkSession, root: String, fams: Seq[Family],
      rows: Family => DataFrame): Unit =
    fams.foreach { f =>
      f.build(spark, rows(f), s"$root/${f.name}/base")
      ServePointer.publish(spark, ptr(root, f), s"$root/${f.name}/base", what(f.name))
    }

  def setup(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    def note(what: String) =
      System.err.println(f"[perfbench] setup: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    Pq.prepare(spark)
    note("IVF-PQ models trained")
    // warm pass on small indexes: one BM25 upsert ingest (the three
    // families share one ingest engine) and one BM25 and IVF-PQ serve
    // (the side table's serve is a filtered read)
    val warm = s"${a.out}/indexes/warm"
    buildBases(spark, warm, Seq(Bm25, Pq), f => f.base(spark).limit(200))
    Bm25.ingest(spark, Bm25.batch(spark, 0), 0L, ptr(warm, Bm25), s"$warm/bm25/gen")
    Seq(Bm25, Pq).foreach(f => f.serve(spark, ServePointer.read(spark, ptr(warm, f)), 0))
    note("warm pass done")
    (1 to minPasses + (if (a.trace) 1 else 0)).foreach { i =>
      val root = s"${a.out}/indexes/seq-$i"
      buildBases(spark, root, families, f => f.base(spark))
      ready.enqueue(root)
      note(s"bases $i built")
    }
  }

  def pass(spark: SparkSession, tracer: Tracer): Main.Pass = {
    val root = ready.dequeue()
    val first = finalServes.isEmpty
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val failed = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    for (r <- 0 until rounds; f <- families) {
      val p = ptr(root, f)
      val rows = f.batch(spark, r)
      attempted += 1
      val (ok, dt) = tracer.op(s"${f.name}.ingest") {
        f.ingest(spark, rows, r.toLong, p, s"$root/${f.name}/gen")
      }
      ok.failed.foreach { e =>
        System.err.println(s"[perfbench] ${f.name} ingest $r: $e")
        failed += s"${f.name}.ingest"
      }
      samples += s"${f.name}.ingest" -> dt
      System.err.println(f"[perfbench] round $r ${f.name} upsert $dt%.3f s")
      layer(s"index.${f.name}.ingest_s") += dt
      layer(s"index.${f.name}.batch_bytes") += f.batchBytes(r).toDouble
      val served = ServePointer.read(spark, p)
      if (served.endsWith("/compacted")) layer(s"index.${f.name}.compactions") += 1
      val (segs, masked) = f.info(spark, served)
      f.queries.indices.foreach { q =>
        attempted += 1
        val (res, st) = tracer.op(s"${f.name}.serve") {
          f.serve(spark, ServePointer.read(spark, p), q)
        }
        res.failed.foreach { e =>
          System.err.println(s"[perfbench] ${f.name} serve: $e")
          failed += s"${f.name}.serve"
        }
        if (first && r == rounds - 1) res.foreach(rows => finalServes((f, q)) = rows)
        samples += s"${f.name}.serve" -> st
        System.err.println(f"[perfbench] round $r ${f.name} serve $st%.3f s")
        layer(s"index.${f.name}.serve_s") += st
        layer(s"index.${f.name}.segments") += segs
        layer(s"index.${f.name}.masked_ratio") += masked
        layer(s"index.${f.name}.serves") += 1
      }
    }
    families.foreach { f =>
      val n = layer(s"index.${f.name}.serves").max(1.0)
      layer(s"index.${f.name}.segments") /= n
      layer(s"index.${f.name}.masked_ratio") /= n
      layer(s"index.${f.name}.disk_bytes") = duBytes(Paths.get(s"$root/${f.name}")).toDouble
      layer(s"index.${f.name}.write_amp") =
        tracer.layer(s"op.${f.name}.ingest.bytes_written") / layer(s"index.${f.name}.batch_bytes")
    }
    def of(kind: String) = samples.filter(_._1.endsWith(kind)).map(_._2).toSeq
    layer("index.serve_p50_s") = Main.median(of(".serve"))
    layer("index.serve_p90_s") = Main.percentile(of(".serve"), 0.9)
    layer("index.ingest_p50_s") = Main.median(of(".ingest"))
    Main.Pass(samples.toSeq, attempted, failed.toSeq, layer.toMap)
  }

  /** The first pass's final-round serves against the direct-scan answer
    * over the live rows (scores within 1e-9 relative); a serve that
    * failed counts as a mismatch.
    */
  def check(spark: SparkSession): (Int, Seq[String]) = {
    val failed = mutable.ArrayBuffer.empty[String]
    for (f <- families; q <- f.queries.indices) {
      val ok = finalServes.get((f, q)).exists(rows =>
        scala.util.Try(same(rows, f.direct(spark, q))).getOrElse(false))
      if (!ok) {
        System.err.println(s"[perfbench] ${f.name} query $q: serve differs from the direct scan")
        failed += s"${f.name}.check"
      }
    }
    (families.map(_.queries.size).sum, failed.toSeq)
  }

  private def same(x: Array[Row], y: Array[Row]): Boolean =
    x.length == y.length && x.zip(y).forall { case (r, s) =>
      r.length == s.length && r.toSeq.zip(s.toSeq).forall {
        case (u: Double, v: Double) => math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(v))
        case (u, v) => u == v
      }
    }

  private def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
