package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the lexical search
  * tier (Robertson/Sparck Jones probabilistic ranking, the BM25
  * Okapi form every production search stack defaults to). The
  * reference exposes search only as a cloud-service trait
  * (reference: src/io/cloud/search.rs — SearchIO's query/index calls
  * against an external engine); this tier computes the ranking
  * natively over the corpus relation, so a curation pipeline can run
  * retrieval-style audits (find near-matches of a benchmark prompt,
  * locate boilerplate families) without shipping data to a service.
  *
  * Scoring model, in the repo's cross-engine determinism recipe:
  *  - idf(t) = log2((2N - 2 df(t) + 1) / (2 df(t) + 1)) — the classic
  *    Robertson idf `ln((N - df + .5)/(df + .5))` rescaled to base 2
  *    and rearranged so BOTH log arguments are exact odd INTEGERS
  *    (log2-of-integer oracle grid; base change is a positive constant
  *    factor, so rankings are unchanged).
  *  - tf term = tf (k1 + 1) / (tf + k1 (1 - b + b dl N / L)) with
  *    k1 = 1.2, b = 0.75; dl = doc token count, N = corpus size,
  *    L = total token count, so `dl N / L = dl / avgdl` divides two
  *    integers once (same IEEE ops in any engine).
  *  - negative-idf terms (df > N/2) score negative, as in the raw
  *    Robertson form — stopword-like terms actively penalize, which
  *    is the behavior a boilerplate-audit wants.
  *
  * Scale shape: ONE tokenize + explode scan feeds everything the
  * scoring needs — term frequencies carry the document length
  * denormalized beside them (the [[invertedIndex]] posting shape), and
  * document frequencies derive from that SAME relation in-plan via a
  * per-term count window, so the corpus text is never tokenized twice;
  * only QUERY terms survive past the first join (the query relation
  * broadcasts), so the per-position stream collapses to the handful of
  * matching terms per document; the corpus stats (N, total length) are
  * a separate sizes-only scan because zero-match docs still count
  * toward N. Per-(query, doc) scores are one aggregate; ranking is
  * the bounded O(k) top-k aggregate. Nothing collects, nothing sorts
  * the corpus.
  */
object Retrieval {

  /** (id, term, tf, dl) term frequencies restricted to the terms of
    * `queries` (query_id, term), with the document length denormalized
    * beside each row — the [[invertedIndex]] posting shape, so ONE
    * tokenize + explode scan serves tf, dl, AND (via a per-term count
    * window) df. Empty split() artifacts are dropped from both the
    * term stream and the length.
    */
  private def termFreqs(
      docs: DataFrame, idCol: String, textCol: String, terms: DataFrame): DataFrame =
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol),
        filter(split(col(textCol), " "), t => length(t) > 0).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(terms.select("term").distinct()), Seq("term"))
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** One document's token count — THE length definition every surface
    * shares (direct [[bm25]], index build, stats): split on single
    * spaces, drop empty artifacts. One expression so the serve-path dl
    * and the index-time dl can never drift.
    */
  private def docLen(textCol: String): Column =
    size(filter(split(col(textCol), " "), t => length(t) > 0)).cast("long")

  /** (id, dl) per-document token counts (split artifacts excluded) and
    * the corpus stats (n_docs, total_len) they aggregate to — shared
    * by [[bm25]]'s length normalization.
    */
  private def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol), docLen(textCol).as("dl"))

  /** The corpus stats (n_docs, total_len) of a relation with a `dl`
    * column — the ONE aggregate behind [[bm25]]'s length
    * normalization, each segment's `stats` and each delete's `tsstats`.
    */
  private def corpusStats: Seq[Column] =
    Seq(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_len"))

  /** One matched term's score contribution, from columns
    * (tf, df, dl, n_docs, total_len) — the ONE arithmetic shape both
    * the direct path and the indexed serve path share, so the two can
    * never drift apart numerically.
    */
  private def contrib(k1: Double, b: Double): Column =
    (log2(lit(2L) * col("n_docs") - lit(2L) * col("df") + 1L) - log2(lit(2L) * col("df") + 1L)) *
      (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") * col("n_docs") / col("total_len")))

  /** BM25 scores for every (query, matching document) pair.
    * `queries` is (query_id, term) — one row per query term, duplicate
    * terms allowed (they re-score like repeated terms in classic BM25).
    * Output: (query_id, id, score) with score rounded to 6 places; docs
    * sharing no term with a query emit no row (score would be 0).
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    // ONE corpus tokenize: tf carries dl beside it, and df is a
    // per-term count window OVER THAT SAME relation — an extra shuffle
    // on term (already the relation's grouping key) instead of two more
    // full corpus scans (the plan Catalyst cannot CSE away itself)
    val tfdl = termFreqs(docs, idCol, textCol, queries)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    // stats count over ALL non-null-text docs (zero-match docs still
    // count toward N and L) — a sizes-only second scan, no explode
    val stats = docLengths(docs, idCol, textCol).agg(corpusStats.head, corpusStats.tail: _*)
    tfdl
      .join(broadcast(queries), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col(idCol), contrib(k1, b).as("contrib"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("contrib")), 6).as("score"))
  }

  // ==================== prebuilt inverted index ====================

  /** The postings relation: one row per distinct (document, term) with
    * the term frequency AND the document length denormalized in — the
    * search-engine stance (store the norm beside the posting) that lets
    * the serve path score from ONE filter-pruned scan, never joining
    * back to a corpus-sized side. One explode, one hash aggregate.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol),
        filter(split(col(textCol), " "), t => length(t) > 0).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col(idCol), col("tf"), col("dl"))

  /** Write the four index tables as the index's FIRST segment
    * (`path/segments/seg-00000/`): `postings` (term, id, tf, dl)
    * repartitioned AND sorted by term so parquet row-group min/max
    * statistics prune a term-restricted scan (bounded file count at
    * any vocabulary size, unlike a per-term directory partition);
    * `termdf` (term, df); `stats` (n_docs, total_len — ONE row,
    * counted over ALL non-null-text docs, so zero-token docs count
    * toward N exactly as in [[bm25]]); `doclen` (id, dl) — the
    * COMPLETE indexed id set, zero-token docs included, which is what
    * [[updateIndex]]'s resubmission guard must check (the postings
    * table only names docs with >= 1 token, so a previously indexed
    * empty doc would otherwise slip the guard and double-count
    * n_docs); and LAST, the `manifest` marker (now also carrying the
    * segment list) that [[searchTopKIndexed]] validates — the tables
    * are sequential writes (three jobs, then `stats` and the manifest
    * from the driver), and without a commit marker a failure between
    * them would leave a MIXED index (new postings, stale df/stats)
    * that serves silently wrong scores.
    * [[updateIndex]] appends further segments; serve paths union the
    * listed segments (df summing, stats adding across them), so
    * maintenance writes O(increment) bytes; [[compactIndex]] merges
    * the list back to one segment when it grows.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    SegmentedIndex.build(Bm25(idCol, textCol), docs, path)

  /** The canonical per-document payload fingerprint — xxhash64 of the
    * raw text, codegen'd. The ONE hash both sides of the content audit
    * must use: [[buildIndex]]/[[updateIndex]] stamp it into each
    * segment's doclen rows, [[liveDocHashes]] serves it back, and the
    * registry side computes it from the current upstream text — so a
    * document whose index entry predates its latest edit disagrees,
    * and [[IndexAudit.auditContent]]'s `n_stale` sees the class the
    * id-set audit cannot: right id, wrong bytes.
    */
  def contentHash(text: Column): Column = xxhash64(text)

  /** The id column name is whatever the build used — read it off ONE
    * segment's doclen schema (doclen is (id, dl, content_hash), and
    * segments share the build schema).
    */
  private def docIdCol(spark: SparkSession, segs: Seq[String]): String =
    IndexManifest.readDir(spark, s"${segs.head}/doclen")
      .columns.filter(c => c != "dl" && c != "content_hash").head

  /** The BM25 family of the shared [[SegmentedIndex]] lifecycle: a
    * segment is the postings / termdf / stats / doclen tables of a
    * document batch (see [[buildIndex]]), keyed by the build's doc id
    * column; a delete records the deleted docs' (n_docs, total_len).
    */
  private final case class Bm25(idCol: String = "", textCol: String = "")
      extends SegmentedIndex.Family {
    def what: String = "BM25"
    def stem: String = "docs"
    override def statCols: Seq[String] = Seq("n_docs", "total_len")
    override def payloadCol: Option[String] = Some(textCol)

    // stats and doclen come from the DOCS (zero-token docs have no
    // posting but still count toward N). doclen additionally records
    // content_hash = [[contentHash]] of the raw text: the per-doc
    // payload fingerprint [[liveDocHashes]] serves to the cross-tier
    // content audit, written at index time because the index does not
    // store text
    def writeSegment(docs: DataFrame, segPath: String): Unit =
      writeTables(invertedIndex(docs, idCol, textCol), None,
        docs.where(col(textCol).isNotNull).select(col(idCol), docLen(textCol).as("dl"),
          contentHash(col(textCol)).as("content_hash")),
        segPath)

    // nothing re-tokenizes: postings are a columnar copy re-sorted
    // GLOBALLY by term, doclen concatenates. With deletes in play the
    // per-segment termdf over-counts the tombstoned docs, so it
    // recounts from the masked postings; without deletes the cheap
    // segment termdf sums are exact. stats always come from the masked
    // doclen write
    def rehome(spark: SparkSession, h: IndexManifest.Handle, segPath: String): Unit = {
      val id = docIdCol(spark, h.segments)
      val ts = IndexManifest.tombstoneRel(spark, h, id)
      def live(table: String): DataFrame =
        IndexManifest.maskLive(IndexManifest.segTableOrd(spark, h, table), ts, id)
      val termdf = if (ts.nonEmpty) None else Some(IndexManifest.segTable(spark, h, "termdf")
        .groupBy("term").agg(sum("df").as("df")))
      writeTables(live("postings"), termdf, live("doclen"), segPath)
    }

    /** The live doclen ids — doclen, not postings, because it is the
      * COMPLETE indexed id set: a zero-token doc has no posting, and a
      * postings-derived guard would let it be indexed twice.
      */
    def liveIds(spark: SparkSession, h: IndexManifest.Handle): DataFrame =
      IndexManifest.memo(spark, h, s"live-doc-ids/$idCol")(liveDoclen(spark, h).select(col(idCol)))

    def incrementIds(increment: DataFrame): DataFrame =
      broadcast(increment.where(col(textCol).isNotNull).select(col(idCol)).distinct())

    // a delete removes the deleted docs' (n_docs, total_len): the live
    // doclen rows carry dl beside the id, so the guard's (or the upsert
    // split's) join already holds what the mass sums
    override def liveMass(spark: SparkSession, h: IndexManifest.Handle): DataFrame =
      liveDoclen(spark, h).select(col(idCol), col("dl"))

    override def tombstoneMass: Seq[Column] = corpusStats

    private def liveDoclen(spark: SparkSession, h: IndexManifest.Handle): DataFrame =
      IndexManifest.maskLive(IndexManifest.segTableOrd(spark, h, "doclen"),
        IndexManifest.tombstoneRel(spark, h, idCol), idCol)
  }

  /** One segment's four tables: `postings` repartitioned AND sorted by
    * term (row-group min/max pruning), `termdf` (given, else counted
    * from the postings, which are then held across their two writes),
    * `doclen`, and the one-row `stats` (n_docs, total_len) of the
    * doclen rows.
    *
    * Who writes `stats`: the driver ([[IndexManifest.writeOneRow]]),
    * from a [[Dataset.observe]] placed directly under the doclen write,
    * so the aggregate runs inside the write's own result stage — no
    * second scan, no persist, no job of its own. Exactly once because
    * Spark merges a result-stage task's accumulator update only for the
    * first successful attempt of each partition: a retried, failed or
    * speculative attempt adds nothing, just as it commits no file.
    */
  private def writeTables(postings: DataFrame, termdf: Option[DataFrame], doclen: DataFrame,
      segPath: String): Unit = {
    if (termdf.isEmpty) postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
      postings.repartition(col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$segPath/postings")
      termdf.getOrElse(postings.groupBy("term").agg(count(lit(1)).as("df")))
        .write.mode("overwrite").parquet(s"$segPath/termdf")
    } finally if (termdf.isEmpty) postings.unpersist(): Unit
    val stats = org.apache.spark.sql.Observation()
    doclen.observe(stats, corpusStats.head, corpusStats.tail: _*)
      .write.mode("overwrite").parquet(s"$segPath/doclen")
    val st = stats.get
    IndexManifest.writeOneRow(doclen.sparkSession, s"$segPath/stats",
      "n_docs" -> st("n_docs"), "total_len" -> st("total_len"))
  }

  /** The published index's live document-id relation (one column,
    * named whatever the build used) — the narrow doclen ids through
    * the sequenced tombstone mask, never postings or text. The
    * [[IndexAudit]] input: what this index BELIEVES is live, to be
    * reconciled against the registry and the other tiers. The id
    * column name sniffs off ONE segment's footer (segments share the
    * build schema) and the assembled relation rides the Handle memo,
    * so repeated audits pay a fingerprint check, not per-segment
    * listings.
    */
  def liveDocIds(spark: SparkSession, indexPath: String): DataFrame = {
    val h = SegmentedIndex.open(spark, Bm25(), indexPath)
    Bm25(docIdCol(spark, h.segments)).liveIds(spark, h)
  }

  /** The published index's live (id, content_hash) relation — the
    * [[IndexAudit.auditContent]] input for this tier: doclen's
    * index-time [[contentHash]] fingerprints through the sequenced
    * tombstone mask, never postings or text. A segment written before
    * the fingerprint column existed reads as a null hash = "content
    * unknown" (the audit's pinned null-hash semantics: absence of
    * evidence never counts stale — the id-set counts still cover the
    * doc), so an old index audits instead of refusing. Same Handle
    * memo + narrow-scan shape as [[liveDocIds]].
    */
  def liveDocHashes(spark: SparkSession, indexPath: String): DataFrame = {
    val h = SegmentedIndex.open(spark, Bm25(), indexPath)
    val idCol = docIdCol(spark, h.segments)
    IndexManifest.memo(spark, h, s"live-doc-hashes/$idCol") {
      // the shared (memoized) segment union is STRICT on schema, but
      // doclen's content_hash is the one sanctioned evolution column
      // (IndexManifest.optionalSegColumns): PRE-hash segments in a
      // mixed chain get an explicit typed-null pad there, so only an
      // index whose EVERY segment predates the column (a table the
      // allowlist never saw) needs the unknown pad here
      val ord0 = IndexManifest.segTableOrd(spark, h, "doclen")
      val ord = if (ord0.columns.contains("content_hash")) ord0
        else ord0.withColumn("content_hash", lit(null).cast("long"))
      IndexManifest.maskLive(ord, IndexManifest.tombstoneRel(spark, h, idCol), idCol)
        .select(col(idCol), col("content_hash"))
    }
  }

  /** Merge an INCREMENT of new documents into the index at `indexPath`,
    * publishing the merged index at `outPath` — the maintenance path a
    * growing corpus needs, mirroring [[Dedup]]'s incremental stance:
    * `increment` must contain only documents NOT already LIVE in the
    * index (checked against doclen, the complete indexed id set, minus
    * tombstones — [[deleteFromIndex]] followed by updateIndex with the
    * new text IS the per-document update path). The old corpus is
    * never re-tokenized nor re-written: only the increment's four
    * tables land on disk, as a new segment directory
    * (`outPath/segments/seg-NNNNN`), and the published manifest lists
    * the base segments in place ++ the new one, so bytes written per
    * update are O(increment), not O(corpus). Serve paths union the
    * listed segments (per-term df sums and global stats add across
    * them; each segment keeps its own term sort for row-group pruning).
    * `outPath` must differ from `indexPath`, and `indexPath` must stay
    * alive as long as `outPath` serves; [[compactIndex]] is the
    * explicit O(corpus) merge that re-homes the data. The shared
    * lifecycle is [[SegmentedIndex]].
    */
  def updateIndex(
      spark: SparkSession,
      indexPath: String,
      increment: DataFrame,
      idCol: String,
      textCol: String,
      outPath: String): Unit =
    SegmentedIndex.update(spark, Bm25(idCol, textCol), indexPath, increment, outPath)

  /** DELETE documents from the index at `indexPath`, publishing at
    * `outPath` — the retention / right-to-erasure / document-update
    * path, O(delta) like [[updateIndex]]: no data table is rewritten;
    * the delete lands as a new tombstone directory
    * (`outPath/tombstones/ts-NNNNN` — the id list plus a one-row
    * `tsstats` with the deleted docs' (n_docs, total_len), summed by
    * the liveness guard's own join over the live `doclen` and written
    * by the driver, so the serve-time stats correction is a tiny
    * negated union). Serve paths subtract: postings drop masked
    * rows, per-term df subtracts the masked posting counts, stats
    * subtract tsstats — BM25 scores after a delete are EXACTLY a fresh
    * build's on the remaining corpus. [[compactIndex]] applies
    * tombstones physically. Every delete id must be currently LIVE,
    * and a null id refuses.
    */
  def deleteFromIndex(
      spark: SparkSession,
      indexPath: String,
      deletes: DataFrame,
      idCol: String,
      outPath: String): Unit =
    SegmentedIndex.delete(spark, Bm25(idCol), indexPath, deletes, outPath)

  /** Merge every segment of the index at `indexPath` back into ONE,
    * published at `outPath` — the explicit O(corpus) half of the
    * segmented story, run when the segment list grows or a referenced
    * base root is to be retired. Nothing re-tokenizes: postings are a
    * columnar copy re-sorted GLOBALLY by term (restoring
    * single-segment row-group pruning), termdf re-sums, doclen
    * concatenates, stats add. Tombstones are APPLIED PHYSICALLY here —
    * compaction is where the LSM delete debt is paid.
    */
  def compactIndex(spark: SparkSession, indexPath: String, outPath: String): Unit =
    SegmentedIndex.compact(spark, Bm25(), indexPath, outPath)

  /** One-row operational summary of a segmented index — the dashboard
    * row an index owner watches and the input to [[needsCompaction]]:
    * (n_segments, n_tombstone_gens, n_docs_indexed, n_docs_masked,
    * n_docs_live, total_len_live). Metadata reads only, NEVER a corpus
    * scan, so it is safe to poll from a scheduler.
    */
  def indexInfo(spark: SparkSession, indexPath: String): DataFrame =
    SegmentedIndex.info(spark, Bm25(), indexPath)

  /** The compaction-policy trigger: true when the segment list has
    * grown past `maxSegments` or the tombstone-masked share of indexed
    * docs passes `maxMaskedRatio`. Metadata-only, like [[indexInfo]] —
    * poll it, then run the explicit compaction.
    */
  def needsCompaction(
      spark: SparkSession, indexPath: String,
      maxSegments: Int = 8, maxMaskedRatio: Double = 0.2): Boolean =
    SegmentedIndex.needsCompaction(spark, Bm25(), indexPath, maxSegments, maxMaskedRatio)

  /** ONE maintenance round as a single documented entry point: apply
    * this round's deletes (if any), merge this round's new-document
    * increment (if any), then poll [[needsCompaction]] and run
    * [[compactIndex]] if it trips. Returns the path to SERVE from after
    * the round — `outRoot/deleted`, `outRoot/updated` or
    * `outRoot/compacted`, whichever ran last, or `indexPath` for a
    * no-op round. Each step publishes a full manifest, so a failure
    * mid-round leaves the last published generation serving. `outRoot`
    * must be FRESH each round (enforced loudly). The IVF-PQ twin is
    * [[Similarity.maintainPqIndex]].
    */
  def maintainIndex(
      spark: SparkSession,
      indexPath: String,
      deletes: Option[DataFrame],
      increment: Option[DataFrame],
      idCol: String,
      textCol: String,
      outRoot: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2): String =
    SegmentedIndex.maintain(spark, Bm25(idCol, textCol), indexPath, deletes, increment,
      outRoot, maxSegments, maxMaskedRatio)

  /** ONE streaming micro-batch's index-ingest round — the
    * EXACTLY-ONCE unit [[graft.streaming.Streams.bm25IndexIngest]]
    * replays through `foreachBatch`: append this batch's new documents
    * as an O(batch) increment on top of whatever the serve pointer
    * currently publishes, let the compaction policy amortize the
    * segment debt, and flip the pointer to the new generation. Keyed
    * by `batchId` (`ingestRoot/batch-<id>`), the round is IDEMPOTENT
    * under Structured Streaming's replay contract
    * ([[IndexManifest.ingestRound]]: a committed batch re-flips, a
    * half-written one is cleared and re-run). An empty batch publishes
    * nothing; rows with a null id or text are nothing to index and are
    * dropped. With `keepGenerations` set, every committed round ends
    * with [[IndexManifest.retainGenerations]] on the pointer's own
    * history, so a long-running ingest's disk footprint stays bounded.
    * Reference counterpart: none — ironbeam is batch-only; this is the
    * continuous-ingest sibling of [[maintainIndex]].
    */
  def ingestIndexBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      textCol: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit =
    SegmentedIndex.ingest(spark, Bm25(idCol, textCol), batch, batchId, pointerPath,
      ingestRoot, maxSegments, maxMaskedRatio, keepGenerations, snapshotPath, nightlyMarkerPath)

  /** [[ingestIndexBatch]]'s UPSERT form — the CDC-shaped stream where
    * a batch row is "the current version of this document", new or
    * not: ids already live in the pointer's generation are tombstoned
    * first and every batch row then lands as the increment, so a
    * replaced document's old postings stop serving in the SAME
    * generation its new text starts. Malformed rows refuse LOUDLY
    * before any state changes: two rows for one id (no version column
    * orders them — collapse versions upstream, e.g. through a
    * `latest_per_key` step), a null id, and a null text (a deletion in
    * disguise that would leave the stale version serving — route real
    * deletions through the maintenance tier). Brand-new-only streams
    * should prefer [[ingestIndexBatch]], which skips the live-set
    * semi-join.
    */
  def ingestUpsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      textCol: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit =
    SegmentedIndex.ingestUpsert(spark, Bm25(idCol, textCol), batch, batchId, pointerPath,
      ingestRoot, maxSegments, maxMaskedRatio, keepGenerations, snapshotPath, nightlyMarkerPath)

  /** BM25 top-k against a prebuilt index — the serve path. The ONLY
    * corpus-sized relation in the plan is the postings scan, and the
    * term restriction pushes into it (row-group pruning on the
    * build-time term sort); df and stats broadcast. Output matches
    * [[searchTopK]]: (rank, id, score).
    */
  def searchTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "searchTopKIndexed: empty query")
    import spark.implicits._
    val q = terms.map(t => (0L, t)).toDF("query_id", "term")
    searchTopKIndexedBatch(spark, indexPath, idCol, q, k, k1, b)
      .select(col("rank"), col(idCol), col("score"))
  }

  /** BM25 top-k for EVERY query in `queries` (query_id, term) against a
    * prebuilt index — the production serve pattern: however many
    * queries arrive in the batch, the corpus-sized postings relation is
    * scanned ONCE, pruned to the UNION of all query terms. The distinct
    * term list is a bounded driver collect (queries are human-sized;
    * the corpus is not), which is what lets the restriction push into
    * the parquet scan as an `In` filter and keep the build-time
    * row-group pruning effective — a join-based restriction would not
    * push down. df and stats broadcast; scoring and ranking are
    * per-query aggregates (the bounded O(k) top-k, ties to the lower
    * id). Duplicate query terms re-score, as in [[bm25]].
    * Output: (query_id, rank, id, score) — query_id normalized to long.
    */
  def searchTopKIndexedBatch(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    // ONE handle resolution per serve call (presence + version +
    // segments + tombstones) — on an object store every extra
    // resolution is a listing round trip
    val h = SegmentedIndex.open(spark, Bm25(), indexPath)
    // evaluate the caller's relation EXACTLY ONCE: both the In-filter
    // term list and the scoring join are rebuilt from this one collect,
    // so a non-deterministic queries source (a sample, an unordered
    // limit) cannot hand the filter one term set and the join another —
    // that mismatch would silently prune matching postings
    val queryRows = queries
      .select(col("query_id").cast("long"), col("term"))
      .where(col("term").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    require(queryRows.nonEmpty, "searchTopKIndexedBatch: no query terms")
    import spark.implicits._
    val q = queryRows.toDF("query_id", "term")
    val terms = queryRows.map(_._2).distinct
    // every base relation below comes off the Handle's per-generation
    // memo (IndexManifest.segTable(h)): assembling them fresh costs a
    // driver listing + footer read per table per call — measurable
    // per-call serve latency that buys nothing, since published
    // segments are immutable
    val pruned = IndexManifest.segTable(spark, h, "postings")
      .where(col("term").isin(terms: _*))
    // live query-term df and corpus stats — ONE implementation of the
    // tombstone corrections, shared with the streaming gate's
    // [[queryConstants]] so the two serve surfaces cannot drift
    val (dfs, stats) = liveTermStats(spark, h, terms, idCol)
    // live postings by the sequenced mask — only when deletes exist,
    // so the common no-deletes plan is untouched
    val postings = IndexManifest.tombstoneRel(spark, h, idCol) match {
      case None => pruned
      case Some(ts) =>
        IndexManifest.maskLive(IndexManifest.segTableOrd(spark, h, "postings")
          .where(col("term").isin(terms: _*)), Some(ts), idCol)
    }
    postings
      .join(broadcast(dfs), Seq("term"))
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col(idCol), contrib(k1, b).as("contrib"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("contrib")), 6).as("score"))
      .transform(s => rankByScore(s, Seq("query_id"), idCol, k))
  }

  /** Top-k documents per query by BM25 — [[bm25]] ranked with the
    * bounded O(k) aggregate (ties to the lower id; ids must be
    * numeric). Output: (query_id, rank, id, score is re-derivable from
    * [[bm25]]) — rank 1 = best match.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame =
    rankByScore(bm25(docs, idCol, textCol, queries, k1, b), Seq("query_id"), idCol, k)

  /** The ONE score-carrying ranking idiom every retrieval surface
    * shares: bounded O(k) top-k aggregate per group (ties to the lower
    * id), exploded to contiguous 1-based ranks — the score-bearing
    * sibling of `Similarity.rankTopK`. Output:
    * groupCols ++ (rank, idCol, score round-6).
    */
  private def rankByScore(
      scored: DataFrame, groupCols: Seq[String], idCol: String, k: Int): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) scored.groupBy()
      else scored.groupBy(groupCols.map(col): _*)
    grouped
      .agg(Similarity.topKAgg(col("score"), col(idCol).cast("long"), k).as("top"))
      .select(groupCols.map(col) :+ posexplode(col("top")).as(Seq("pos", "e")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("e.neighbor_id").as(idCol),
        round(col("e.score"), 6).as("score")): _*)
  }

  /** Top-k TF-IDF keywords per document — the per-doc salient-term
    * extraction a corpus audit or data card wants. idf uses the same
    * log2-of-odd-integers grid as [[bm25]] in its always-positive form
    * `log2(2N + 1) - log2(2 df(t) + 1)` (df <= N, so every keyword
    * scores > 0 and stopwords merely rank low). Ranking is a
    * per-document row_number window — partitioned by the doc id, so
    * each task sorts only its own documents' term lists (bounded by
    * tokens-per-doc), never a global sort. Ties break on the term
    * string ascending. Output: (id, rank, term, score).
    */
  def tfidfKeywords(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.where(col(textCol).isNotNull)
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df_, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"),
        round((log2(lit(2L) * col("n_docs") + 1L) - log2(lit(2L) * col("df") + 1L)) * col("tf"), 6)
          .as("score"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Exact token-phrase occurrence counts — the phrase-query leg of the
    * search tier: how many times does `phrase` appear as CONSECUTIVE
    * tokens in each document (overlaps count). One corpus scan, no
    * join: the sliding window is a native codegen'd Expression
    * ([[graft.expressions.TokenPhraseCount]]) — the composed
    * transform+filter gram form ran its lambdas interpreted and
    * measured ~8x slower at sf0.1. Empty split() artifacts are
    * excluded to match the BM25 tokenization. Docs with zero hits emit
    * no row. Output: (id, n_hits).
    */
  def phraseHits(
      docs: DataFrame, idCol: String, textCol: String, phrase: String): DataFrame = {
    val p = phrase.trim.split("\\s+").toSeq
    require(p.nonEmpty && p.forall(_.nonEmpty), s"empty phrase: '$phrase'")
    val hits = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.TokenPhraseCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(split(col(textCol), " ")),
        p))
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol), hits.as("n_hits"))
      .where(col("n_hits") >= 1)
  }

  /** Per-document BM25 score against ONE fixed query, as a stateless
    * row expression — the stream-serving form: df / N / total-length
    * ship as captured constants (read once from a prebuilt index's
    * termdf and stats tables), per-term tf is the native
    * [[graft.expressions.TokenPhraseCount]] window walk, and the whole
    * score is a codegen'd projection with no join, no shuffle, no
    * state. Because it is a pure projection it composes with
    * `readStream` UNCHANGED and must produce the identical scores as
    * the relational [[bm25]] on the same rows (differential-tested).
    * Terms absent from `df` never matched any document at index time
    * and contribute nothing. Docs matching no term emit no row.
    * Output: (id, score).
    */
  def scoreAgainstQuery(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      df: Map[String, Long],
      nDocs: Long,
      totalLen: Long,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "scoreAgainstQuery: empty query")
    val tk = split(col(textCol), " ")
    def tfOf(t: String): Column = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.TokenPhraseCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(tk), Seq(t)))
    val known = terms.filter(df.contains)
    val distinctKnown = known.distinct
    // each distinct term's token-array walk runs ONCE, as a projected
    // column — Spark does not CSE native expressions across the filter
    // and the scoring projection, so naming them is what dedups them
    val tfCols = distinctKnown.zipWithIndex.map { case (t, i) => t -> s"_tf_$i" }.toMap
    val withTf = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol) +:
        (size(filter(tk, x => length(x) > 0)).cast("long").as("_dl")) +:
        distinctKnown.map(t => tfOf(t).as(tfCols(t))): _*)
    // one contribution PER QUERY-TERM OCCURRENCE, in query order — the
    // duplicate-term re-scoring semantics (and the summation order) of
    // the relational [[bm25]], where each duplicate query row adds its
    // own contrib
    val contribs = known.map { t =>
      val tf = col(tfCols(t))
      val dft = df(t)
      when(tf > 0,
        (log2(lit(2L * nDocs - 2L * dft + 1L)) - log2(lit(2L * dft + 1L)))
          * (tf * (k1 + 1.0))
          / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") * lit(nDocs) / lit(totalLen).cast("double"))))
        .otherwise(lit(0.0))
    }
    val matched = distinctKnown.map(t => col(tfCols(t)) > 0)
      .reduceOption(_ || _).getOrElse(lit(false))
    val score = contribs.reduceOption(_ + _).getOrElse(lit(0.0))
    withTf
      .where(matched)
      .select(col(idCol), round(score, 6).as("score"))
  }

  /** The LIVE per-term df and corpus stats of a term-restricted query
    * against a loaded index handle — the ONE implementation of the
    * serve-time tombstone corrections, shared by
    * [[searchTopKIndexedBatch]] and [[queryConstants]] so the batch
    * serve path and the streaming gate constants cannot drift apart:
    * df restricted to the query terms BEFORE broadcasting and SUMMED
    * across segments, minus the sequenced-mask posting counts (derived
    * from the same term-pruned scan — a pruned re-scan, never a
    * vocabulary pass); stats are the segments' `stats` sums minus the
    * delete-time `tsstats` sums, read on the driver
    * ([[SegmentedIndex.masses]] — no job, no corpus doclen scan) into a
    * one-row local relation memoized on the Handle. A relation, not
    * literals: a literal constant compiles into the generated code, so
    * every new generation would compile new classes. The no-deletes
    * plan carries zero extra operators.
    */
  private def liveTermStats(
      spark: SparkSession, h: IndexManifest.Handle,
      terms: Seq[String], idCol: String): (DataFrame, DataFrame) = {
    val dfSummed = IndexManifest.segTable(spark, h, "termdf")
      .where(col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").as("df"))
    val stats = IndexManifest.memo(spark, h, "live-stats") {
      val (indexed, masked) = SegmentedIndex.masses(spark, Bm25(), h)
      IndexManifest.infoRow(spark, Bm25().statCols.zip(indexed.zip(masked))
        .map { case (c, (i, m)) => c -> (i - m) }: _*)
    }
    IndexManifest.tombstoneRel(spark, h, idCol) match {
      case None => (dfSummed, stats)
      case Some(ts) =>
        val prunedOrd = IndexManifest.segTableOrd(spark, h, "postings")
          .where(col("term").isin(terms: _*))
        val dfDel = prunedOrd.join(ts, Seq(idCol), "inner")
          .where(col("__seg") < col("__ts_up"))
          .groupBy("term").agg(count(lit(1)).as("df_del"))
        val dfLive = dfSummed.join(dfDel, Seq("term"), "left_outer")
          .select(col("term"), (col("df") - coalesce(col("df_del"), lit(0L))).as("df"))
        (dfLive, stats)
    }
  }

  /** The [[scoreAgainstQuery]] constants of ONE fixed query resolved
    * from the PUBLISHED index at `indexPath` — (per-term df, n_docs,
    * total_len) through the manifest handle, with the SAME tombstone
    * corrections as [[searchTopKIndexedBatch]]: per-term df minus the
    * masked posting counts, stats minus the delete-time tsstats. The
    * index-backed streaming scorer resolves these once per query
    * (re)start (the trained-model stance — the collects are |terms|
    * rows plus one), so deletes are respected at the next restart and
    * a re-added document's new postings count from its new segment.
    * Terms whose live df reaches 0 are dropped: every posting they
    * had is masked, which is exactly "absent from the corpus" in the
    * direct path's join.
    */
  def queryConstants(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String]): (Map[String, Long], Long, Long) = {
    require(terms.nonEmpty, "queryConstants: empty query")
    val h = SegmentedIndex.open(spark, Bm25(), indexPath)
    val idCol = docIdCol(spark, h.segments)
    val (dfs, stats) = liveTermStats(spark, h, terms.distinct, idCol)
    val dfMap = dfs.collect().map(r => r.getString(0) -> r.getLong(1))
      .filter(_._2 > 0L).toMap
    val st = stats.head()
    (dfMap, st.getLong(0), st.getLong(1))
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-search
    * combiner (Cormack/Clarke/Buettcher 2009): fused(d) =
    * sum over rankings of 1 / (c + rank(d)), c = 60 by default, with a
    * document absent from one ranking contributing 0 for it. Rank
    * positions are small integers and c is an integer, so every term is
    * 1/(integer) — the same IEEE division in any engine — and the
    * two-term sum has a FIXED evaluation order (lexical + semantic),
    * keeping the fused score bit-reproducible. Inputs are (id, rank)
    * relations; both are rank-bounded (top-k lists), so the fuse is a
    * join of two SMALL relations regardless of corpus size, and the
    * final ranking is the bounded O(k) aggregate. Ties to the lower id.
    * Output: (rank, id, score).
    */
  def rrfFuse(
      lexical: DataFrame,
      semantic: DataFrame,
      idCol: String,
      k: Int,
      c: Int = 60
  ): DataFrame = {
    def reciprocal(r: Column): Column = lit(1.0) / (lit(c.toLong) + r)
    val fused = lexical.select(col(idCol), col("rank").as("r_lex"))
      .join(semantic.select(col(idCol), col("rank").as("r_sem")), Seq(idCol), "full_outer")
      .select(col(idCol),
        round(coalesce(reciprocal(col("r_lex")), lit(0.0))
          + coalesce(reciprocal(col("r_sem")), lit(0.0)), 6).as("score"))
    rankByScore(fused, Seq.empty, idCol, k)
  }

  /** Single-query sugar: score `terms` against the corpus, top-k.
    * Output: (rank, id, score).
    */
  def searchTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "searchTopK: empty query")
    val spark: SparkSession = docs.sparkSession
    import spark.implicits._
    val q = terms.map(t => (0L, t)).toDF("query_id", "term")
    bm25TopK(docs, idCol, textCol, q, k, k1, b)
      .select(col("rank"), col(idCol), col("score"))
  }
}
