package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A published, segmented + tombstoned SIDE TABLE under the
  * [[IndexManifest]] protocol — the third index family, for the
  * narrow per-document relations the batch tier maintains BESIDE the
  * corpus so online paths never touch corpus text: the SimHash
  * fingerprint relation a streaming near-dup admission gate probes,
  * the (vector, cell) relation its semantic sibling probes. The BM25
  * and IVF-PQ tiers each hard-code their table set; this one carries
  * a single `rows` table of caller-defined schema, identified by a
  * caller-supplied `flavor` string (validated on every read, so a
  * gate expecting 16-bit fingerprints refuses a 32-bit index loudly
  * instead of emitting silently-wrong verdicts).
  *
  * Same lifecycle as the other two tiers — ONE implementation,
  * [[SegmentedIndex]], run over this tier's family descriptor: a
  * nightly batch run publishes the base, daily
  * increments land as O(increment) segments, deletes land as
  * O(delta) tombstones with per-generation horizons (so a deleted
  * doc re-enters via [[update]] without the old tombstone swallowing
  * the new row), and readers union the listed segments minus the
  * sequenced mask. The commit-marker crash posture is inherited: a
  * crash mid-publish leaves an index that refuses to serve.
  *
  * Reference counterpart: ironbeam's side-input relations
  * (side_input.rs) are in-memory per-run; this tier is what they
  * become when the corpus outgrows one machine and the admission
  * side tables must live in durable storage between runs.
  */
object SideIndex {

  /** Publish `rows` as a fresh one-segment side index at `path`.
    * `rows` must carry `idCol` (the key deletes and the re-submission
    * guard work over); all other columns are payload. `flavor` names
    * the table's semantic identity (e.g. "simhash-16") — readers
    * validate it. Null or duplicate ids refuse: one live row per key is
    * the contract every later path depends on.
    */
  def build(rows: DataFrame, idCol: String, flavor: String, path: String): Unit =
    SegmentedIndex.build(Side(idCol, Some(flavor)), rows, path)

  /** The side-table family of the shared [[SegmentedIndex]] lifecycle:
    * a segment is the caller's rows verbatim plus a one-row `stats`
    * (n_rows). `flavor`, when given, is the table identity every open
    * checks; update, delete and compact carry the index's own.
    */
  private final case class Side(idCol: String = "", expected: Option[String] = None)
      extends SegmentedIndex.Family {
    def what: String = expected.fold("side")(f => s"side($f)")
    def stem: String = "rows"
    override def flavor: Option[String] = expected

    def writeSegment(rows: DataFrame, segPath: String): Unit = {
      rows.write.mode("overwrite").parquet(s"$segPath/rows")
      SegmentedIndex.writeCountStats(rows.sparkSession, segPath, "rows", "n_rows")
    }

    // rows are re-homed verbatim. The mask key is the column the
    // tombstones' ids table names; a tombstone-free index has no record
    // of it, and its unmasked union needs none
    def rehome(spark: SparkSession, h: IndexManifest.Handle, segPath: String): Unit = {
      val key = h.tombstones.headOption.fold("")(t =>
        IndexManifest.readDir(spark, s"$t/ids").columns.filter(_ != "up_to").head)
      writeSegment(liveRows(spark, h, key), segPath)
    }

    def liveIds(spark: SparkSession, h: IndexManifest.Handle): DataFrame =
      liveRows(spark, h, idCol).select(col(idCol))

    // NO broadcast hint: a 100 TB deployment's daily increment can be
    // GBs of ids, and a forced broadcast would collect it to the
    // driver; Spark broadcasts small sides from stats on its own
    def incrementIds(increment: DataFrame): DataFrame = increment.select(col(idCol))

    // the increment must speak the base segments' schema: readers union
    // every segment, so a drifted column would publish cleanly and then
    // fail (or silently coerce) at SERVE time. catalogString, not
    // DataType equality: parquet reads arrays back with containsNull =
    // true while a memory-built increment may say false, and that
    // nullability variance unions fine
    override def checkSchema(
        rows: DataFrame, path: String, base: Option[IndexManifest.Handle]): Unit = {
      require(rows.columns.contains(idCol), s"$what: no '$idCol' column")
      base.foreach { h =>
        val baseSchema =
          IndexManifest.readDir(rows.sparkSession, s"${h.segments.head}/rows").schema
        require(
          baseSchema.map(f => (f.name, f.dataType.catalogString)).toSet ==
            rows.schema.map(f => (f.name, f.dataType.catalogString)).toSet,
          s"$what: increment schema ${rows.schema.simpleString} does not match the " +
            s"index's rows schema ${baseSchema.simpleString} at $path")
      }
    }

    // one bounded pass: a null-keyed row could never be deleted or
    // re-keyed, and two live rows for one key would serve silently
    // and break the stats arithmetic
    override def checkBatch(
        rows: DataFrame, path: String, base: Option[IndexManifest.Handle]): Unit = {
      checkSchema(rows, path, base)
      val c = rows.agg(
        count(lit(1)).as("n"),
        count(col(idCol)).as("nn"),
        countDistinct(col(idCol)).as("nd")).head()
      require(c.getLong(0) == c.getLong(1),
        s"$what: ${c.getLong(0) - c.getLong(1)} rows carry a null '$idCol' — " +
          "a null-keyed row cannot be deleted or re-keyed later; fix the input")
      require(c.getLong(1) == c.getLong(2),
        s"$what: ${c.getLong(1) - c.getLong(2)} duplicate ids — " +
          "one live row per key is the index's contract")
    }
  }

  /** Every listed segment's rows unioned, minus the sequenced tombstone
    * mask keyed on `idCol`, off the Handle's per-generation memo.
    */
  private def liveRows(spark: SparkSession, h: IndexManifest.Handle, idCol: String): DataFrame =
    IndexManifest.memo(spark, h, s"side-live/$idCol") {
      IndexManifest.maskLive(
        IndexManifest.segTableOrd(spark, h, "rows"),
        IndexManifest.tombstoneRel(spark, h, idCol), idCol)
    }

  /** The LIVE rows: every listed segment unioned, minus the sequenced
    * tombstone mask — assembled off the Handle's per-generation memo,
    * so repeated serve resolutions cost a filesystem fingerprint
    * check, not a per-call listing.
    */
  def read(spark: SparkSession, path: String, idCol: String, flavor: String): DataFrame =
    liveRows(spark, SegmentedIndex.open(spark, Side(idCol, Some(flavor)), path), idCol)

  /** Merge an increment of NEW rows, publishing at `outPath` —
    * O(increment) bytes: the base segments carry by reference, only
    * the increment's rows land on disk. The increment must match the
    * index's rows schema and carry no null or duplicate id; ids
    * already live fail loudly (delete first, then update — the
    * document-update path all three index families share).
    */
  def update(
      spark: SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      outPath: String): Unit =
    SegmentedIndex.update(spark, Side(idCol), path, increment, outPath)

  /** Tombstone `deletes`' ids, publishing at `outPath` — O(delta):
    * no segment is rewritten; the new tombstone generation carries
    * the segment-count horizon that keeps delete/re-add/delete chains
    * sequenced. Every id must be currently live; a null id refuses.
    */
  def delete(
      spark: SparkSession,
      path: String,
      deletes: DataFrame,
      idCol: String,
      outPath: String): Unit =
    SegmentedIndex.delete(spark, Side(idCol), path, deletes, outPath)

  /** Re-home the live rows into ONE fresh segment at `outPath` and
    * clear the tombstone debt — the explicit O(corpus) compaction the
    * other two tiers share.
    */
  def compact(spark: SparkSession, path: String, outPath: String): Unit =
    SegmentedIndex.compact(spark, Side(), path, outPath)

  /** The compaction-policy trigger — the side tier's twin of
    * [[Retrieval.needsCompaction]]: true when the segment list has
    * grown past `maxSegments` or the tombstone-masked share of indexed
    * rows passes `maxMaskedRatio`. Metadata-only, like [[info]] — safe
    * to poll from a scheduler.
    */
  def needsCompaction(
      spark: SparkSession, path: String, flavor: String,
      maxSegments: Int = 8, maxMaskedRatio: Double = 0.2): Boolean =
    SegmentedIndex.needsCompaction(spark, Side(expected = Some(flavor)), path,
      maxSegments, maxMaskedRatio)

  /** ONE maintenance round as a single entry point — the side tier's
    * twin of [[Retrieval.maintainIndex]] / [[Similarity.maintainPqIndex]]:
    * apply this round's [[delete]]s (if any), merge this round's
    * [[update]] increment (if any), then poll [[needsCompaction]] with
    * the given policy and [[compact]] if it trips. Returns the path to
    * SERVE from after the round — `outRoot/deleted`, `outRoot/updated`
    * or `outRoot/compacted`, whichever ran last; a no-op round returns
    * `indexPath` unchanged. `outRoot` must be FRESH each round.
    */
  def maintain(
      spark: SparkSession,
      indexPath: String,
      deletes: Option[DataFrame],
      increment: Option[DataFrame],
      idCol: String,
      flavor: String,
      outRoot: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2): String =
    SegmentedIndex.maintain(spark, Side(idCol, Some(flavor)), indexPath, deletes, increment,
      outRoot, maxSegments, maxMaskedRatio)

  /** ONE streaming micro-batch's SIDE-TABLE ingest round — the third
    * family on the shared engine ([[Retrieval.ingestIndexBatch]] /
    * [[Similarity.ingestPqIndexBatch]] siblings): the batch's new side
    * rows land as an O(batch) increment generation behind the serve
    * pointer, with the same idempotent replay, residue cleanup,
    * empty-batch no-op, and optional retention. Null-id rows are
    * dropped before the empty-batch check.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      flavor: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit =
    SegmentedIndex.ingest(spark, Side(idCol, Some(flavor)), batch, batchId, pointerPath,
      ingestRoot, maxSegments, maxMaskedRatio, keepGenerations, snapshotPath, nightlyMarkerPath)

  /** [[ingestBatch]]'s UPSERT form — the CDC-shaped side-table stream
    * where a batch row is "the current payload of this id", refreshed
    * or brand new: ids already live in the pointer's generation are
    * tombstoned first and every batch row then lands as the increment,
    * so a refreshed row's old payload stops serving in the SAME
    * generation its new payload starts. Same refusal contract as the
    * other families — minus the null-payload check, which has no
    * single-column meaning on an arbitrary-schema side row (a tier
    * with a canonical payload column should validate it upstream).
    * Additive-only streams should prefer [[ingestBatch]], which skips
    * the live-set semi-join.
    */
  def ingestUpsertBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      pointerPath: String,
      ingestRoot: String,
      idCol: String,
      flavor: String,
      maxSegments: Int = 8,
      maxMaskedRatio: Double = 0.2,
      keepGenerations: Option[Int] = None,
      snapshotPath: Option[String] = None,
      nightlyMarkerPath: Option[String] = None): Unit =
    SegmentedIndex.ingestUpsert(spark, Side(idCol, Some(flavor)), batch, batchId, pointerPath,
      ingestRoot, maxSegments, maxMaskedRatio, keepGenerations, snapshotPath, nightlyMarkerPath)

  /** The operational metadata row (n_segments, n_tombstone_gens,
    * n_rows_indexed, n_rows_masked, n_rows_live) — footer-sized reads
    * only, poll-safe, mirroring the other tiers' info surfaces.
    */
  def info(spark: SparkSession, path: String, flavor: String): DataFrame =
    SegmentedIndex.info(spark, Side(expected = Some(flavor)), path)
}
