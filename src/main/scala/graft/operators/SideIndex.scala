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
  * Same LSM cost shape as the other two tiers, same shared
  * sequencing implementation (one [[IndexManifest.maskLive]] for all
  * three families): a nightly batch run publishes the base, daily
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

  private val FormatVersion = 3

  /** Publish `rows` as a fresh one-segment side index at `path`.
    * `rows` must carry `idCol` (the key deletes and the re-submission
    * guard work over); all other columns are payload. `flavor` names
    * the table's semantic identity (e.g. "simhash-16") — readers
    * validate it.
    */
  def build(rows: DataFrame, idCol: String, flavor: String, path: String): Unit = {
    val spark = rows.sparkSession
    require(rows.columns.contains(idCol), s"SideIndex.build: no '$idCol' column")
    // the one-live-row-per-key contract every later path (update's
    // guards, delete's tsstats arithmetic, info's live count) depends
    // on is enforced HERE, at the only door a base enters through —
    // and null ids refuse loudly instead of silently vanishing from
    // the published segment
    requireKeyedRows(rows, idCol, "build")
    IndexManifest.clear(spark, path)
    val seg = "segments/seg-00000"
    writeSegment(rows, idCol, s"$path/$seg")
    IndexManifest.write(spark, path, version = FormatVersion,
      flavor = flavor, segments = Seq(seg))
  }

  /** One bounded pass asserting the tier's row contract: no null ids
    * (a null-keyed row can never be deleted or re-keyed — it would
    * just vanish from the write, silently) and no duplicate ids (two
    * live rows for one key would serve silently and break the
    * footer-stats live arithmetic). Shared by build and update.
    */
  private def requireKeyedRows(rows: DataFrame, idCol: String, what: String): Unit = {
    val c = rows.agg(
      count(lit(1)).as("n"),
      count(col(idCol)).as("nn"),
      countDistinct(col(idCol)).as("nd")).head()
    require(c.getLong(0) == c.getLong(1),
      s"SideIndex.$what: ${c.getLong(0) - c.getLong(1)} rows carry a null '$idCol' — " +
        "a null-keyed row cannot be deleted or re-keyed later; fix the input")
    require(c.getLong(1) == c.getLong(2),
      s"SideIndex.$what: ${c.getLong(1) - c.getLong(2)} duplicate ids — " +
        "one live row per key is the index's contract")
  }

  /** The segment layout in ONE place — rows plus the one-row `stats`
    * the metadata polls sum (resolved from parquet footers, no payload
    * bytes read) — shared by build, update, and compact so the format
    * cannot fork.
    */
  private def writeSegmentRaw(rows: DataFrame, segPath: String): Unit = {
    val spark = rows.sparkSession
    rows.write.mode("overwrite").parquet(s"$segPath/rows")
    IndexManifest.readDir(spark, s"$segPath/rows")
      .agg(count(lit(1)).as("n_rows"))
      .write.mode("overwrite").parquet(s"$segPath/stats")
  }

  private def writeSegment(rows: DataFrame, idCol: String, segPath: String): Unit =
    writeSegmentRaw(rows.where(col(idCol).isNotNull), segPath)

  private def handleFor(
      spark: SparkSession, path: String, flavor: String): IndexManifest.Handle = {
    val h = IndexManifest.handle(spark, path, s"side($flavor)")
    IndexManifest.requireVersion(h, path, s"side($flavor)", FormatVersion)
    require(h.flavor == flavor,
      s"side index at $path is '${h.flavor}', not the requested '$flavor' — " +
        "a gate reading the wrong table would emit silently-wrong verdicts")
    h
  }

  /** The LIVE rows: every listed segment unioned, minus the sequenced
    * tombstone mask — assembled off the Handle's per-generation memo,
    * so repeated serve resolutions cost a filesystem fingerprint
    * check, not a per-call listing.
    */
  def read(spark: SparkSession, path: String, idCol: String, flavor: String): DataFrame = {
    val h = handleFor(spark, path, flavor)
    IndexManifest.memo(spark, h, s"side-live/$idCol") {
      IndexManifest.maskLive(
        IndexManifest.segTableOrd(spark, h, "rows"),
        IndexManifest.tombstoneRel(spark, h, idCol), idCol)
    }
  }

  /** Merge an increment of NEW rows, publishing at `outPath` —
    * O(increment) bytes: the base segments carry by reference, only
    * the increment's rows land on disk. Ids already live fail loudly
    * (delete first, then update — the document-update path all three
    * index families share).
    */
  def update(
      spark: SparkSession,
      path: String,
      increment: DataFrame,
      idCol: String,
      outPath: String): Unit = {
    require(outPath != path,
      "SideIndex.update: outPath must differ (the base keeps serving, referenced in place)")
    val h = IndexManifest.handle(spark, path, "side")
    IndexManifest.requireVersion(h, path, "side", FormatVersion)
    // the increment must speak the base segments' schema: readers
    // union every segment, so a drifted column name or type would
    // publish cleanly here and then fail (or silently coerce) at
    // SERVE time on a "valid" index — refuse loudly at the write
    // catalogString, not DataType equality: parquet reads arrays back
    // with containsNull = true while a memory-built increment may say
    // false — nullability variance unions fine and must not refuse
    val baseSchema = IndexManifest.readDir(spark, s"${h.segments.head}/rows").schema
    val incSchema = increment.schema
    require(
      baseSchema.map(f => (f.name, f.dataType.catalogString)).toSet ==
        incSchema.map(f => (f.name, f.dataType.catalogString)).toSet,
      s"SideIndex.update: increment schema ${incSchema.simpleString} does not match the " +
        s"index's rows schema ${baseSchema.simpleString} at $path")
    // the row contract (no null ids, no duplicate ids) refuses loudly
    // at the write, then: no increment id may already be live in the
    // base (delete first — the re-keyed-row path). NO broadcast hint
    // on the semi-join: a 100 TB deployment's daily increment can be
    // GBs of ids, and a forced broadcast would collect it to the
    // driver; Spark broadcasts small sides from stats on its own and
    // hash-joins large ones (the maskLive stance).
    requireKeyedRows(increment, idCol, "update")
    val incIds = increment.select(col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val resubmitted = read(spark, path, idCol, h.flavor)
        .join(incIds, Seq(idCol), "left_semi")
        .count()
      require(resubmitted == 0L,
        s"SideIndex.update: $resubmitted increment ids already live at $path — " +
          "delete them first, then update (the re-keyed-row path)")
    } finally incIds.unpersist()
    val seg = s"segments/${IndexManifest.nextSegmentName(h.segments)}"
    IndexManifest.clear(spark, outPath)
    writeSegment(increment, idCol, s"$outPath/$seg")
    IndexManifest.write(spark, outPath, version = FormatVersion, flavor = h.flavor,
      segments = IndexManifest.qualify(spark, h.segments) :+ seg,
      tombstones = IndexManifest.qualify(spark, h.tombstones))
  }

  /** Tombstone `deletes`' ids, publishing at `outPath` — O(delta):
    * no segment is rewritten; the new tombstone generation carries
    * the segment-count horizon that keeps delete/re-add/delete chains
    * sequenced. Every id must be currently live.
    */
  def delete(
      spark: SparkSession,
      path: String,
      deletes: DataFrame,
      idCol: String,
      outPath: String): Unit = {
    require(outPath != path,
      "SideIndex.delete: outPath must differ (the base keeps serving, referenced in place)")
    val h = IndexManifest.handle(spark, path, "side")
    IndexManifest.requireVersion(h, path, "side", FormatVersion)
    // a null delete id names nothing — silently dropping it would hide
    // an upstream bug behind an apparently-successful erasure
    val nNull = deletes.where(col(idCol).isNull).count()
    require(nNull == 0L,
      s"SideIndex.delete: $nNull rows carry a null '$idCol' — every delete must " +
        "name a currently-indexed row; fix the input")
    val ids = deletes.select(col(idCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val missing = ids
        .join(read(spark, path, idCol, h.flavor).select(col(idCol)), Seq(idCol), "left_anti")
        .count()
      require(missing == 0L,
        s"SideIndex.delete: $missing ids are not live at $path — every delete must " +
          "name a currently-indexed, not-already-deleted row")
      val ts = s"tombstones/${IndexManifest.nextTombstoneName(h.tombstones)}"
      IndexManifest.clear(spark, outPath)
      ids.withColumn("up_to", lit(h.segments.size))
        .write.mode("overwrite").parquet(s"$outPath/$ts/ids")
      ids.agg(count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(s"$outPath/$ts/tsstats")
      IndexManifest.write(spark, outPath, version = FormatVersion, flavor = h.flavor,
        segments = IndexManifest.qualify(spark, h.segments),
        tombstones = IndexManifest.qualify(spark, h.tombstones) :+ ts)
    } finally ids.unpersist()
  }

  /** Re-home the live rows into ONE fresh segment at `outPath` and
    * clear the tombstone debt — the explicit O(corpus) compaction the
    * other two tiers share.
    */
  def compact(spark: SparkSession, path: String, outPath: String): Unit = {
    require(outPath != path,
      "SideIndex.compact: outPath must differ (cannot overwrite an index being read)")
    val h = IndexManifest.handle(spark, path, "side")
    IndexManifest.requireVersion(h, path, "side", FormatVersion)
    // the key column is whichever column the tombstones mask — but a
    // tombstone-free index has no record of it, so compaction takes
    // the id column from the caller via read()'s contract instead:
    // rows are re-homed verbatim, the mask needs the id only when
    // tombstones exist, and their ids table names exactly one column
    val idCol =
      if (h.tombstones.isEmpty) null
      else IndexManifest.readDir(spark, s"${h.tombstones.head}/ids")
        .columns.filter(_ != "up_to").head
    val live =
      if (idCol == null) IndexManifest.segTableOrd(spark, h, "rows").drop("__seg")
      else IndexManifest.maskLive(
        IndexManifest.segTableOrd(spark, h, "rows"),
        IndexManifest.tombstoneRel(spark, h, idCol), idCol)
    IndexManifest.clear(spark, outPath)
    val seg = "segments/seg-00000"
    writeSegmentRaw(live, s"$outPath/$seg")
    IndexManifest.write(spark, outPath, version = FormatVersion, flavor = h.flavor,
      segments = Seq(seg))
  }

  /** The compaction-policy trigger — the side tier's twin of
    * [[Retrieval.needsCompaction]]: true when the segment list has
    * grown past `maxSegments` (each live read unions one more pruned
    * scan per segment) or when the tombstone-masked share of indexed
    * rows passes `maxMaskedRatio` (masked rows still occupy disk and
    * still flow through the serve mask until [[compact]] pays the
    * debt). Metadata-only, like [[info]] — safe to poll from a
    * scheduler.
    */
  def needsCompaction(
      spark: SparkSession, path: String, flavor: String,
      maxSegments: Int = 8, maxMaskedRatio: Double = 0.2): Boolean = {
    require(maxSegments >= 1 && maxMaskedRatio >= 0.0,
      s"needsCompaction: bad thresholds ($maxSegments, $maxMaskedRatio)")
    val r = info(spark, path, flavor).head()
    val indexed = r.getAs[Long]("n_rows_indexed")
    r.getAs[Int]("n_segments") > maxSegments ||
      (indexed > 0L && r.getAs[Long]("n_rows_masked").toDouble / indexed > maxMaskedRatio)
  }

  /** ONE maintenance round as a single entry point — the side tier's
    * twin of [[Retrieval.maintainIndex]] / [[Similarity.maintainPqIndex]],
    * completing the family: apply this round's [[delete]]s (if any),
    * merge this round's [[update]] increment (if any), then poll
    * [[needsCompaction]] with the given policy and [[compact]] if it
    * trips. Returns the path to SERVE from after the round —
    * `outRoot/deleted`, `outRoot/updated` or `outRoot/compacted`,
    * whichever ran last; every intermediate root is itself a valid
    * published index, so a crash mid-round leaves the last generation
    * serving. A no-op round returns `indexPath` unchanged.
    *
    * Cost shape matches the siblings: delete and update stay O(delta);
    * only a tripped policy pays the explicit O(corpus) re-home.
    * `outRoot` must be FRESH each round (enforced by the shared
    * carried-root check) — reusing one would let a later tripped
    * compaction overwrite segments it is reading.
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
      maxMaskedRatio: Double = 0.2): String = {
    require(outRoot != indexPath,
      "SideIndex.maintain: outRoot must differ from indexPath (steps publish under it)")
    IndexManifest.requireDisjointRoot(spark, indexPath, outRoot, s"side($flavor)")
    handleFor(spark, indexPath, flavor)
    var cur = indexPath
    deletes.foreach { d =>
      delete(spark, cur, d, idCol, s"$outRoot/deleted")
      cur = s"$outRoot/deleted"
    }
    increment.foreach { inc =>
      update(spark, cur, inc, idCol, s"$outRoot/updated")
      cur = s"$outRoot/updated"
    }
    if (needsCompaction(spark, cur, flavor, maxSegments, maxMaskedRatio)) {
      compact(spark, cur, s"$outRoot/compacted")
      cur = s"$outRoot/compacted"
    }
    cur
  }

  /** ONE streaming micro-batch's SIDE-TABLE ingest round — the third
    * family on the shared [[IndexManifest.ingestRound]] engine
    * ([[Retrieval.ingestIndexBatch]] /
    * [[Similarity.ingestPqIndexBatch]] siblings): the batch's new
    * side rows land as an O(batch) increment generation behind the
    * serve pointer, with the same idempotent replay, residue cleanup,
    * empty-batch no-op, and optional retention. Null-id rows are
    * dropped before the empty-batch check, mirroring what the write
    * guard would refuse.
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
    IndexManifest.ingestRound(spark, batch.where(col(idCol).isNotNull),
      batchId, pointerPath, ingestRoot, s"side($flavor)",
      (rows, cur, outRoot) => maintain(spark, cur, None, Some(rows),
        idCol, flavor, outRoot, maxSegments, maxMaskedRatio),
      keepGenerations, snapshotPath, nightlyMarkerPath)

  /** [[ingestBatch]]'s UPSERT form — the CDC-shaped side-table stream
    * where a batch row is "the current payload of this id", refreshed
    * or brand new: ids already live in the pointer's generation are
    * tombstoned first and every batch row then lands as the increment,
    * so a refreshed row's old payload stops serving in the SAME
    * generation its new payload starts. Third sibling of
    * [[Retrieval.ingestUpsertBatch]] on the shared engine, with the
    * same refusal contract (IndexManifest.requireUpsertBatch) — minus
    * the null-payload check, which has no single-column meaning on an
    * arbitrary-schema side row (a tier with a canonical payload column
    * should validate it upstream). Additive-only streams should prefer
    * [[ingestBatch]], which skips the live-set semi-join.
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
      nightlyMarkerPath: Option[String] = None): Unit = {
    val n = IndexManifest.requireUpsertBatch(batch, batchId, idCol, None,
      "SideIndex.ingestUpsertBatch")
    IndexManifest.ingestRound(spark, batch,
      batchId, pointerPath, ingestRoot, s"side($flavor)",
      (rows, cur, outRoot) => {
        // persist the replaced-id split so the masked live scan runs
        // ONCE (the emptiness probe and delete's own guard read both
        // hit the cached result)
        val replaced = rows.select(col(idCol))
          .join(read(spark, cur, idCol, flavor).select(col(idCol)),
            Seq(idCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val deletes = if (replaced.count() == 0L) None else Some(replaced)
          maintain(spark, cur, deletes, Some(rows), idCol, flavor, outRoot,
            maxSegments, maxMaskedRatio)
        } finally replaced.unpersist()
      },
      keepGenerations, snapshotPath, nightlyMarkerPath, Some(n))
  }

  /** The operational metadata row (n_segments, n_tombstone_gens,
    * n_rows_indexed, n_rows_masked, n_rows_live) — footer-sized reads
    * only, poll-safe, mirroring the other tiers' info surfaces.
    */
  def info(spark: SparkSession, path: String, flavor: String): DataFrame = {
    val h = handleFor(spark, path, flavor)
    val Seq(nIndexed) = IndexManifest.sumOneRowTables(
      spark, h.segments.map(s => s"$s/stats"), Seq("n_rows"))
    val Seq(nMasked) = IndexManifest.sumOneRowTables(
      spark, h.tombstones.map(t => s"$t/tsstats"), Seq("n_rows"))
    IndexManifest.infoRow(spark,
      "n_segments" -> h.segments.size, "n_tombstone_gens" -> h.tombstones.size,
      "n_rows_indexed" -> nIndexed, "n_rows_masked" -> nMasked,
      "n_rows_live" -> (nIndexed - nMasked))
  }
}
