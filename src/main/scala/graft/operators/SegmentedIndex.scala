package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The ONE segmented-index lifecycle every index family runs — BM25
  * postings ([[Retrieval]]), IVF-PQ vectors ([[Similarity]]) and side
  * tables ([[SideIndex]]): build, update, delete, compact, info, the
  * compaction policy, the maintenance round and the two streaming
  * ingest rounds, each implemented once over the [[IndexManifest]]
  * protocol. A family contributes only what really differs, through
  * its [[Family]] descriptor: how a batch becomes one segment's tables,
  * how the live tables are re-homed on compaction, the live-id and
  * increment-id relations the write guards join, the mass a delete
  * records, and its info columns.
  *
  * Cost shape, for every family: update writes O(increment) bytes as a
  * new segment and carries the base segments and tombstones by
  * reference; delete writes O(delta) bytes as a new tombstone
  * generation whose `up_to` horizon keeps delete/re-add/delete chains
  * sequenced ([[IndexManifest.tombstoneRel]]); compaction is the
  * explicit O(corpus) re-home that pays the segment and tombstone debt.
  * Every step writes its data first and its manifest LAST, so a crash
  * leaves an index that refuses to serve, never a mixed one.
  *
  * Who writes what: Spark jobs write the data tables (postings,
  * termdf, doclen, vectors, rows, tombstone ids); the driver writes
  * the one-row tables — the manifest, each segment's `stats` and each
  * tombstone generation's `tsstats` ([[IndexManifest.writeOneRow]]) —
  * from numbers the data work already produced: a footer row count, a
  * metric observed inside a data write, or the aggregate a guard
  * already runs. Publishing a generation launches no job of its own.
  */
private[operators] object SegmentedIndex {

  /** Format version 3 = segmented layout: the manifest lists the
    * segments and tombstones, every table sits under `segments/<name>/`,
    * and each segment / tombstone generation carries a one-row `stats` /
    * `tsstats` table. Serve and maintenance paths of every family
    * require it, so an index published by an older build answers
    * "rebuild" instead of a missing-parquet crash.
    */
  val FormatVersion = 3

  /** What differs between index families. An instance binds the
    * caller's columns for one call; members a call does not use keep
    * their defaults (compaction and info need no caller column).
    */
  abstract class Family {
    /** Names the family in errors and handle loads ("BM25", "IVF-PQ",
      * "side(<flavor>)").
      */
    def what: String

    /** The manifest flavor this call requires: checked on every open,
      * and recorded by [[build]]. None accepts whatever the index holds.
      */
    def flavor: Option[String] = None

    /** The id column of the caller's relations (increments, deletes,
      * upsert batches).
      */
    def idCol: String

    /** The id column the index stores — tombstone ids and [[liveIds]]. */
    def indexIdCol: String = idCol

    /** The one payload column an upsert row must not leave null, when
      * the family has one; the additive ingest drops such rows.
      */
    def payloadCol: Option[String] = None

    /** Info column stem: `n_<stem>_indexed`, `_masked`, `_live`. */
    def stem: String

    /** The `stats` / `tsstats` columns info sums; the first is the row
      * count, each further one reports as `<col>_live`.
      */
    def statCols: Seq[String] = Seq(s"n_$stem")

    /** Whether info reports the manifest flavor. */
    def infoFlavor: Boolean = false

    /** Write `batch` as one segment's tables under `segPath`. */
    def writeSegment(batch: DataFrame, segPath: String): Unit

    /** Write the live rows of `h` as one segment's tables under `segPath`. */
    def rehome(spark: SparkSession, h: IndexManifest.Handle, segPath: String): Unit

    /** The live ids of `h`, one column named [[indexIdCol]]. */
    def liveIds(spark: SparkSession, h: IndexManifest.Handle): DataFrame

    /** The increment's ids, one column named [[indexIdCol]], carrying
      * the family's join hint for the re-submission guard.
      */
    def incrementIds(increment: DataFrame): DataFrame

    /** The live rows of `h` a delete's mass sums over: [[indexIdCol]]
      * plus whatever columns [[tombstoneMass]] reads. By default the
      * live ids alone — the mass is a row count.
      */
    def liveMass(spark: SparkSession, h: IndexManifest.Handle): DataFrame = liveIds(spark, h)

    /** The `tsstats` row of a delete, one aggregate per [[statCols]]
      * entry over the deleted ids' [[liveMass]] rows. No step runs it
      * as a query of its own: the delete guard's aggregate and the
      * upsert round's replaced-id aggregate each carry it beside what
      * they already compute, and the driver writes the row they return
      * ([[IndexManifest.writeOneRow]]). Exactly once by construction —
      * it is a driver-side value, computed by one action and written
      * by one rename. Earlier tombstones already masked their rows in
      * [[liveMass]], so the generations' masses add without overlap
      * across delete / re-add / delete chains.
      */
    def tombstoneMass: Seq[Column] = Seq(count(lit(1)).as(statCols.head))

    /** Refuses a batch whose shape the family cannot index, from driver
      * metadata only — on build (`base` None) and update (`base` the
      * index at `path`).
      */
    def checkSchema(batch: DataFrame, path: String, base: Option[IndexManifest.Handle]): Unit = ()

    /** [[checkSchema]] plus whatever check the family runs over the
      * batch's rows.
      */
    def checkBatch(batch: DataFrame, path: String, base: Option[IndexManifest.Handle]): Unit =
      checkSchema(batch, path, base)
  }

  /** The loaded handle of the index at `path`: present, at
    * [[FormatVersion]], and of the family's flavor when it names one.
    */
  def open(spark: SparkSession, f: Family, path: String): IndexManifest.Handle = {
    val h = IndexManifest.handle(spark, path, f.what)
    IndexManifest.requireVersion(h, path, f.what, FormatVersion)
    f.flavor.foreach(fl => require(h.flavor == fl,
      s"${f.what} index at $path has flavor '${h.flavor}', not the expected '$fl' — the " +
        "flavor is part of the index identity, and mixing flavors serves silently wrong " +
        "results; pass the matching flavor or rebuild"))
    h
  }

  /** The one-row `stats` beside `segPath/table`: its row count as
    * `statCol`. The driver sums it from the just-written files' footers
    * and writes it ([[IndexManifest.writeOneRow]]) — no job reads the
    * table back and none writes the row. Exactly once because the
    * footers are the committed table's: a retried or speculative task
    * leaves no data file behind the commit.
    */
  def writeCountStats(spark: SparkSession, segPath: String, table: String, statCol: String): Unit =
    IndexManifest.writeOneRow(spark, s"$segPath/stats",
      statCol -> IndexManifest.footerRowCount(spark, s"$segPath/$table"))

  /** `f`'s [[Family.tombstoneMass]] over `rows`, with `lead` aggregates
    * run first in the same job; returns the lead values, then the mass.
    */
  private def massAgg(f: Family, rows: DataFrame, lead: Column*): (Seq[Long], Seq[Long]) = {
    val aggs = lead ++ f.tombstoneMass
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    val all = aggs.indices.map(r.getLong)
    (all.take(lead.size), all.drop(lead.size))
  }

  /** Clear `outPath`'s manifest, write the data, then the manifest;
    * returns the published generation.
    */
  private def publish(
      spark: SparkSession, outPath: String, flavor: String,
      segments: Seq[String], tombstones: Seq[String])(writeData: => Unit): IndexManifest.Handle = {
    IndexManifest.clear(spark, outPath)
    writeData
    IndexManifest.write(spark, outPath, version = FormatVersion, flavor = flavor,
      segments = segments, tombstones = tombstones)
  }

  private def fresh(f: Family, op: String, path: String, outPath: String): Unit =
    require(outPath != path,
      s"${f.what} $op: outPath must differ from the index path (the base keeps serving " +
        "while the new generation is written)")

  /** Publish `batch` as a fresh one-segment index at `path`. */
  def build(f: Family, batch: DataFrame, path: String): Unit = {
    f.checkBatch(batch, path, None)
    val seg = "segments/seg-00000"
    publish(batch.sparkSession, path, f.flavor.getOrElse(""), Seq(seg), Nil) {
      f.writeSegment(batch, s"$path/$seg")
    }: Unit
  }

  /** Merge an increment of NEW ids, publishing at `outPath`: the base
    * segments and tombstones carry by reference, the increment lands
    * as one new segment. An id already live refuses — delete it first,
    * then update (the per-row update path every family shares).
    */
  def update(spark: SparkSession, f: Family, path: String, increment: DataFrame,
      outPath: String): Unit = {
    fresh(f, "update", path, outPath)
    val h = open(spark, f, path)
    f.checkBatch(increment, path, Some(h))
    val resubmitted = f.liveIds(spark, h)
      .join(f.incrementIds(increment), Seq(f.indexIdCol), "left_semi")
      .count()
    require(resubmitted == 0L,
      s"${f.what} update: $resubmitted increment ids already live at $path — increments " +
        "must contain NEW ids only (to change an indexed row, delete it first, then update)")
    appendSegment(spark, f, h, increment, outPath): Unit
  }

  /** The update step, unguarded: `h`'s segments and tombstones carried
    * by reference plus `increment` as one new segment, published at
    * `outPath`.
    */
  private def appendSegment(spark: SparkSession, f: Family, h: IndexManifest.Handle,
      increment: DataFrame, outPath: String): IndexManifest.Handle = {
    val seg = s"segments/${IndexManifest.nextSegmentName(h.segments)}"
    publish(spark, outPath, h.flavor, IndexManifest.qualify(spark, h.segments) :+ seg,
      IndexManifest.qualify(spark, h.tombstones)) {
      f.writeSegment(increment, s"$outPath/$seg")
    }
  }

  /** Tombstone `deletes`' ids, publishing at `outPath`: no segment is
    * rewritten; the new tombstone generation records `up_to` = the
    * segment count now, so it masks only the segments that exist, plus
    * the `tsstats` mass it removes. Every id must be currently live,
    * which also keeps the generations' masses from overlapping. A null
    * id refuses: dropping it silently would hide an upstream bug behind
    * an apparently successful erasure.
    */
  def delete(spark: SparkSession, f: Family, path: String, deletes: DataFrame,
      outPath: String): Unit = {
    fresh(f, "delete", path, outPath)
    val h = open(spark, f, path)
    val id = f.indexIdCol
    heldIds(f, deletes) { ids =>
      // one job for both refusals and the mass: a null id never matches
      // a live id, so it lands among the unmatched beside the not-live
      // ones; with none unmatched, every row is a deleted live row
      val unmatched = col("__live").isNull
      val (notLive, mass) = massAgg(f,
        ids.join(f.liveMass(spark, h).withColumn("__live", lit(true)), Seq(id), "left_outer"),
        count(when(unmatched, 1)), count(when(unmatched, col(id))))
      require(notLive(0) == notLive(1),
        s"${f.what} delete: a delete names a null '${f.idCol}' — every delete must name a " +
          "currently-indexed row; fix the input")
      require(notLive(1) == 0L,
        s"${f.what} delete: ${notLive(1)} ids are not live at $path — every delete " +
          "must name a currently-indexed, not-already-deleted row")
      appendTombstone(spark, f, h, ids, mass, outPath): Unit
    }
  }

  /** `rows`' distinct ids, named [[Family.indexIdCol]] and held in
    * memory while `use` runs — the guarded delete reads them twice:
    * once in its guard, once into [[appendTombstone]].
    */
  private def heldIds[T](f: Family, rows: DataFrame)(use: DataFrame => T): T = {
    val ids = rows.select(col(f.idCol).as(f.indexIdCol)).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try use(ids) finally ids.unpersist(): Unit
  }

  /** The delete step, unguarded: the distinct live `ids` (one column
    * named [[Family.indexIdCol]]) as a new tombstone generation over
    * `h` whose `tsstats` row is `mass`, published at `outPath`.
    */
  private def appendTombstone(spark: SparkSession, f: Family, h: IndexManifest.Handle,
      ids: DataFrame, mass: Seq[Long], outPath: String): IndexManifest.Handle = {
    val ts = s"tombstones/${IndexManifest.nextTombstoneName(h.tombstones)}"
    publish(spark, outPath, h.flavor, IndexManifest.qualify(spark, h.segments),
      IndexManifest.qualify(spark, h.tombstones) :+ ts) {
      ids.withColumn("up_to", lit(h.segments.size))
        .write.mode("overwrite").parquet(s"$outPath/$ts/ids")
      IndexManifest.writeOneRow(spark, s"$outPath/$ts/tsstats", f.statCols.zip(mass): _*)
    }
  }

  /** Re-home the live rows into ONE fresh segment at `outPath` — the
    * explicit O(corpus) compaction: tombstones apply physically and the
    * published manifest carries none.
    */
  def compact(spark: SparkSession, f: Family, path: String, outPath: String): Unit = {
    fresh(f, "compact", path, outPath)
    val h = open(spark, f, path)
    val seg = "segments/seg-00000"
    publish(spark, outPath, h.flavor, Seq(seg), Nil)(f.rehome(spark, h, s"$outPath/$seg")): Unit
  }

  /** The `statCols` sums of `h`: indexed (over the segments' `stats`)
    * and masked (over the tombstones' `tsstats`), read on the driver.
    */
  private[operators] def masses(
      spark: SparkSession, f: Family, h: IndexManifest.Handle): (Seq[Long], Seq[Long]) =
    (IndexManifest.sumOneRowTables(spark, h.segments.map(s => s"$s/stats"), f.statCols),
      IndexManifest.sumOneRowTables(spark, h.tombstones.map(t => s"$t/tsstats"), f.statCols))

  /** The one-row operational summary: (n_segments, n_tombstone_gens,
    * [flavor,] n_<stem>_indexed, n_<stem>_masked, n_<stem>_live
    * [, <further stat>_live]). Sums of the per-segment `stats` and
    * per-tombstone `tsstats` tables read on the driver — never a data
    * scan, so a scheduler can poll it. An empty stats table sums to 0.
    */
  def info(spark: SparkSession, f: Family, path: String): DataFrame = {
    val h = open(spark, f, path)
    val (indexed, masked) = masses(spark, f, h)
    val n = s"n_${f.stem}"
    IndexManifest.infoRow(spark,
      Seq("n_segments" -> h.segments.size, "n_tombstone_gens" -> h.tombstones.size) ++
        (if (f.infoFlavor) Seq("flavor" -> h.flavor) else Nil) ++
        Seq(s"${n}_indexed" -> indexed.head, s"${n}_masked" -> masked.head,
          s"${n}_live" -> (indexed.head - masked.head)) ++
        f.statCols.zip(indexed.zip(masked)).tail
          .map { case (c, (i, m)) => s"${c}_live" -> (i - m) }: _*)
  }

  /** The compaction policy: true when the segment list has grown past
    * `maxSegments` (every live read unions one more scan per segment)
    * or the tombstone-masked share of indexed rows passes
    * `maxMaskedRatio` (masked rows still occupy disk and flow through
    * the serve mask until compaction). Metadata-only, like [[info]],
    * and compared on the driver: no query is planned.
    */
  def needsCompaction(spark: SparkSession, f: Family, path: String,
      maxSegments: Int, maxMaskedRatio: Double): Boolean =
    due(spark, f, open(spark, f, path), maxSegments, maxMaskedRatio)

  private def due(spark: SparkSession, f: Family, h: IndexManifest.Handle,
      maxSegments: Int, maxMaskedRatio: Double): Boolean = {
    require(maxSegments >= 1 && maxMaskedRatio >= 0.0,
      s"needsCompaction: bad thresholds ($maxSegments, $maxMaskedRatio)")
    val (indexed, masked) = masses(spark, f, h)
    h.segments.size > maxSegments ||
      (indexed.head > 0L && masked.head.toDouble / indexed.head > maxMaskedRatio)
  }

  /** [[compact]] `cur` (whose generation is `h`) into `outRoot/compacted`
    * when the policy trips; returns the root to serve.
    */
  private def compactIfDue(spark: SparkSession, f: Family, cur: String, h: IndexManifest.Handle,
      outRoot: String, maxSegments: Int, maxMaskedRatio: Double): String =
    if (!due(spark, f, h, maxSegments, maxMaskedRatio)) cur
    else {
      compact(spark, f, cur, s"$outRoot/compacted")
      s"$outRoot/compacted"
    }

  /** ONE maintenance round: this round's deletes (if any), then its
    * increment (if any), then [[compact]] if the policy trips. Returns
    * the root to SERVE — `outRoot/deleted`, `outRoot/updated` or
    * `outRoot/compacted`, whichever ran last, or `indexPath` for a
    * no-op round. Every intermediate root is a published index, so a
    * crash mid-round leaves the last generation serving. `outRoot` must
    * be FRESH each round: a reused one would let a later tripped
    * compaction overwrite segments it is reading.
    */
  def maintain(spark: SparkSession, f: Family, indexPath: String,
      deletes: Option[DataFrame], increment: Option[DataFrame], outRoot: String,
      maxSegments: Int, maxMaskedRatio: Double): String = {
    IndexManifest.requireDisjointRoot(spark, indexPath, outRoot, f.what)
    var cur = indexPath
    deletes.foreach { d =>
      delete(spark, f, cur, d, s"$outRoot/deleted")
      cur = s"$outRoot/deleted"
    }
    increment.foreach { inc =>
      update(spark, f, cur, inc, s"$outRoot/updated")
      cur = s"$outRoot/updated"
    }
    compactIfDue(spark, f, cur, open(spark, f, cur), outRoot, maxSegments, maxMaskedRatio)
  }

  /** ONE streaming micro-batch's additive ingest round on the
    * [[IndexManifest.ingestRound]] engine: the batch's new rows land as
    * an O(batch) increment behind the serve pointer, with its
    * idempotent replay, residue cleanup, empty-batch no-op and optional
    * retention. Rows with a null id (or null payload) are dropped
    * first — "nothing to index", as the write guards would refuse them.
    */
  def ingest(spark: SparkSession, f: Family, batch: DataFrame, batchId: Long,
      pointerPath: String, ingestRoot: String, maxSegments: Int, maxMaskedRatio: Double,
      keepGenerations: Option[Int], snapshotPath: Option[String],
      nightlyMarkerPath: Option[String]): Unit = {
    val rows = batch.where(
      f.payloadCol.foldLeft(col(f.idCol).isNotNull)((c, p) => c && col(p).isNotNull))
    IndexManifest.ingestRound(spark, rows, batchId, pointerPath, ingestRoot, f.what,
      (inc, cur, outRoot) => maintain(spark, f, cur, None, Some(inc), outRoot,
        maxSegments, maxMaskedRatio),
      keepGenerations, snapshotPath, nightlyMarkerPath)
  }

  /** [[ingest]]'s UPSERT form — the CDC-shaped stream where a batch row
    * is "the current version of this id": ids already live in the
    * pointer's generation are tombstoned first and every batch row then
    * lands as the increment, so a replaced row's old version stops
    * serving in the SAME generation its new one starts. Additive-only
    * streams should prefer [[ingest]], which skips the live-set
    * semi-join.
    *
    * The round is [[maintain]]'s delete, update and compaction over
    * ONE opened generation `h`, and it runs the delete and update STEPS
    * without their guards, because every fact those guards re-prove is
    * already established once:
    *  - batch ids are non-null and distinct (and payloads non-null):
    *    [[IndexManifest.requireUpsertBatch]], before any state changes;
    *  - the replaced ids are live in `h`: they are the batch's join
    *    against `h`'s live rows ([[Family.liveMass]]), persisted and
    *    aggregated once — the count answers the emptiness probe and
    *    the same aggregate is the new tombstone's `tsstats` mass;
    *  - no batch id is live after the delete: the new tombstone
    *    generation's `up_to` is `h`'s segment count, so it masks every
    *    replaced id in every segment of `h`.
    * What still runs: the flavor check in [[open]] and the family's
    * [[Family.checkSchema]] (driver metadata), both before any write.
    */
  def ingestUpsert(spark: SparkSession, f: Family, batch: DataFrame, batchId: Long,
      pointerPath: String, ingestRoot: String, maxSegments: Int, maxMaskedRatio: Double,
      keepGenerations: Option[Int], snapshotPath: Option[String],
      nightlyMarkerPath: Option[String]): Unit = {
    val n = IndexManifest.requireUpsertBatch(batch, batchId, f.idCol, f.payloadCol,
      s"${f.what} upsert")
    IndexManifest.ingestRound(spark, batch, batchId, pointerPath, ingestRoot, f.what,
      (rows, cur, outRoot) => {
        IndexManifest.requireDisjointRoot(spark, cur, outRoot, f.what)
        val h = open(spark, f, cur)
        f.checkSchema(rows, cur, Some(h))
        // persist the replaced-id split so the live scan runs ONCE: its
        // one aggregate (the emptiness probe and the tombstone mass) and
        // the delete step's id write hit the cache. An inner join, not
        // a semi-join, so the live rows' mass columns ride along; an id
        // is live at most once and batch ids are distinct, so it keeps
        // one row per replaced id and its ids are the tombstone as is,
        // written as one file: they are delta-sized, and the cached
        // split's partitioning is whatever the batch arrived in
        val replaced = rows.select(col(f.idCol))
          .join(f.liveMass(spark, h).withColumnRenamed(f.indexIdCol, f.idCol), Seq(f.idCol))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val mass = massAgg(f, replaced)._2
          val base =
            if (mass.head == 0L) h
            else appendTombstone(spark, f, h,
              replaced.select(col(f.idCol).as(f.indexIdCol)).coalesce(1), mass,
              s"$outRoot/deleted")
          val updated = appendSegment(spark, f, base, rows, s"$outRoot/updated")
          compactIfDue(spark, f, s"$outRoot/updated", updated, outRoot, maxSegments,
            maxMaskedRatio)
        } finally replaced.unpersist()
      },
      keepGenerations, snapshotPath, nightlyMarkerPath, Some(n))
  }
}
