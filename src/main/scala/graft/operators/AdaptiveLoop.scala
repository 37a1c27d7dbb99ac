package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-adaptive sizing for loop-cached relations (guide §2): the
  * iterative operators (PageRank, the CC label loop) join EVERY round
  * against one cached relation, so that relation's partition count sets
  * every round's task count — and the rank/label exchanges must MATCH
  * it or each round re-shuffles one side. A session-wide width
  * (`spark.sql.shuffle.partitions`, set to the core count by
  * Bench/Verify) is tuned for one-shot corpus scans, not for a loop
  * relation that is usually orders of magnitude smaller than the
  * corpus: at sf0.1 on local[32] every round scheduled 32 near-empty
  * tasks per stage — the measured result was the pagerank loop running
  * SLOWER at 32 cores than at 8 (PERF_r21 scaling ratio 0.62, pure
  * scheduling floor) — while a 10^10-edge graph needs MORE partitions
  * than a session default, not fewer.
  *
  * The width derives from the relation's MATERIALIZED cache size —
  * exact bytes from the cache build, never a plan estimate — at
  * [[TargetBytes]] per partition.
  */
private[graft] object AdaptiveLoop {

  /** 32 MB: small enough that a loop over a few hundred MB still
    * spreads across a local box, within guide §2.2's 100 MB–1 GB window
    * once the relation is cluster-sized.
    */
  private val TargetBytes = 32L * 1024 * 1024

  /** Partition count for a cached-and-counted loop relation: actual
    * cached bytes / target, at least 2, never more than the row count
    * (a partition per row is already degenerate — this also bounds the
    * width if the size ever falls back to a plan ESTIMATE on an
    * unmaterialized cache). The floor is 2, not 1: Catalyst rewrites
    * `repartition(1, key)` to SinglePartition, which the join planner
    * does not recognize as co-partitioned with the rank/label side's
    * `hashpartitioning(key, 1)` — the measured result was a per-round
    * re-shuffle of the cached relation that a 2-partition layout
    * avoids. Call only after an action materialized the cache, so
    * `optimizedPlan` resolves to the InMemoryRelation and its stats
    * carry the exact built size.
    */
  def partitionsFor(cached: DataFrame, rows: Long): Int =
    partitionsForBytes(cached.sparkSession, cachedBytes(cached), rows)

  /** The exact built size of a MATERIALIZED cache — resolve after an
    * action, so `optimizedPlan` substitutes the InMemoryRelation whose
    * stats carry the accumulator-tracked bytes, never a plan estimate.
    */
  def cachedBytes(cached: DataFrame): BigInt =
    cached.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Two regimes, both data-derived: when the relation is big,
    * bytes/target partitions (shuffle efficiency, guide §2.2); when it
    * is small, a PARALLELISM floor of min(cluster cores, one partition
    * per target/8 bytes) — a loop round is compute-bound the moment
    * each core has a few MB of join work, and the sf1 A/B measured the
    * pure bytes policy serializing a 32-core box onto 2 partitions
    * (weighted rounds got ~15% slower). The floor never exceeds the
    * core count, so the tiny-relation case keeps its 2-partition
    * layout instead of 32 near-empty tasks per round.
    */
  def partitionsForBytes(spark: SparkSession, bytes: BigInt, rows: Long): Int = {
    val byBytes = (bytes / BigInt(TargetBytes)).toLong + 1L
    val cores = spark.sparkContext.defaultParallelism.toLong
    val parallelFloor =
      math.min(cores, (bytes / BigInt(TargetBytes / 8)).toLong + 1L)
    math.max(2L, math.min(math.max(byBytes, parallelFloor), math.max(2L, rows)))
      .min(Int.MaxValue.toLong).toInt
  }

  /** Run `body` — which must CONTAIN every action of the loop it sizes
    * (the iterative operators execute eagerly: counts, per-round
    * checkpoints, the final checkpoint) — with the session's shuffle
    * width scoped to the loop width and ADAPTIVE EXECUTION OFF,
    * restoring both on every exit path. Planning reads the conf at
    * action time, so every in-loop exchange (the per-round aggregation,
    * the frontier re-shuffle) lands on exactly the width the loop cache
    * is laid out in: co-partitioned joins stay zero-exchange instead of
    * re-shuffling against the session width. AQE is off INSIDE the
    * scope because a sized loop leaves it nothing to adapt — the joins
    * are zero-exchange cache zips AQE cannot touch (skew-split applies
    * only to real shuffle reads), the one exchange per round is already
    * data-sized, and partial aggregation pre-shrinks it — while its
    * per-stage re-planning costs a driver pause per round per stage.
    * Scoped, not leaked: concurrent queries on the same session during
    * the loop's bounded execution window would see the narrowed
    * settings — the operators here run their loops to completion inside
    * the scope.
    */
  def scoped[T](spark: SparkSession, n: Int)(body: => T): T = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
