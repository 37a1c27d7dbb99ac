package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every entry point (tests, Verify,
  * Bench) shares. Tuned for local[N] smoke runs but with the knobs that
  * matter at cluster scale (AQE, broadcast threshold, shuffle
  * partitions) set explicitly so the same code ships to a 1000-executor
  * cluster unchanged.
  */
object Sessions {

  /** Build (or get) a SparkSession.
    *
    * @param cores parallelism for local mode; shuffle partitions match
    *              it (the reference sizes partitions to `2 x num_cpus`,
    *              /root/reference/src/runner.rs:91 — on a real cluster
    *              AQE coalescing makes the static number soft anyway).
    */
  def get(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Split-size floor: the 4 MB default collapses a sub-4 MB file to a
      // single input split, serializing CPU-dense projections (minhash,
      // simhash, hyperplane buckets) onto one core. 64 KB keeps small
      // row-heavy files parallel; at cluster scale big files are governed
      // by maxPartitionBytes, so this only affects the small-file edge.
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // reliable checkpoints (duplicateClusters writes one per CC
      // iteration) are reclaimed when their RDD is GC'd, instead of
      // accumulating for the session's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // testdata events.parquet has shipped both TIMESTAMP(NANOS) and
      // timestamp[us]; keep the nanos fallback readable (harmless on µs
      // files) — SparkEntry's events loader dispatches on the read type
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Janino generated-class cache (static conf, default 100 entries,
      // LRU): a session running many distinct plans — a bench sweep, a
      // notebook, an iterative loop — holds well over 100 live codegen
      // units, and a sequential pass over >100 units against a 100-entry
      // LRU is the zero-hit-rate scan pathology: EVERY query pays Janino
      // recompilation every time. Measured on the 33-query bench sweep:
      // 2.4x total wall-time (338 s -> 139 s) from this one setting.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // local files through a filesystem that sets permissions and
      // reads link status via java.nio instead of forking chmod /
      // readlink per call (see LocalFiles.scala); checksums stay
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall-clock a block in seconds — the shared smoke-run timer. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
