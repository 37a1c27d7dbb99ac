package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries from SparkEntry at
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  *
  * Methodology: one warmup execution per query (absorbs Janino codegen
  * compilation + JIT for that query's generated functions), then
  * GRAFT_BENCH_RUNS timed executions (default 3) reporting the MEDIAN.
  * Sub-second local-mode jobs are dominated by scheduling/GC jitter when
  * timed once — r3/r4 recorded a 2x swing on identical plans from
  * single-shot timing alone. Median-of-3 reports the steady-state cost
  * the plan actually has.
  *
  * Regression guard: set GRAFT_BENCH_BASELINE=/path/to/BENCH_rNN.json to
  * compare per-query times against a previous round; any query slower
  * than GRAFT_BENCH_GUARD_RATIO (default 2.0) times its baseline fails
  * the run (exit 3) after printing the JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val runs = sys.env.getOrElse("GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // GRAFT_BENCH_ONLY=name1,name2 restricts the run to a subset — for
    // iterating on one query's plan without paying the full sweep.
    // Unknown names fail loudly: a typo silently matching nothing would
    // emit an empty sweep that a baseline comparison misreads.
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.benchQueries.toSet
      require(unknown.isEmpty,
        s"GRAFT_BENCH_ONLY names not in benchQueries: ${unknown.mkString(", ")}")
    }
    val benchSet = SparkEntry.benchQueries.filter(q => only.forall(_.contains(q)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // keep sub-4MB files (documents/embeddings) parallel for the
      // CPU-dense hash projections — see Sessions.scala
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the sweep runs the CC loop queries 4x each (warmup + 3 timed):
      // without this, their per-iteration reliable checkpoints pile up
      // on disk for the whole JVM lifetime (Sessions.get sets it too)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // The sweep's ~300 distinct codegen units against the default
      // 100-entry Janino LRU is the sequential-scan zero-hit pathology:
      // the warmup pass evicts the very classes it compiled before the
      // timed pass reuses them, so EVERY timed run re-pays Janino
      // compilation (~0.2-1.3 s per query — measured q1_agg 1.62 s ->
      // 0.27 s and the whole sweep 338 s -> 139 s from this setting).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: JIT + codegen + parquet footer reads
    spark.read.parquet(s"$sfDir/lineitem.parquet").count(): Unit

    // Unbilled warmup SWEEP over every query first: absorbs Janino codegen
    // compilation and C2 JIT of Spark's scheduler/scan/shuffle core, which
    // otherwise bleeds ~0.5-1 s into whichever queries happen to run early
    // (r3-r5 recordings show the first ~5 positions slow regardless of
    // which query occupies them). The timed pass below then measures every
    // plan on an equally hot JVM.
    benchSet.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count() catch { case _: Throwable => () }
      spark.sharedState.cacheManager.clearCache()
    }

    // BOX-SPEED CANARY: a fixed, input-independent pure-CPU Spark job
    // (hash-mix sum over a seeded range) timed at sweep start AND end
    // and written into the artifact. Three consecutive rounds burned
    // adjudication effort proving apparent per-query drift was shared-
    // box load, not plan change; with the canary in every artifact,
    // drift adjudication is arithmetic — if the canary moved with the
    // queries, it is the box. Warm once (codegen), then time; ~1-2 s
    // per measurement, outside every per-query timing window.
    def canarySec(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000000L, 1L, numPartitions = cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect(): Unit // xor: no ANSI overflow
      (System.nanoTime() - t0) / 1e9
    }
    canarySec() // warm the canary's codegen so both timings measure the box
    val canaryStart = canarySec()

    val results = benchSet.map { name =>
      val fn = SparkEntry.queries(name)
      // Iterative (CC/PageRank loop) and sub-second serve queries are the
      // sweep's most environment-sensitive timings — r12 and r13 both
      // produced apparent ~2x "regressions" there that were pure box
      // noise. Median-of-5 (at least) for those, median-of-7 for the
      // queries whose spread exceeded ~1.5x even then; default elsewhere.
      val effRuns =
        if (SparkEntry.highSpreadBenchQueries(name)) runs.max(7)
        else if (SparkEntry.jitterProneBenchQueries(name)) runs.max(5)
        else runs
      // Collect garbage outside the timed window so a prior query's heap
      // isn't billed to this one.
      System.gc()
      var n = -1L
      // A failed run contributes no time: its (near-zero) exception-path
      // wall time would otherwise drag the median down and mask the
      // failure. All runs failed -> report -1 s, which any baseline
      // comparison and the JSON consumer can see.
      val times = (1 to effRuns).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { n = fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }.sorted
      // Outlier-cut median: one 23.5 s GC/IO stall among seven runs
      // dragged r17's graph_pagerank_weighted median (spread
      // [1.80, 23.57]) even though its MINIMUM equaled the prior
      // round's median. Runs slower than 3x the observed minimum are
      // environment interference, not plan cost — a real regression
      // moves every run, the minimum included, so the cut cannot hide
      // one — and the reported [min,max] spread still shows the
      // outliers it excluded from the median.
      val cut = times.filter(_ <= times.headOption.getOrElse(0.0) * 3)
      val sec = if (cut.isEmpty) -1.0 else cut(cut.length / 2)
      val (lo, hi) = if (times.isEmpty) (-1.0, -1.0) else (times.head, times.last)
      // Drop any cache a query persisted (e.g. LSH bands) so queries
      // don't accumulate executor memory pressure across the sweep.
      spark.sharedState.cacheManager.clearCache()
      System.err.println(
        f"[bench] $name%-24s $sec%8.3f s  ($n rows, median of $effRuns, spread [$lo%.3f, $hi%.3f])")
      (name, sec, lo, hi)
    }
    val canaryEnd = canarySec()
    System.err.println(
      f"[bench] canary (fixed CPU job): start $canaryStart%.3f s, end $canaryEnd%.3f s")
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The FULL artifact — per-query medians AND [min,max] spreads, one
    // query per line — persists to a file: the driver's stdout capture
    // tail-truncates a single giant line (every round before r17 lost
    // ~40% of the per-query numbers and parsed as null), and the repo
    // controls its own output. A spread containing the baseline is
    // jitter, not plan drift — the guard a noisy shared box needs.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_OUT", "target/bench.json"))
    if (outPath.getParent != null) java.nio.file.Files.createDirectories(outPath.getParent): Unit
    val fullLines = results.map { case (k, v, lo, hi) =>
      f"""    "$k%s": {"sec": $v%.3f, "spread": [$lo%.3f, $hi%.3f]}""" }
    java.nio.file.Files.writeString(outPath,
      f"""{
  "metric": "total", "value": $total%.3f, "unit": "sec", "sf": "$sfDir",
  "canary_start_sec": $canaryStart%.3f, "canary_end_sec": $canaryEnd%.3f,
  "queries": {
${fullLines.mkString(",\n")}
  }
}
"""): Unit
    // stdout keeps the driver's one-line contract, but spreads now live
    // only in the file — halving the line so a tail capture holds it
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","bench_json":"${outPath.toAbsolutePath}","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()

    sys.env.get("GRAFT_BENCH_BASELINE").foreach { path =>
      val ratio = sys.env.getOrElse("GRAFT_BENCH_GUARD_RATIO", "2.0").toDouble
      val base = parseBaseline(path)
      val regressed = results.collect {
        case (name, sec, _, _) if base.get(name).exists(b => b > 0 && sec > b * ratio) =>
          f"$name: $sec%.3f s vs baseline ${base(name)}%.3f s (>${ratio}%.1fx)"
      }
      if (regressed.nonEmpty) {
        regressed.foreach(r => System.err.println(s"[bench-guard] REGRESSION $r"))
        sys.exit(3)
      } else System.err.println(s"[bench-guard] ok: no query regressed >${ratio}x vs $path")
    }
  }

  /** Minimal extractor for the per-query map of a previous round's bench
    * JSON ({"queries":{"name":sec,...}}) — no JSON library on the
    * classpath, and the format is machine-written, so a regex suffices.
    */
  private[graft] def parseBaseline(path: String): Map[String, Double] = {
    val text = scala.io.Source.fromFile(path)
    // the driver's recording embeds the bench line as a JSON STRING
    // ("tail": "...\"q1_agg\":0.472,...") — unescape so the per-query
    // extractor sees real quotes; a plain file is unaffected
    val raw = (try text.mkString finally text.close()).replace("\\\"", "\"")
    val inQueries = raw.indexOf("\"queries\"") match {
      case -1 => raw
      case i  => raw.substring(i)
    }
    // the persisted target/bench.json nests per-query objects
    // ("name": {"sec": N, ...}); a driver-captured one-liner maps
    // names straight to numbers — accept either
    val nested = """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"sec"\s*:\s*([0-9]+\.[0-9]+)""".r
    val nestedHits = nested.findAllMatchIn(inQueries)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    if (nestedHits.nonEmpty) nestedHits
    else {
      val flat = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+\.[0-9]+)""".r
      flat.findAllMatchIn(inQueries).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }
}
