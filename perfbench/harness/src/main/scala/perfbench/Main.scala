package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the generated inputs in
  * `--data` and writes `result.json` (plus the spans of a traced run and
  * the batch outputs for the oracle check) under `--out`.
  *
  *   perfbench.Main --workload <name> --data <dir> --out <dir>
  *                  --seconds <s> --trace <0|1> --nproc <n>
  *
  * Set-up (session, inputs, warm passes) is timed from JVM start. Then
  * untraced passes run until `--seconds` have passed, within the
  * workload's minimum and maximum number of passes. With `--trace 1` a
  * traced pass runs first, and the result also carries its per-layer
  * totals and the tracing overhead against the untraced passes' median.
  */
object Main {

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, nproc: Int)

  /** One pass: per-operation samples (kind, seconds), operations
    * attempted, the kind of each one that failed, and layer figures the
    * workload keeps itself.
    */
  final case class Pass(samples: Seq[(String, Double)], attempted: Int, failed: Seq[String],
      layer: Map[String, Double]) {
    def seconds: Double = samples.map(_._2).sum
  }

  trait Workload {
    /** Untraced passes a run makes at least and at most, whatever
      * `--seconds` says.
      */
    def minPasses: Int
    def maxPasses: Int
    def setup(spark: SparkSession): Unit
    def pass(spark: SparkSession, tracer: Tracer): Pass
    /** Checks outside every timed window; (attempted, kinds that failed). */
    def check(spark: SparkSession): (Int, Seq[String])
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("nproc").toInt)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(a.out))

    val spark = graft.Sessions.get(a.nproc)
    val w: Workload = a.workload match {
      case "beam_core_10x" => new Batch(a, Ops.beamCore)
      case "index_ingest_serve" => new Index(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cg0 = Codegen.now
    w.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val cg1 = Codegen.now

    Box.settle()
    val canaryStart = Box.canary(spark, a.nproc)
    val passes = mutable.ArrayBuffer.empty[Pass] // untraced
    var tracedPass = Option.empty[Pass]
    var layer = Map.empty[String, Double]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (a.trace) {
      // the traced pass runs before the untraced ones, on a JVM no warmer
      // than theirs, so the overhead it shows errs high, never low
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val tracer = new Tracer(spark, a.nproc, Some(probe))
      val traced = w.pass(spark, tracer)
      spark.listenerManager.unregister(probe)
      spark.sparkContext.removeSparkListener(probe)
      layer = tracer.finish() ++ traced.layer ++ Map(
        "trace.pass_s" -> traced.seconds,
        "setup.codegen_s" -> (cg1._1 - cg0._1),
        "setup.codegen_classes" -> (cg1._2 - cg0._2).toDouble)
      spans ++= tracer.spans
      tracedPass = Some(traced)
    }
    val t0 = System.nanoTime()
    while (passes.size < w.maxPasses &&
        (passes.size < w.minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds))
      passes += w.pass(spark, new Tracer(spark, a.nproc, None))
    tracedPass.foreach(t => layer += "trace.overhead_ratio" -> t.seconds / median(passes.map(_.seconds).toSeq))
    val canaryEnd = Box.canary(spark, a.nproc)
    val (checked, mismatched) = w.check(spark)

    // end-to-end figures come from the untraced passes only
    val timed = passes.toSeq
    val all = timed ++ tracedPass
    val byKind = timed.flatMap(_.samples).groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> median(timed.map(_.seconds)),
      "op_geomean_s" -> math.exp(byKind.values.map(math.log).sum / byKind.size))
    val attempted = all.map(_.attempted).sum + checked
    val failed = all.flatMap(_.failed) ++ mismatched
    val box = Box.record(spark, a.nproc) ++ Map(
      "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd)
    def counts(kinds: Seq[String]) = kinds.groupBy(identity).map { case (k, v) => k -> v.size }
    Files.writeString(Paths.get(a.out, "result.json"), Json(Map(
      "e2e" -> e2e, "layer" -> layer, "attempted" -> attempted, "failed" -> failed.size,
      "passes" -> timed.size, "box" -> box,
      "executions" -> counts(all.flatMap(_.samples).map(_._1)),
      "failures" -> counts(failed))))
    if (spans.nonEmpty)
      Files.writeString(Paths.get(a.out, "spans.jsonl"), spans.map(Json(_)).mkString("", "\n", "\n"))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
  }
}

/** The box a run measured on: versions, sizes and a fixed CPU canary,
  * so drift of the machine can be told apart from a regression.
  */
object Box {
  /** Let the JIT finish compiling what the warm pass made hot (it runs
    * on threads of its own, which would otherwise compete with the first
    * timed pass): wait until no compilation has happened for 0.5 s, at
    * most 10 s.
    */
  def settle(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    System.gc()
    val end = System.nanoTime() + 10000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < end) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }

  /** Seconds for the fixed pure-CPU job graft.Bench times too. */
  def canary(spark: SparkSession, nproc: Int): Double = {
    def run(n: Long) = spark.range(0L, n, 1L, numPartitions = nproc)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    if (!warm) { run(1000000L); warm = true }
    val t0 = System.nanoTime()
    run(1000000000L)
    (System.nanoTime() - t0) / 1e9
  }
  private var warm = false

  def record(spark: SparkSession, nproc: Int): Map[String, Any] = Map(
    "nproc" -> nproc,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark" -> spark.version,
    "jdk" -> System.getProperty("java.version"))
}

/** Operation list of the batch workload. */
object Ops {
  val beamCore: Seq[String] = Seq(
    "q1_agg", "map_project", "join_inner", "analytic_running")
}

/** A batch workload: every operation is a `SparkEntry.queries` entry run
  * to its complete result. The first warm pass writes each result to
  * parquet for the oracle check; a second warm pass and the timed passes
  * write it to Spark's `noop` sink, so the whole result is computed and
  * nothing is pruned (one warm pass left the JIT still speeding up the
  * next three passes by a third). Caches an operation leaves are released
  * after it, outside its window.
  */
final class Batch(a: Main.Args, ops: Seq[String]) extends Main.Workload {
  private val failedWarm = mutable.ArrayBuffer.empty[String]
  // the median of five passes rides out a burst of load on a shared box
  val minPasses = 5
  val maxPasses = Int.MaxValue

  def setup(spark: SparkSession): Unit = {
    val oracle = ops.map(op => op -> graft.SparkEntry.oracleSql(op)).toMap
    Files.writeString(Paths.get(a.out, "oracle_sql.json"), Json(oracle))
    ops.foreach { op =>
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(op)(spark, a.data)
        .write.mode("overwrite").parquet(s"${a.out}/results/$op")
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $op failed in the warm pass: ${e.getMessage}")
        failedWarm += op
      }
      System.err.println(f"[perfbench] warm $op%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    pass(spark, new Tracer(spark, a.nproc, None))
  }

  def pass(spark: SparkSession, tracer: Tracer): Main.Pass = {
    val failed = mutable.ArrayBuffer.empty[String]
    val samples = ops.map { op =>
      val f = graft.SparkEntry.queries(op)
      System.gc() // the previous operation's garbage is not this one's cost
      val (r, dt) = tracer.op(op) {
        f(spark, a.data).write.format("noop").mode("overwrite").save()
      }
      r.failed.foreach { e =>
        System.err.println(s"[perfbench] $op failed: ${e.getMessage}")
        failed += op
      }
      System.err.println(f"[perfbench] $op%-28s $dt%.3f s")
      spark.catalog.clearCache()
      op -> dt
    }
    Main.Pass(samples, ops.size, failed.toSeq, Map.empty)
  }

  /** The oracle comparison runs in the caller (DuckDB); the warm pass
    * counts here: one attempt per operation.
    */
  def check(spark: SparkSession): (Int, Seq[String]) = (ops.size, failedWarm.toSeq)
}
