package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Janino codegen so far in this JVM: (seconds compiling, classes compiled). */
object Codegen {
  def now: (Double, Long) =
    (CodeGenerator.compileTime / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Times the benchmark's calls into the program. Every call is one
  * operation: the timer opens before the call and closes after its
  * result is complete. With a [[Probe]] attached (the traced pass) each
  * operation is also a span, its Spark jobs are child spans tied to it
  * through a job group, and the probe's counts are taken at the same
  * boundaries and summed into per-layer totals.
  */
final class Tracer(spark: SparkSession, nproc: Int, probe: Option[Probe]) {
  private val sc = spark.sparkContext
  private var seq = 0
  val layer: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var wallS, jobUnionS = 0.0
  private val cg0 = Codegen.now
  private val gc0 = gcMs

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.isValid && p.getType == MemoryType.HEAP)

  /** Run `body` as operation `name`; returns its result (or failure) and
    * its wall time in seconds.
    */
  def op[T](name: String)(body: => T): (scala.util.Try[T], Double) = {
    seq += 1
    val group = s"op-$seq"
    probe.foreach { p =>
      // drop what the harness itself ran since the last operation
      org.apache.spark.perfbench.Bus.drain(sc)
      p.take()
      heapPools.foreach(_.resetPeakUsage())
    }
    sc.setJobGroup(group, name)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = scala.util.Try(body)
    val dt = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    probe.foreach { p =>
      org.apache.spark.perfbench.Bus.drain(sc)
      add(name, group, start, dt, p.take())
    }
    (r, dt)
  }

  private def add(name: String, group: String, startMs: Long, dt: Double, c: Counts): Unit = {
    wallS += dt
    jobUnionS += c.jobUnionS
    val kv = Seq(
      "driver.analysis_s" -> c.analysisMs / 1e3,
      "driver.optimization_s" -> c.optimizationMs / 1e3,
      "driver.planning_s" -> c.planningMs / 1e3,
      "sched.jobs" -> c.jobs.toDouble,
      "sched.stages" -> c.stages.toDouble,
      "sched.tasks" -> c.tasks.toDouble,
      "sched.delay_s" -> c.delayMs / 1e3,
      "exec.run_s" -> c.runMs / 1e3,
      "exec.cpu_s" -> c.cpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1e3,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spill.disk_bytes" -> c.spillDisk.toDouble,
      "broadcast.bytes" -> c.broadcastBytes.toDouble,
      "io.files_read" -> c.filesRead.toDouble,
      "io.bytes_read" -> c.bytesRead.toDouble,
      "io.files_written" -> c.filesWritten.toDouble,
      "io.bytes_written" -> c.bytesWritten.toDouble,
      s"op.$name.s" -> dt,
      s"op.$name.bytes_written" -> c.bytesWritten.toDouble)
    kv.foreach { case (k, v) => layer(k) += v }
    c.rows.foreach { case (k, v) => layer(s"exec.rows.$k") += v.toDouble }
    layer("shuffle.skew") = math.max(layer("shuffle.skew"), c.skew)
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    layer("jvm.heap_peak_mb") = math.max(layer("jvm.heap_peak_mb"), heapMb)
    layer("cache.bytes_held") += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    spans += Map("span" -> group, "parent" -> "", "name" -> name,
      "start_ms" -> startMs, "end_ms" -> (startMs + (dt * 1e3).round))
    c.jobSpans.zipWithIndex.foreach { case ((s, e), i) =>
      spans += Map("span" -> s"$group/job-$i", "parent" -> group, "name" -> s"$name/job",
        "start_ms" -> s, "end_ms" -> e)
    }
  }

  /** Layer totals for the traced pass, with the ratios and the
    * whole-pass figures filled in.
    */
  def finish(): Map[String, Double] = {
    val (cgS, cgN) = Codegen.now
    layer("driver.codegen_s") = cgS - cg0._1
    layer("driver.codegen_classes") = (cgN - cg0._2).toDouble
    layer("driver.gap_s") = wallS - jobUnionS
    layer("exec.busy_ratio") = if (jobUnionS > 0) layer("exec.run_s") / (nproc * jobUnionS) else 0.0
    layer("jvm.gc_s") = (gcMs - gc0) / 1e3
    layer.toMap
  }
}

/** JSON text of the harness's records (maps, sequences, strings and
  * numbers), written with the Jackson Scala module that Spark ships.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
