package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run
  * concurrently (Spark schedules jobs from multiple threads fine) to
  * keep the whole dump fast at sf0.01.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // the configuration tests and the benchmark run — the oracle gate
    // grades what ships
    val spark = Sessions.get(cpus)
    new java.io.File(outDir).mkdirs()

    // GRAFT_VERIFY_ONLY=name1,name2 restricts the dump to a subset —
    // for iterating on a new query without paying the full sweep.
    // Unknown names fail loudly (the Bench GRAFT_BENCH_ONLY stance).
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"GRAFT_VERIFY_ONLY names not in queries: ${unknown.mkString(", ")}")
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a failed query must not leave a PREVIOUS run's output in
          // place — the compare would grade stale parquet as a pass
          val stale = new java.io.File(s"$outDir/$name")
          if (stale.exists()) org.apache.commons.io.FileUtils.deleteQuietly(stale): Unit
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
