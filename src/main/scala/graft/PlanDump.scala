package graft

/** Batch plan-inspection main: writes `.explain("formatted")` output —
  * and the post-AQE final plan — for a list of SparkEntry queries to
  * one file per query. The optimization rounds' before/after plan
  * evidence (`plans/rNN/<query>_{before,after}.txt`) is produced here
  * so the plan shape the docs cite is machine-captured, never
  * hand-copied.
  *
  * Usage: runMain graft.PlanDump <outDir> <query1,query2,...|all> [sfDir] [suffix]
  *
  * The session is [[Sessions.get]] — the same config Verify and the
  * tests run under (Bench differs only in UI/cleaner toggles), so the
  * captured shapes are the shapes the oracle-graded runs execute.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error(
      "usage: PlanDump <outDir> <query1,query2,...|all> [sfDir]"))
    val names = args.lift(1).getOrElse("all") match {
      case "all" => SparkEntry.benchQueries
      case csv   => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val suffix = args.lift(3).map("_" + _).getOrElse("")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.get()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir)): Unit
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // execute THIS QueryExecution's RDD so AQE resolves its final
        // stages: df.count() would plan a separate QueryExecution, and
        // an RDD count moves only per-partition longs
        val n = df.queryExecution.toRdd.count()
        val finalPlan =
          df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
          s"=== $name ($n rows at $sfDir) ===\n\n" +
            s"--- explain(formatted), pre-execution ---\n$formatted\n" +
            s"--- final adaptive plan (post-AQE) ---\n$finalPlan\n"): Unit
        spark.sharedState.cacheManager.clearCache()
        System.err.println(s"[plandump] $name ok ($n rows)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
