package graft

/** Developer tool: write `explain("formatted")` for named queries to files
  * under a directory, with the BENCH-shaped session confs (the plans the
  * round's perf numbers were measured on — unlike PlanAudit mode 1, which
  * runs without the bench confs).
  *
  * usage: runMain graft.PlanDump <outDir> <suffix> <query...>
  *   writes <outDir>/<query>_<suffix>.txt
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
  * available processors).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: runMain graft.PlanDump <outDir> <suffix> <query...>")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.bench(
      extra = Map("spark.sql.maxMetadataStringLength" -> "1000"),
      logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
