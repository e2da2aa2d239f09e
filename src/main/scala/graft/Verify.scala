package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names (builder-local
    // iteration) restrict the dump; the driver's 2-arg call runs everything.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // the oracle gate certifies results under the BENCH configuration
    // (scan fan-out etc.) — see GraftSession.BenchConf
    val spark = GraftSession.bench()
    new java.io.File(outDir).mkdirs()
    // Queries are independent read-only plans writing to disjoint dirs:
    // submit a few concurrently so planning/JSON/small-stage gaps of one
    // query fill with another's tasks (Spark's scheduler is thread-safe;
    // measured ~2x on the driver's 4-core gate). Result content is
    // unaffected — failures still report per query.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }
    tasks.foreach(_.get())
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
