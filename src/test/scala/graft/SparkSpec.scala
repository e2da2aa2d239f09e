package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM, lazily built), on
  * the same session policy and engine confs as the mains. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4,
    extra = Map("spark.app.name" -> getClass.getSimpleName))

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Recursive delete for test artifacts. */
  def rmdirAll(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rmdirAll)
    f.delete(); ()
  }

  /** Drop a saveAsTable table AND its local-warehouse directory (a bare
    * DROP leaves files that make the next CREATE fail). */
  def dropLocalTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    rmdirAll(new java.io.File(s"spark-warehouse/$name"))
  }
}
