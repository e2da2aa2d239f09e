package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver test tables (TESTDATA.md).
  *
  * All engine operators are plain DataFrame transformations, so scans are
  * Spark-native parquet reads: column pruning and predicate pushdown reach
  * the scan for free. At 100 TB these would be partitioned/bucketed tables
  * behind a catalog; the loader is the single seam where that swap happens.
  * It is also where the session gets the scan fan-out rule
  * ([[ScanFanOut]]), which decides per plan whether a small fact-table
  * scan is repartitioned; queries read plainly.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    ScanFanOut.install(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` arrives as parquet TIMESTAMP(MICROS) in current testdata
    * generations, but older generations wrote TIMESTAMP(NANOS), which
    * Spark only reads as a raw long (legacy conf). Branch on the loaded
    * dtype so both encodings land on the same microsecond TIMESTAMP_NTZ —
    * the precision DuckDB reads natively, so oracle values align — and
    * NTZ (not TIMESTAMP) keeps values timezone-free end to end. The
    * legacy conf is one of [[graft.GraftSession.EngineConf]]; without it
    * a NANOS file fails to read. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _        => raw.col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
