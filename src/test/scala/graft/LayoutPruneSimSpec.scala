package graft

import org.apache.spark.sql.Row

/** `layout_prune_sim` on an EMPTY lineitem: the oracle runs one ungrouped
  * aggregate per candidate sort key, so it answers three rows even with
  * no input — the Spark plan must backfill its grouped result to the same
  * 3-slot frame. The expected rows are DuckDB's answer to the registered
  * oracle SQL over the same empty table: n_buckets 0, every other figure
  * NULL. The fixture is a zero-row copy of the sf0.001 lineitem (same
  * schema), written to a temporary directory. */
class LayoutPruneSimSpec extends SparkSpec {

  test("empty lineitem: three candidate rows, matching the oracle") {
    val dir = java.nio.file.Files.createTempDirectory("layout_prune_empty")
      .toFile
    try {
      graft.ops.Tables.lineitem(spark, sf()).limit(0)
        .write.parquet(s"$dir/lineitem.parquet")
      val got = SparkEntry.queries("layout_prune_sim")(spark, dir.toString)
        .collect().toSeq.sortBy(_.getString(0))
      assert(got === Seq(
        Row("l_orderkey", 0L, null, null, null),
        Row("l_partkey", 0L, null, null, null),
        Row("l_shipdate", 0L, null, null, null)))
    } finally rmdirAll(dir)
  }
}
