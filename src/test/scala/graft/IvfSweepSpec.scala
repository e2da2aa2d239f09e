package graft

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, Tables}

/** The one-pass nProbe sweep, asserted: for every width in the sweep,
  * the tagged union leg is ROW-IDENTICAL to an independent
  * ivfTopKFromAssigned run at that width — the contract that lets
  * sim_nprobe_sweep score the postings once instead of once per width
  * (r16 optimization). Exercises both sf fixtures' embedding shapes. */
class IvfSweepSpec extends SparkSpec {

  test("sweep legs ≡ per-width ivfTopKFromAssigned") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.where(col("vec_id") < 10)
    val widths = Seq(1, 2, 4, 8)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
      nLists = 16).localCheckpoint()
    val swept = Similarity.ivfTopKSweepFromAssigned(assigned, queries,
      "vec_id", "embedding", k = 5, nLists = 16, nProbes = widths)
      .localCheckpoint()
    widths.foreach { np =>
      val leg = swept.where(col("nprobe") === np.toLong).drop("nprobe")
      val ref = Similarity.ivfTopKFromAssigned(assigned, queries,
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = np)
      assert(leg.exceptAll(ref).count() === 0, s"extra rows at nProbe=$np")
      assert(ref.exceptAll(leg).count() === 0, s"missing rows at nProbe=$np")
      assert(ref.count() > 0, s"empty reference at nProbe=$np")
    }
  }

  test("an empty width list is rejected up front") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", nLists = 16)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKSweepFromAssigned(assigned, emb, "vec_id",
        "embedding", k = 5, nLists = 16, nProbes = Seq.empty)
    }
    assert(e.getMessage.contains("nProbes is empty"))
  }

  test("a repeated width yields one leg, not a duplicate column") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.where(col("vec_id") < 10)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
      nLists = 16).localCheckpoint()
    def sweep(widths: Seq[Int]) = Similarity.ivfTopKSweepFromAssigned(
      assigned, queries, "vec_id", "embedding", k = 5, nLists = 16,
      nProbes = widths)
    val repeated = sweep(Seq(2, 4, 2, 4)).localCheckpoint()
    val once = sweep(Seq(2, 4))
    assert(repeated.exceptAll(once).count() === 0)
    assert(once.exceptAll(repeated).count() === 0)
    assert(repeated.select("nprobe").distinct().count() === 2)
  }
}
