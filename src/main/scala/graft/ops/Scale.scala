package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale tooling for 100 TB operation: co-located (bucketed) joins and
  * skew-salted joins. The reference has no relational joins at all
  * (SURVEY §2.9); these are the engine-parity operators' scale path.
  *
  *  - Bucketing: writing both join sides bucketed by the join key lets a
  *    later sort-merge join read co-located buckets with NO exchange on
  *    either side — the "pre-shuffled ISB partitioning" of a warehouse.
  *    At 100 TB, re-joining the same fact table across many queries
  *    amortizes one write-time shuffle over every subsequent join.
  *  - Salting: a hot key (stop-word grouping, null-heavy FK) makes one
  *    reducer the straggler. Salting splits the hot side's rows across
  *    `saltFactor` sub-keys and replicates the other side to match —
  *    bounded replication for an even spread. AQE's skew-join handles
  *    moderate skew at runtime (enabled in Bench); explicit salting is
  *    for the pathological keys AQE cannot split (single-key hash joins).
  */
object Scale {

  /** Morton (Z-order) value: interleave the low `bits` bits of two
    * non-negative ints — a space-filling curve mapping 2-D locality to
    * 1-D locality. Pure bit arithmetic (shift/and/or), fully inside
    * codegen, and trivially replayable in any engine — the oracle builds
    * the same expression. */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Write `df` Z-ORDERED on two int columns: range-partition + sort by
    * the interleaved Morton value, so each output file covers a compact
    * RECTANGLE in (a, b) space rather than a stripe — per-file min/max
    * stats then prune range predicates on EITHER column (the multi-dim
    * file-skipping layout; sorting by `a` alone leaves `b` unsorted in
    * every file and prunes only one dimension). One range shuffle; the
    * z column is dropped from the files. */
  def writeZOrdered(df: DataFrame, path: String, aCol: String, bCol: String,
                    bits: Int, files: Int): Unit =
    df.withColumn("__z", zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Compact a parquet directory toward `targetBytes` per file — the
    * small-files remediation every long-lived ingest pipeline needs
    * (streaming sinks and fine-grained admission write many tiny files;
    * at 100 TB, file-open overhead and driver-side listing dominate scan
    * time long before bytes do). File count = ceil(current bytes /
    * target), rows distributed round-robin (repartition(n) without keys
    * — a full balance, intentionally: compaction IS the rebalance).
    * Writes to `outPath` then returns (files_before, files_after); the
    * caller swaps directories atomically (rename) on its own commit
    * protocol. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): (Int, Int) = {
    // listFiles is null for a missing/unreadable path (compaction jobs
    // race with sink dirs by design) — fail with the path, not an NPE;
    // an empty dir compacts to nothing rather than a schema-infer error.
    val files = Option(new java.io.File(inPath).listFiles)
      .getOrElse(throw new IllegalArgumentException(
        s"compact: cannot list $inPath")).toSeq
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty) return (0, 0)
    val totalBytes = files.map(_.length).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath).repartition(n)
      .write.mode("overwrite").parquet(outPath)
    val after = new java.io.File(outPath).listFiles
      .count(_.getName.endsWith(".parquet"))
    (files.size, after)
  }

  /** Bloom build sized from the build side's ACTUAL row count (clamped
    * to [64, cap]) instead of a static item guess. `stat.bloomFilter`
    * fixes the bitmap from expectedNumItems up front, so a 4M guess
    * allocates (and the single final-merge task ORs together) a ~5 MB
    * bitmap PER PARTIAL however small the build side is — measured as
    * the dominant stage of contam_frac at sf0.1 (890 ms of a 2.4 s
    * query in the one-task bloom merge alone). Counting first costs one
    * pass over the (persisted) key projection and keeps fpp at the
    * requested value up to `cap`; above `cap` the old saturating
    * behavior is unchanged. Result-invisible by construction: every
    * caller exact-joins false positives away, and resizing only changes
    * WHICH keys false-positive, never a false negative. NOT for blooms
    * that persist as sidecars (admitCrawl/writeSpanTable):
    * `mergeInPlace` requires identical creation parameters across
    * increments, so those keep the static contract size.
    *
    * `n` is the ROW count of `keys`, an upper bound on the distinct keys:
    * a non-distinct projection (bloomIncrementalSpans passes its
    * (old_id, shingle) rows) over-sizes the bitmap, which only lowers
    * the fpp, never changes a result. */
  private[graft] def sizedBloom(keys: DataFrame, hCol: String, cap: Long,
                                fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val k = keys.persist()
    try {
      val n = k.count()
      k.stat.bloomFilter(hCol, math.min(math.max(n, 64L), cap), fpp)
    } finally k.unpersist(false)
  }

  /** Bloom-prefiltered equi-join — the relational form of the
    * runtime-filter trick the span dedup path uses: build a Bloom over
    * the (selective) small side's keys, probe the BIG side map-side,
    * inside whole-stage codegen, BEFORE any exchange or join machinery,
    * then exact-join (false positives die there, so the result is
    * exact). At 100 TB with a sort-merge join this is the difference
    * between shuffling the whole fact table and shuffling the ~matching
    * fraction + fpp. Keys of any type hash through xxhash64 on both
    * sides — the same derivation, so no false negatives. */
  def bloomJoin(big: DataFrame, small: DataFrame, bigKey: String,
                smallKey: String, expected: Long = 1L << 20,
                fpp: Double = 0.01): DataFrame = {
    val bloom = sizedBloom(small.select(xxhash64(col(smallKey)).as("h")),
      "h", cap = expected, fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bloom)
    big.where(graft.functions.BloomProbe(xxhash64(col(bigKey)), bc))
      .join(small, col(bigKey) === col(smallKey))
  }

  /** Build a per-file min/max stats index over a written parquet
    * directory — the data-skipping manifest a lakehouse keeps in its
    * metadata layer (Delta/Iceberg file stats), materialized here as a
    * `<path>_index` sidecar. One column-pruned scan of the table
    * (indexed columns + `_metadata.file_path`), one file-count-sized
    * aggregate. Pays off with [[writeZOrdered]]: a Z-ordered layout
    * makes every file a compact rectangle in (a, b) space, so box
    * predicates on EITHER column prune files here before any scan. */
  def writeFileIndex(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    val df = spark.read.parquet(path)
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(path + "_index")
  }

  /** Read `path` through its file index: keep only files whose
    * [min, max] envelope intersects every `(col, lo, hi)` box predicate,
    * then re-apply the exact predicate as the residual filter (envelope
    * pruning is sound, not exact). Returns (rows, filesRead,
    * filesTotal). The driver-side file list is manifest-sized (one row
    * per file), the same bounded collect every table format's planner
    * performs; the data itself never leaves executors. */
  def prunedRead(spark: SparkSession, path: String,
                 preds: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    require(preds.nonEmpty, "prunedRead needs at least one box predicate")
    val idx = spark.read.parquet(path + "_index")
    val keep = preds.foldLeft(idx) { case (d, (c, lo, hi)) =>
      d.where(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
    }
    val files = keep.select("file").collect().map(_.getString(0))
    val total = idx.count().toInt
    val residual = preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    val rows =
      if (files.isEmpty) spark.read.parquet(path).where(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*).where(residual)
    (rows, files.length, total)
  }

  /** Persist `df` as a bucketed table (bucketBy requires saveAsTable). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keyCols: Seq[String], sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket keys: with matching bucket
    * counts Catalyst plans a SortMergeJoin over co-located buckets and
    * inserts NO Exchange (assert with .explain — see ScaleSpec). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   keys: Seq[String], joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), keys, joinType)

  /** Skew-salted equi-join: `big` (skewed) gets a salt in [0, saltFactor);
    * `small` is replicated across every salt value; the join key becomes
    * (key, salt). Row multiplication is saltFactor × |small| — bounded and
    * chosen by the caller. Result set is identical to the unsalted join
    * (salt is dropped).
    *
    * The salt is DETERMINISTIC — xxhash64 over the join key plus a
    * disambiguator column set — so a rerun, a task retry, or a
    * differently-partitioned input produces the identical salt assignment
    * (rand(seed) is seeded PER PARTITION and changes with layout). The
    * disambiguators must vary WITHIN a hot key to spread it across
    * saltFactor reducers; if the caller names none, every hashable big-side
    * column is used (MapType and map-bearing nested types are excluded —
    * xxhash64 rejects them at analysis). Fully identical rows share a
    * salt, which can only affect balance, never correctness. The salt
    * column name is chosen fresh, so a pre-existing `__salt` on either
    * side cannot collide. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int, joinType: String = "inner",
                 disambiguators: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case ArrayType(et, _) => hashable(et)
      case st: StructType => st.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val saltSrc: Seq[Column] =
      if (disambiguators.nonEmpty) (key +: disambiguators).distinct.map(col)
      else {
        val hs = big.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name)).toSeq
        if (hs.nonEmpty) hs else Seq(col(key))
      }
    val taken = (big.columns ++ small.columns).toSet
    val salt = Iterator.from(0).map(i => if (i == 0) "__salt" else s"__salt$i")
      .find(n => !taken.contains(n)).get
    val salted = big.withColumn(salt,
      pmod(xxhash64(saltSrc: _*), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn(salt,
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, salt), joinType).drop(salt)
  }

  /** Skew diagnostics: the `topN` hottest keys with their absolute count,
    * corpus share, and cumulative share — the report that decides whether
    * a join needs [[saltedJoin]] before it runs at 100 TB. One map-side-
    * partial hash aggregation over the raw table; the top-N is
    * TakeOrderedAndProject (never a global sort) and the ranking window
    * runs over topN rows ONLY (bounded, not a one-task window over the
    * key universe). Shares are exact-integer ratios through one double
    * division, rounded engine-portably (multiply → round → divide). */
  def skewReport(df: DataFrame, keyCols: Seq[String], topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    // total comes from a bare count(*) of the raw table (≡ sum of the
    // per-key counts), NOT an aggregate over `counts`: that second
    // branch would re-derive — and re-scan — the whole per-key
    // aggregation; a count-star scan is metadata-cheap.
    val total = df.agg(count(lit(1)).as("total"))
    val order = col("n").desc +: keys.map(_.asc)
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def r6(c: Column): Column = round(c * 1000000, 0) / 1000000
    counts.orderBy(order: _*).limit(topN)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .select((keys :+ col("rank") :+ col("n")) ++ Seq(
        r6(col("n").cast("double") / col("total").cast("double"))
          .as("share"),
        r6(sum(col("n")).over(w).cast("double") / col("total").cast("double"))
          .as("cum_share")): _*)
  }
}
