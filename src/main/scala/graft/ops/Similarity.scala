package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SquaredDistances

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — exact, one broadcast of the query
  * set, no shuffle on the corpus side; the scan parallelizes over corpus
  * partitions, so it scales linearly in corpus size (fine whenever
  * |queries| is small). Scale path: LSH sign-random-projection bucketing —
  * candidates only form within a bucket, trading recall for a join whose
  * output is bounded by bucket occupancy rather than |corpus| × |queries|.
  *
  * All arithmetic is double (floats widened first) and expression-only:
  * zip_with + aggregate run inside codegen, no UDF.
  */
object Similarity {

  /** Cosine similarity of two double-array columns (index-ordered sums, so
    * results are bit-deterministic). Native Catalyst expression with
    * codegen — one fused loop per row; see
    * [[graft.functions.CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  /** Composable (higher-order-function) formulation — interpreted lambdas,
    * kept as the differential-testing twin of the native expression.
    * try_divide, not `/`: ANSI mode (Spark 4 default) throws on a zero
    * divisor; both formulations define zero-norm similarity as NULL. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x))
    try_divide(dot, na * nb)
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** First index of the array minimum (lowest index on ties — the
    * oracles' first-match CASE semantics), shared by every quantizer. */
  private def argminIdx(arr: Column): Column =
    (array_position(arr, array_min(arr)) - 1).cast("int")

  /** Probed (query_id, qv, cell) rows: each query's `nProbe` nearest
    * coarse cells via the tie-safe struct sort over its
    * [[SquaredDistances]] array — the shared probe idiom of the three
    * frozen-quantizer searches. qv rides along (double-cast); callers
    * drop or consume it. */
  private def probeCells(queries: DataFrame, idCol: String,
                         vecCol: String, coarse: Array[Array[Double]],
                         nProbe: Int): DataFrame = {
    val nLists = coarse.length
    val probeStructs = transform(sequence(lit(0), lit(nLists - 1)), ki =>
      struct(element_at(col("gd"), ki + 1).as("d"), ki.as("cell")))
    queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("gd", SquaredDistances(col("qv"), coarse))
      .withColumn("cell",
        explode(slice(array_sort(probeStructs), 1, nProbe).getField("cell")))
      .drop("gd")
  }

  /** Shared IVF-PQ tail: join the code table with the probed ADC rows on
    * the cell, score candidates as the m-lookup ADC sum, and keep each
    * query's top k by (rounded adist asc, neighbor asc). */
  private def adcTopK(assigned: DataFrame, probed: DataFrame,
                      m: Int, k: Int): DataFrame = {
    val adist = (0 until m).map(mi =>
      element_at(col(s"adc_$mi"), col(s"c$mi") + 1)).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    assigned.join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adist, 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * Returns (query_id, neighbor_id, sim, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Hard-negative mining — the contrastive-training staple: per query,
    * the k NEAREST vectors with a DIFFERENT label (similar-but-wrong is
    * exactly what a contrastive loss needs; random negatives are too
    * easy to teach anything). Same broadcast-probe shape as
    * [[bruteForceTopK]] with the label-mismatch predicate pushed below
    * the ranking window, so the per-query frame only ever holds
    * wrong-label rows. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), col(labelCol).as("ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"), col(labelCol).as("nl"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id") && col("nl") =!= col("ql"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Maximum-inner-product top-k — the UNNORMALIZED retrieval mode
    * (reranker scores, recommendation logits): ranking by raw dot
    * product rewards magnitude as well as direction, which cosine
    * deliberately erases — different metric, different winners. Dot via
    * the index-ordered fold (zip_with + aggregate), the same
    * accumulation sequence as the oracle's list_inner_product. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val dot = aggregate(zip_with(col("qv"), col("cv"), (x, y) => x * y),
      lit(0.0), (a, x) => a + x)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    c.crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
  }

  /** kNN label prediction — the standard representation-quality probe:
    * each query's label predicted by majority vote of its k nearest
    * neighbors (vote ties: higher count, then smaller label — both
    * pinned, so the evaluation is engine-exact). Output carries the true
    * label and a correctness flag; accuracy is one aggregate away.
    * Scale: the neighbor search is whatever ANN the caller feeds in —
    * this baseline uses [[bruteForceTopK]] (queries broadcast, corpus
    * scanned once); the vote is a (query, label)-keyed agg over k·|Q|
    * rows. */
  def knnLabel(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val votes = nn
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nl")), "neighbor_id")
      .groupBy(col("query_id"), col("nl"))
      .agg(count(lit(1)).as("votes"))
    val predicted = votes.groupBy("query_id")
      .agg(min(struct((-col("votes")).as("nv"), col("nl").as("l")))
        .getField("l").as("predicted"))
    predicted
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("label")), "query_id")
      .select(col("query_id"), col("label"), col("predicted"),
        (col("predicted") === col("label")).as("correct"))
  }

  /** TWO raters' kNN label predictions from ONE neighbor pass — the
    * agreement-statistics input (kappa/alpha compare a k1-NN and a
    * k2-NN rater): the ranking is shared, so rank ≤ k2 of the
    * k1-deep run IS the k2 run's neighbor list (k2 < k1), and the
    * corpus crossJoin + cosine scoring + top-k window run once instead
    * of once per rater. The two votes fold over the same ranked frame
    * (lineage-cut — k1·|Q| rows); per-rater predictions are
    * row-identical to independent [[knnLabel]] runs joined on
    * query_id (same vote algebra, same tie order). */
  def knnLabelPair(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, labelCol: String,
                   k1: Int, k2: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, math.max(k1, k2))
    val withL = nn
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nl")), "neighbor_id")
      .select(col("query_id"), col("rank"), col("nl"))
      .localCheckpoint() // both raters' votes read it
    def pred(kk: Int, out: String) = withL.where(col("rank") <= kk)
      .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(min(struct((-col("votes")).as("nv"), col("nl").as("l")))
        .getField("l").as(out))
    pred(k1, "r1").join(pred(k2, "r2"), "query_id")
  }

  /** Hyperplane component b,i = u(md5("b|i")) - 0.5: md5-derived
    * pseudo-randoms in [-0.5, 0.5] — deterministic and engine-portable.
    * Computed ONCE driver-side (nBits × dim doubles) and embedded as plan
    * literals: the per-row cost is a plain dot product, not d×nBits md5
    * calls per vector as a column-expression formulation would pay. */
  def srpPlanes(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$b|$i".getBytes("UTF-8"))
        .take(3).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 - 0.5
    }

  /** Sign-random-projection LSH bucket id (`nBits` hyperplanes over
    * `dim`-dimensional vectors).
    *
    * A vector whose length differs from `dim` fails loudly: zip_with pads
    * the shorter side with nulls, every dot product goes null, every bit
    * reads 0 — all vectors silently collapse into bucket 0 and the LSH
    * degenerates into one quadratic mega-bucket. The guard is one cheap
    * `size` comparison per row. */
  def srpBucket(vec: Column, nBits: Int, dim: Int): Column = {
    val planes = srpPlanes(nBits, dim)
    val bits = (0 until nBits).map { b =>
      val plane = array(planes(b).map(lit).toIndexedSeq: _*)
      val dot = aggregate(zip_with(vec, plane, (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    when(size(vec) === dim, bits.reduce(_ + _)).otherwise(raise_error(concat(
      lit(s"srpBucket: vector length "), size(vec).cast("string"),
      lit(s" does not match plane dim $dim"))))
  }

  /** Approximate NN via SRP-LSH: corpus and queries bucketed by `nBits`
    * hyperplane signs; top-k computed within matching buckets only.
    * Candidate volume ~ |corpus| × |queries| / 2^nBits per bucket family. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nBits: Int = 8, dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("bucket", srpBucket(col("cv"), nBits, dim))
    val q = broadcast(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket", srpBucket(col("qv"), nBits, dim)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.join(q, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
    * quantizer partitions the corpus into `nLists` cells; each query
    * probes its `nProbe` nearest cells and scores only those postings.
    *
    * Scale shape: corpus assignment is one ML transform (map-only);
    * candidate volume ≈ |corpus|·nProbe/nLists per query — the classic
    * recall/cost dial. Centroids are tiny (nLists × dim) and broadcast.
    * Training samples the corpus (deterministic seed); on 100 TB you
    * train once on a sample and reuse the quantizer across runs.
    * K-means centers are engine-specific → no SQL oracle (rows-only);
    * the spec checks recall against brute force instead. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
              trainFraction: Double = 0.5): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val feat = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("features", array_to_vector(col("cv")))
    // a COARSE quantizer only needs rough cells: random init + few Lloyd
    // iterations beats k-means|| here (init cost ≈ several full passes),
    // and training on a deterministic sample — the standard IVF recipe;
    // at 100 TB nobody clusters the full corpus — cuts every Lloyd pass
    // proportionally. Probing is unaffected: cells only steer candidate
    // selection, and full-probe still scans every posting (the spec's
    // recall invariant).
    val train = if (trainFraction < 1.0)
      feat.select("features").sample(withReplacement = false, trainFraction, seed = 7L)
    else feat.select("features")
    val model = new KMeans().setK(nLists).setSeed(42L).setMaxIter(5)
      .setInitMode("random")
      .fit(train)
    val centers = model.clusterCenters.map(_.toArray)

    // distance-to-centroid as a plain expression over the broadcast
    // centers: no UDF, stays in codegen (sum of squared diffs suffices
    // for ranking cells).
    def cellDist(v: Column, c: Array[Double]): Column =
      aggregate(zip_with(v, array(c.map(lit).toIndexedSeq: _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def nearestCells(v: Column, n: Int): Column = {
      val scored = centers.zipWithIndex.map { case (c, i) =>
        struct(cellDist(v, c).as("d"), lit(i).as("cell"))
      }
      slice(array_sort(array(scored.toIndexedSeq: _*)), 1, n).getField("cell")
    }

    val assigned = feat
      .withColumn("cell", nearestCells(col("cv"), 1)(0))
      .select(col("neighbor_id"), col("cv"), col("cell"))
    val probed = broadcast(queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(nearestCells(col("qv"), nProbe))))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Frozen IVF coarse centroid c(ki)(j) in [-1, 1]: md5-derived plan
    * literals (the srpPlanes/pqCentroids/semCentroids recipe) —
    * deterministic and engine-portable. Production trains the quantizer
    * once with k-means on a corpus sample (see [[ivfTopK]]) and then
    * freezes the centers exactly like this; every probing expression
    * downstream is identical either way. */
  def ivfCentroids(nLists: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nLists, dim) { (ki, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ivf|$ki|$j".getBytes("UTF-8"))
        .take(3).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 8388608.0 - 1.0
    }

  /** IVF probing over FROZEN plan-literal centroids — the production
    * shape of [[ivfTopK]] once the quantizer is trained and persisted
    * (at 100 TB nobody re-clusters per query batch; the centers are an
    * artifact, reused across runs, broadcast as plan literals).
    *
    * Because the centers are deterministic, the whole query is
    * reproducible in any engine: corpus cell assignment is an argmin over
    * left-associative squared-diff chains (the [[semDedup]]/[[pqCodes]]
    * discipline, whole-stage codegen), query probing takes the `nProbe`
    * nearest cells via a tie-safe struct sort, and scoring is the fused
    * [[cosine]] expression — fully hash-checkable against a SQL oracle. */
  def ivfTopKFrozen(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
                    dim: Int = 64): DataFrame = {
    val cents = ivfCentroids(nLists, dim)
    // distance kernel: the native SquaredDistances loop (bit-identical to
    // the oracle's left-associative chains — see the expression's
    // contract). Unrolled literal chains here used to blow Janino's
    // method limit (whole stage dropped to interpreted mode) AND sent
    // the join optimizer's constraint propagation into a multi-minute
    // walk, which forced persist() workarounds; the compact expression
    // removes both.

    // corpus side: nearest cell (first index on ties, matching the
    // oracle's first-match CASE) — one map-only codegen pass.
    ivfTopKFromAssigned(ivfAssign(corpus, idCol, vecCol, nLists, dim),
      queries, idCol, vecCol, k, nLists, nProbe, dim)
  }

  /** The frozen-IVF corpus assignment (neighbor_id, cv, cell) — the
    * in-memory form of the artifact [[writeIvfIndexTable]] persists.
    * Build it once per session (a sidecar block) and every probe
    * workload reads it without re-running the k×dim assignment pass. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nLists: Int = 16, dim: Int = 64): DataFrame = {
    val cents = ivfCentroids(nLists, dim)
    corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", argminIdx(SquaredDistances(col("cv"), cents)))
  }

  /** Probe a PREBUILT assignment ([[ivfAssign]], or a read of the
    * persisted index table): identical results to [[ivfTopKFrozen]] —
    * same centroid literals on the query side — but the corpus
    * assignment pass never re-runs. The probe set broadcasts (tiny next
    * to the postings), so the index side joins exchange-free; the only
    * shuffle is the per-query top-k window over the already-pruned
    * candidate rows. */
  def ivfTopKFromAssigned(assigned: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          nLists: Int = 16, nProbe: Int = 4,
                          dim: Int = 64): DataFrame = {
    val cents = ivfCentroids(nLists, dim)
    val probed = broadcast(probeCells(queries, idCol, vecCol, cents, nProbe))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** One-pass nProbe SWEEP over a prebuilt assignment: row-identical to
    * running [[ivfTopKFromAssigned]] once per width in `nProbes` and
    * tagging each union leg with its width — but the postings join and
    * the cosine scoring run ONCE, at the WIDEST width. Correctness
    * argument: a cell probed at rank r is probed by every nProbe ≥ r,
    * so a narrower width's candidate set is exactly the widest set
    * filtered to prank ≤ nProbe; each neighbor lives in ONE cell, so
    * the (sim desc, neighbor asc) order restricted to that subset IS
    * the narrower run's window order, and its row_number is the
    * running conditional count over the shared sort. One window pass
    * computes every width's rank (same window spec ⇒ one Window
    * operator); narrower sweeps reuse the same sorted frame instead of
    * re-joining and re-scoring the postings per width. A width repeated
    * in `nProbes` yields one leg. */
  def ivfTopKSweepFromAssigned(assigned: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, k: Int,
                               nLists: Int, nProbes: Seq[Int],
                               dim: Int = 64): DataFrame = {
    require(nProbes.nonEmpty, "ivfTopKSweepFromAssigned: nProbes is empty")
    val widths = nProbes.distinct
    val cents = ivfCentroids(nLists, dim)
    val maxP = widths.max
    val nListsL = cents.length
    val probeStructs = transform(sequence(lit(0), lit(nListsL - 1)), ki =>
      struct(element_at(col("gd"), ki + 1).as("d"), ki.as("cell")))
    // probeCells with the probe RANK kept (1-based slot in the sorted
    // cell list) — the per-width membership predicate downstream
    val probed = broadcast(queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("gd", SquaredDistances(col("qv"), cents))
      .select(col("query_id"), col("qv"),
        posexplode(slice(array_sort(probeStructs), 1, maxP).getField("cell")))
      .select(col("query_id"), col("qv"), col("col").as("cell"),
        (col("pos") + 1).as("prank")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = assigned.join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .select(Seq(col("query_id"), col("neighbor_id"), col("sim"),
        col("prank")) ++
        widths.map(np => sum(when(col("prank") <= np, 1L).otherwise(0L))
          .over(w).as(s"cum_$np")): _*)
    ranked
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        explode(array(widths.map(np => struct(
          lit(np.toLong).as("nprobe"),
          col(s"cum_$np").as("rank"),
          (col("prank") <= np && col(s"cum_$np") <= k).as("keep"))): _*))
          .as("s"))
      .where(col("s.keep"))
      .select(col("s.nprobe").as("nprobe"), col("query_id"),
        col("neighbor_id"), col("sim"), col("s.rank").cast("int").as("rank"))
  }

  /** Persist the frozen-IVF index as a BUCKETED table keyed by cell —
    * the "train once, persist the centers, probe forever" production
    * shape made literal, the ANN analog of [[graft.ops.Dedup]]'s bucketed
    * signature table. The k×dim assignment pass runs ONCE at build time;
    * every later query workload reads postings that are already
    * cell-partitioned on disk. */
  def writeIvfIndexTable(corpus: DataFrame, idCol: String, vecCol: String,
                         table: String, nLists: Int = 16, dim: Int = 64,
                         buckets: Int = 8,
                         centroids: Array[Array[Double]] = null): Unit = {
    // default: the frozen IVF quantizer; pass semCentroids(k, dim) to
    // build the SAME table shape for SemDeDup increments — the schema
    // (neighbor_id, cv, cell) and bucket layout serve both workloads,
    // but the prober's centroids must match the build's.
    val cents = if (centroids != null) centroids else ivfCentroids(nLists, dim)
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", argminIdx(SquaredDistances(col("cv"), cents)))
    graft.ops.Scale.writeBucketed(assigned, table, buckets,
      keyCols = Seq("cell"), sortCols = Seq("cell"))
  }

  /** Probe a persisted IVF index: identical results to [[ivfTopKFrozen]]
    * (same centroid literals on the query side), but the corpus is never
    * re-assigned and never re-shuffled. With a small query batch the
    * probe set broadcasts (corpus side untouched); at query volumes past
    * broadcast, the cell equi-join shuffles ONLY the queries — the index
    * table is pre-bucketed on the join key, so Catalyst plans its side
    * exchange-free (IvfIndexTableSpec asserts this with broadcast off).
    * Only the per-query top-k window moves data keyed by query_id — the
    * tiny side by construction. */
  def ivfTopKFromTable(spark: org.apache.spark.sql.SparkSession, table: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nLists: Int = 16, nProbe: Int = 4,
                       dim: Int = 64, broadcastProbe: Boolean = true): DataFrame = {
    val cents = ivfCentroids(nLists, dim)
    val probedRaw = probeCells(queries, idCol, vecCol, cents, nProbe)
    val probed = if (broadcastProbe) broadcast(probedRaw) else probedRaw
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    spark.table(table).join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Incremental SemDeDup (the crawl-grows-the-corpus path, mirroring
    * [[graft.ops.Dedup.incrementalDupPairs]]): semantic near-dup pairs
    * BETWEEN a settled corpus and an incoming batch — (old_id, new_id,
    * sim) for every cross pair in the same cell with cosine ≥ threshold.
    * Both sides assign cells against the same frozen centroids; the
    * candidate space is per-cell cross products (settled × increment,
    * never settled²). Downstream policy decides the verdict — typically
    * "drop the incoming member" (settled exemplars are canonical). */
  def semDedupCrossPairs(settled: DataFrame, incoming: DataFrame,
                         idCol: String, vecCol: String, threshold: Double,
                         k: Int = 8, dim: Int = 64): DataFrame = {
    val cents = semCentroids(k, dim)
    def assign(df: DataFrame, as: String, vas: String) = df
      .select(col(idCol).as(as), asDouble(col(vecCol)).as(vas))
      .withColumn("cell", argminIdx(SquaredDistances(col(vas), cents)))
    assign(incoming, "new_id", "nv")
      .join(assign(settled, "old_id", "ov"), Seq("cell"))
      .withColumn("sim", cosine(col("ov"), col("nv")))
      .where(col("sim") >= threshold)
      .select(col("old_id"), col("new_id"), col("sim"))
  }

  /** [[semDedupCrossPairs]] with the settled side served from a persisted
    * assignment table — built by [[writeIvfIndexTable]] with
    * `centroids = semCentroids(k, dim)` so the cells match this prober
    * (same table SHAPE as the ANN index: (neighbor_id, cv, cell),
    * cell-bucketed). Only the increment runs the k×dim assignment and
    * shuffles into the cell layout; the settled corpus never moves
    * (bucketed-join shape asserted in ScaleSpec/IvfIndexTableSpec). */
  def semDedupCrossPairsFromTable(spark: org.apache.spark.sql.SparkSession,
                                  table: String, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double, k: Int = 8,
                                  dim: Int = 64): DataFrame = {
    val cents = semCentroids(k, dim)
    val inc = incoming
      .select(col(idCol).as("new_id"), asDouble(col(vecCol)).as("nv"))
      .withColumn("cell", argminIdx(SquaredDistances(col("nv"), cents)))
    inc.join(spark.table(table)
        .select(col("neighbor_id").as("old_id"), col("cv").as("ov"), col("cell")),
        Seq("cell"))
      .withColumn("sim", cosine(col("ov"), col("nv")))
      .where(col("sim") >= threshold)
      .select(col("old_id"), col("new_id"), col("sim"))
  }

  /** Per-vector int8 scalar quantization: codes = round((x − min) /
    * scale) ∈ [0, 255], scale = (max − min)/255 — 4× memory cut for ANN
    * posting lists, the standard compression step before IVF/PQ storage.
    * Map-side only (no shuffle); dequantization error ≤ scale/2 per
    * component. Codes serialize to csv (driver cannot hash arrays). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // lo/scale are hoisted into their own projection: referenced from
    // inside the transform lambda they would re-evaluate array_min/max
    // PER ELEMENT (O(d²) per row — measured 30× slower). CollapseProject
    // keeps the split because the aliases are non-cheap and multiply
    // referenced.
    df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol), col("v"), array_min(col("v")).as("zero_point"),
        when(array_max(col("v")) === array_min(col("v")), lit(1.0))
          .otherwise((array_max(col("v")) - array_min(col("v"))) / 255.0).as("qscale"))
      .select(col(idCol),
        concat_ws(",", transform(col("v"),
          x => round((x - col("zero_point")) / col("qscale")).cast("int"))).as("codes"),
        col("zero_point"), col("qscale"))
  }

  /** Per-DIMENSION corpus statistics over an embedding column — the
    * calibration input for quantizer design (per-dim ranges for scalar
    * quantization, variance for PQ subspace allocation, means for
    * centering). Returns (dim, n, mean, variance, vmin, vmax).
    *
    * Scale shape: one posexplode + one hash-aggregate keyed on dim —
    * map-side partials collapse to `dim` rows per partition, the shuffle
    * carries partitions × dims tiny rows, never the corpus.
    *
    * Float determinism: double sums are order-dependent across engines,
    * so the aggregate runs on FIXED-POINT values (round(x·2²⁰) as
    * BIGINT — exact, order-free integer sums) and converts to floating
    * point once at the end with a fixed operation order. Any engine
    * reproduces the result bit for bit (the agg_hll_md5 pattern). */
  /** Fixed-point per-dim values: (dim, v = round(x·2²⁰) as long). */
  private def scaledDims(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(asDouble(col(vecCol))))
      .select(col("pos").as("dim"),
        round(col("col") * FixedPointScale).cast("long").as("v"))

  private val FixedPointScale = (1L << 20).toDouble

  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val scale = FixedPointScale
    // Sums accumulate as DECIMAL(38,0): still exact integer arithmetic,
    // but the sum-of-squares no longer wraps LongType past ~8M rows per
    // dim (v² ≤ 2⁴⁶; a bigint sum silently overflows at corpus scale —
    // the oracle's HUGEINT sum never did, so the overflow would read as
    // a hash mismatch at exactly the scale nobody re-verifies).
    scaledDims(df, vecCol)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
        sum((col("v") * col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("q"),
        min("v").as("mn"), max("v").as("mx"))
      .select(col("dim"), col("n"),
        (col("s").cast("double") / col("n").cast("double") / scale).as("mean"),
        ((col("q").cast("double") / col("n").cast("double") -
          (col("s").cast("double") / col("n").cast("double")) *
          (col("s").cast("double") / col("n").cast("double"))) / (scale * scale))
          .as("variance"),
        (col("mn").cast("double") / scale).as("vmin"),
        (col("mx").cast("double") / scale).as("vmax"))
  }

  /** Participation-ratio isotropy of the embedding corpus — the
    * anisotropy-collapse diagnostic in ONE number where emb_dim_stats
    * gives the per-dim table: PR = (Σ_d a_d)²/Σ_d a_d² over per-dim
    * variance masses a_d = n·Σv² − (Σv)² counts how many dimensions
    * carry the variance (D for isotropic, →1 when a rogue dimension
    * dominates — the pathology ABTT exists to remove; run this BEFORE
    * and AFTER emb_abtt to prove the fix). a_d is exact fixed-point
    * DECIMAL; a_d² would cross DECIMAL38 at fleet scale, so each casts
    * to double and the D-bounded squares fold in explicit dim order
    * (the vocab_entropy discipline). One posexplode + one |dims|
    * hash-agg — the dimStats scale shape. */
  def isotropy(df: DataFrame, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = scaledDims(df, vecCol)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(dec)).as("s"),
        sum((col("v") * col("v")).cast(dec)).as("q"))
      .select(col("dim"), col("n"),
        (col("n").cast(dec) * col("q") - col("s") * col("s")).as("a"))
    val g = per.agg(max(col("n")).as("n_vecs"), count(lit(1)).as("d"),
      sum(col("a")).as("sa"), max(col("a")).as("amax"),
      sort_array(collect_list(struct(col("dim"), col("a")))).as("lst"))
    val sa2 = aggregate(col("lst"), lit(0.0), (acc, e) =>
      acc + e.getField("a").cast("double") * e.getField("a").cast("double"))
    val sad = col("sa").cast("double")
    val pr = sad * sad / sa2
    g.select(col("n_vecs"), col("d"),
      TimeSeries.portableRound4(when(sa2 > 0, pr))
        .as("participation_ratio"),
      TimeSeries.portableRound4(when(sa2 > 0, pr / col("d").cast("double")))
        .as("eff_dim_frac"),
      TimeSeries.portableRound6(when(sa2 > 0,
        col("amax").cast("double") / sad)).as("top_dim_share"))
  }

  /** One Lloyd's k-means training round in EXACT FIXED POINT — the
    * quantizer-training pass that [[ivfTopKFrozen]]'s frozen centers come
    * from, made engine-reproducible: vectors quantize to round(x·2²⁰)
    * integer codes, the seed assignment uses the native
    * [[graft.functions.SquaredDistances]] loop over the scaled seeds
    * (integer-valued doubles — exact ≤ 2⁵³), centroid updates are exact
    * integer sums with floor-division means, and the re-assignment is an
    * integer argmin. No float ever varies by accumulation order, so the
    * whole train step is hash-checkable against a SQL oracle — unlike
    * MLlib KMeans, whose parallel float sums are run-dependent.
    *
    * Scale shape: assignment is MAP-ONLY (literal seed matrix in the
    * expression); the update is one posexplode + hash-agg on (cluster,
    * dim) — k·dim result rows, map-side partials do the heavy lifting;
    * the updated k·dim-int centroid table broadcasts back as ONE row, so
    * re-assignment is map-only again. Iterating = repeating that
    * agg+broadcast pair; nothing grows with corpus size but the scan.
    *
    * Returns (id, c1, c2): the seed-round and final cluster ids (c2 is
    * the converged-enough label downstream mixing/IVF uses; c1 documents
    * the move). `iters` = number of update rounds (each = one centroid
    * agg + one broadcast re-assignment; the oracle pins 1, the spec
    * differentials more). Mean floor-division is exact for |sum| < 2⁵³
    * (sum of round(x·2²⁰) VALUES — not squares — so the long holds ~4e12
    * rows per cluster before that bound matters). */
  def kmeansFixedPoint(df: DataFrame, idCol: String, vecCol: String,
                       k: Int = 8, dim: Int = 64, iters: Int = 1): DataFrame = {
    val (assigned, _) = lloydRounds(codedVecs(df, idCol, vecCol, k, dim), iters)
    assigned.select(col(idCol), col("c1"), col("c").as("c2"))
  }

  /** FROZEN-quantizer cell assignment: each vector's nearest literal
    * seed centroid (no training pass at all) — the reference partition
    * drift monitoring judges populations against. Pure map-side
    * projection (the argmin runs over injected seed literals via the
    * native [[graft.functions.SquaredDistances]] kernel): zero shuffle,
    * streamable, and exactly reproducible by an oracle carrying the same
    * seed literals. */
  def seedCellAssign(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, dim: Int = 64): DataFrame =
    codedVecs(df, idCol, vecCol, k, dim)
      .select(col(idCol), col("c1").as("cell"))

  /** The same frozen-seed cell assignment as a bare COLUMN — for
    * streaming projections where the id/select plumbing of
    * [[seedCellAssign]] would strip watermark columns. Identical
    * arithmetic to [[codedVecs]]' c1 (same scaling, same argmin
    * tie-break), so batch and stream assign every vector to the same
    * cell. Vectors of the wrong dimension get NULL (SquaredDistances'
    * short-vector contract), never a wrong cell. */
  def seedCellColumn(vecCol: String, k: Int = 8, dim: Int = 64): Column = {
    val seeds = ivfCentroids(k, dim)
      .map(_.map(x => math.round(x * FixedPointScale).toDouble))
    when(size(col(vecCol)) === dim,
      argminIdx(SquaredDistances(
        transform(asDouble(col(vecCol)),
          x => round(x * FixedPointScale)), seeds)).cast("int"))
  }

  /** Seed-coded vectors: (…passthrough…, c1 = seed-cell, vsl = scaled
    * integer codes). Shared entry of the fixed-point training paths. */
  private def codedVecs(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, dim: Int, keepCols: Seq[Column] = Nil): DataFrame = {
    val scale = FixedPointScale
    val seeds = ivfCentroids(k, dim).map(_.map(x => math.round(x * scale).toDouble))
    df.where(size(col(vecCol)) === dim)
      .select(col(idCol) +: transform(asDouble(col(vecCol)),
        x => round(x * scale)).as("vsd") +: keepCols: _*)
      .withColumn("c1", argminIdx(SquaredDistances(col("vsd"), seeds))
        .cast("int"))
      .withColumn("vsl", transform(col("vsd"), _.cast("long")))
      .drop("vsd")
  }

  /** `iters` Lloyd update rounds over seed-coded vectors. Returns the
    * final assignment (input columns + `c`) and the final one-row
    * centroid table (`cents`: sorted (c, arr) structs) — the trained
    * quantizer artifact [[ivfTopKTrained]] probes. */
  private def lloydRounds(coded: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "at least one update round")
    // 2+ rounds re-read the coded vectors once per round: truncate the
    // scan+encode lineage rather than recompute it (single-round plans
    // stay pipeline-pure — the oracle's shape).
    val vecs = if (iters > 1) coded.localCheckpoint() else coded
    var assigned = vecs.withColumn("c", col("c1"))
    var centsRow: DataFrame = null
    for (_ <- 1 to iters) {
      val cent = assigned
        .select(col("c"), posexplode(col("vsl")).as(Seq("dim", "v")))
        .groupBy("c", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        // exact floor division (pmod makes the numerator divisible;
        // the shared decimal-path quotient never rounds)
        .withColumn("cd", Stats.fdiv(col("s"), col("n")))
      centsRow = cent.groupBy("c")
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("cd")))),
          _.getField("cd")).as("arr"))
        .agg(sort_array(collect_list(struct(col("c"), col("arr"))))
          .as("cents"))
      // best = lexicographic min over (dist, cluster): deterministic
      // ties, and carrying the cluster ID (not the array index) stays
      // correct even if a cell lands empty.
      assigned = assigned.drop("c").crossJoin(broadcast(centsRow))
        .withColumn("best", array_min(transform(col("cents"), cs =>
          struct(
            aggregate(zip_with(col("vsl"), cs.getField("arr"),
              (x, y) => (x - y) * (x - y)), lit(0L), (a, t) => a + t).as("d"),
            cs.getField("c").as("c")))))
        .withColumn("c", col("best.c").cast("int"))
        .withColumn("d", col("best.d"))
        .drop("best", "cents")
    }
    (assigned, centsRow)
  }

  /** Embedding-space outliers against the TRAINED quantizer: vectors
    * more than `nMads` MADs beyond their cell's MEDIAN squared distance
    * to the centroid — the representation-space garbage filter
    * (mislabeled/degenerate embeddings sit in the far tail of their
    * cell's distance distribution). The rule is median/MAD, not a
    * multiplicative margin, because high-dimensional distances
    * CONCENTRATE: at dim 64 the farthest synthetic vector sits only
    * ~1.2× the median, so "k× the median" flags nothing at any sane k,
    * while the MAD scale adapts to the (narrow) spread — the same
    * robustness argument as [[graft.ops.TimeSeries.robustAnomalies]],
    * in distance space. Distances are the training pass's exact scaled
    * integers; 2·median and 4·MAD of integers are exact BIGINTs, so the
    * flag 2·dev2 > nMads·mad4 is a pure integer comparison —
    * hash-checkable like the rest of the kmeans family. Two extra
    * |cells|-sized aggregates broadcast back; the corpus is scanned by
    * the training pass alone. */
  def kmeansOutliers(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, dim: Int = 64, nMads: Int = 3): DataFrame = {
    // checkpoint: the assignment feeds the median pass, the MAD pass,
    // and the flag join — without the lineage cut each consumer re-runs
    // Lloyd training from the raw scan (measured 3× the cost).
    val assigned = lloydRounds(codedVecs(df, idCol, vecCol, k, dim), 1)
      ._1.select(col(idCol), col("c"), col("d")).localCheckpoint()
    assigned
      .join(broadcast(TimeSeries.robustStats(assigned, "c", "d")), "c")
      .withColumn("dev2", abs(col("d") * 2 - col("med2")))
      .where(col("dev2") * 2 > col("mad4") * nMads)
      .select(col(idCol), col("c").cast("int").as("cell"),
        col("d").as("dist2"), col("med2"), col("mad4"))
  }

  /** The frozen artifact behind [[kmeansOutliers]], packed for
    * ROW-LOCAL judging: ONE row holding the sorted array of
    * (c, arr, med2, mad4) — trained centroid plus the cell's distance
    * median/MAD. A consumer cross-joins this broadcast row and scores
    * any vector with a pure expression (code → distance per cell →
    * lexicographic argmin → MAD flag), no aggregation — which is what
    * lets [[graft.streaming.EmbeddingGuard]] run the same rule on a
    * STREAM with zero state. */
  def outlierProfile(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, dim: Int = 64): DataFrame = {
    val (assignedRaw, cents) =
      lloydRounds(codedVecs(df, idCol, vecCol, k, dim), 1)
    // same lineage cut as kmeansOutliers: stats make two passes
    val assigned = assignedRaw.select(col("c"), col("d")).localCheckpoint()
    cents.select(explode(col("cents")).as("ce"))
      .select(col("ce.c").as("c"), col("ce.arr").as("arr"))
      .join(TimeSeries.robustStats(assigned, "c", "d"), "c")
      .agg(sort_array(collect_list(
        struct(col("c"), col("arr"), col("med2"), col("mad4")))).as("cells"))
  }

  /** Row-local outlier verdict against a frozen [[outlierProfile]] row:
    * the scoring expression shared by the batch and streaming paths.
    * Input must already carry the profile's `cells` column. */
  private[graft] def outlierVerdict(vecCol: String, dim: Int,
                                    nMads: Int,
                                    cellsCol: String = "cells"): Seq[Column] = {
    val coded = transform(asDouble(col(vecCol)),
      x => round(x * FixedPointScale).cast("long"))
    val best = array_min(transform(col(cellsCol), ce =>
      struct(
        aggregate(zip_with(coded, ce.getField("arr"),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, t) => a + t).as("d"),
        ce.getField("c").as("c"), ce.getField("med2").as("med2"),
        ce.getField("mad4").as("mad4"))))
    Seq(best.getField("c").cast("int").as("cell"),
      best.getField("d").as("dist2"),
      best.getField("med2").as("med2"),
      best.getField("mad4").as("mad4"),
      (abs(best.getField("d") * 2 - best.getField("med2")) * 2 >
        best.getField("mad4") * nMads).as("outlier"))
  }

  /** IVF ANN with a TRAINED coarse quantizer — the full production
    * lifecycle in one reproducible plan: [[kmeansFixedPoint]]'s Lloyd
    * rounds train the centers, the corpus assigns to its trained cell,
    * each query probes its `nProbe` nearest cells (tie-safe integer
    * struct sort), and candidates rank by the fused native [[cosine]].
    * Because training is exact fixed point and scoring is the pinned
    * cosine, the ENTIRE path — train → index → probe → rank — is
    * hash-checkable against a SQL oracle; [[ivfTopKFrozen]] is this
    * operator with the training frozen out.
    *
    * Scale: training as [[kmeansFixedPoint]]; the index join is
    * cell-keyed with the probe side tiny (queries × nProbe — AQE
    * broadcasts it); only the per-query top-k window shuffles, on the
    * query id. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, kTop: Int, nLists: Int = 8,
                     nProbe: Int = 2, dim: Int = 64, iters: Int = 1): DataFrame = {
    val coded = codedVecs(corpus, idCol, vecCol, nLists, dim,
      keepCols = Seq(asDouble(col(vecCol)).as("cv")))
    val (assigned, centsRow) = lloydRounds(coded, iters)
    val index = assigned.select(col(idCol).as("neighbor_id"), col("cv"),
      col("c").as("cell"))
    val probed = probeTrainedCells(queries, idCol, vecCol, centsRow,
      nProbe, dim)
    rankCandidates(index, probed, kTop)
  }

  /** (query_id, qv, cell) rows: each query's `nProbe` nearest TRAINED
    * cells by exact integer distance (tie-safe struct sort) — the
    * trained-quantizer analog of [[probeCells]]. `centsRow` is the
    * one-row (cents: array<(c, arr)>) table [[lloydRounds]] emits or a
    * sidecar reload of it. */
  private def probeTrainedCells(queries: DataFrame, idCol: String,
                                vecCol: String, centsRow: DataFrame,
                                nProbe: Int, dim: Int): DataFrame =
    queries.where(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
        transform(asDouble(col(vecCol)),
          x => round(x * FixedPointScale).cast("long")).as("vsl"))
      .crossJoin(broadcast(centsRow))
      .withColumn("pc", explode(slice(sort_array(transform(col("cents"), cs =>
        struct(
          aggregate(zip_with(col("vsl"), cs.getField("arr"),
            (x, y) => (x - y) * (x - y)), lit(0L), (a, t) => a + t).as("d"),
          cs.getField("c").as("c")))), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("pc.c").as("cell"))

  /** Shared tail of every IVF probe: cell equi-join + per-query cosine
    * top-k (ties: sim DESC, neighbor ASC). */
  private def rankCandidates(index: DataFrame, probed: DataFrame,
                             kTop: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    index.join(probed, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= kTop)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Persist the TRAINED-quantizer ANN index: Lloyd rounds train the
    * centers, the corpus assigns by exact integer distance, and two
    * artifacts land — the cell-BUCKETED index table (neighbor_id, cv,
    * cell) and a k-row centers sidecar at `centersPath` (the
    * [[Dedup.writeSpanTable]] bloom-sidecar discipline: the artifact
    * carries everything a prober needs). Build once, probe forever —
    * at 100 TB nobody re-trains or re-assigns per query batch. */
  def writeTrainedIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                           table: String, centersPath: String,
                           nLists: Int = 8, dim: Int = 64, iters: Int = 1,
                           buckets: Int = 8): Unit = {
    val coded = codedVecs(corpus, idCol, vecCol, nLists, dim,
      keepCols = Seq(asDouble(col(vecCol)).as("cv")))
    val (assigned, centsRow) = lloydRounds(coded, iters)
    centsRow.select(explode(col("cents")).as("ce"))
      .select(col("ce.c").as("c"), col("ce.arr").as("arr"))
      .coalesce(1).write.mode("overwrite").parquet(centersPath)
    graft.ops.Scale.writeBucketed(
      assigned.select(col(idCol).as("neighbor_id"), col("cv"),
        col("c").as("cell")),
      table, buckets, keyCols = Seq("cell"), sortCols = Seq("cell"))
  }

  /** Probe the persisted trained index: results identical to
    * [[ivfTopKTrained]] (same integer probe distances, same cosine) with
    * training and corpus assignment amortized into the build. The query
    * side reloads the k-row sidecar; the index side is bucketed on the
    * join key, so past-broadcast query volumes join with the index
    * exchange-free (TrainedIvfIndexSpec, the IvfIndexTableSpec law). */
  def ivfTopKFromTrainedIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, centersPath: String,
                              queries: DataFrame, idCol: String,
                              vecCol: String, kTop: Int, nProbe: Int = 2,
                              dim: Int = 64,
                              broadcastProbe: Boolean = true): DataFrame = {
    val centsRow = spark.read.parquet(centersPath)
      .agg(sort_array(collect_list(struct(col("c"), col("arr")))).as("cents"))
    val probedRaw = probeTrainedCells(queries, idCol, vecCol, centsRow,
      nProbe, dim)
    val probed = if (broadcastProbe) broadcast(probedRaw) else probedRaw
    rankCandidates(spark.table(table), probed, kTop)
  }

  /** Top-k cosine retrieval over GLOBALLY-calibrated int8 codes — the
    * memory-bound scale path: [[dimStats]] supplies per-dim ranges (the
    * corpus calibration pass, a tiny broadcastable aggregate), every
    * vector quantizes map-side to codes in [-128, 127], and the scan
    * ranks by cosine over the codes. 4× less scan bandwidth than float32
    * — at 100 TB the brute-force scan is bandwidth-bound, so this IS the
    * latency lever; same fused native [[cosine]] loop.
    *
    * Exactness: codes are integers carried as doubles, so dot products
    * and norms are EXACT integer arithmetic (≤ 2⁵³) up to one final
    * sqrt+divide with pinned order — any engine reproduces the ranking
    * bit for bit, ties broken (sim DESC, neighbor_id ASC). */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    // min/max-only calibration (what the ranges actually need): the
    // mean/variance aggregates of [[dimStats]] would ride along unused.
    val cal = scaledDims(corpus, vecCol)
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .select(col("dim"),
        (col("mn").cast("double") / FixedPointScale).as("vmin"),
        when(col("mx") === col("mn"), lit(1.0))
          .otherwise(col("mx").cast("double") / FixedPointScale -
            col("mn").cast("double") / FixedPointScale).as("vrange"))
      .agg(sort_array(collect_list(struct(col("dim"), col("vmin")))).as("lo0"),
        sort_array(collect_list(struct(col("dim"), col("vrange")))).as("r0"))
      .select(transform(col("lo0"), s => s.getField("vmin")).as("lo"),
        transform(col("r0"), s => s.getField("vrange")).as("rng"))
    def codes(df: DataFrame, alias: String) = df.crossJoin(broadcast(cal))
      .select(col(idCol).as(s"${alias}_id"),
        transform(asDouble(col(vecCol)), (x, i) =>
          round((x - element_at(col("lo"), i + 1)) /
            element_at(col("rng"), i + 1) * 255) - lit(128.0)).as(s"${alias}v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    codes(corpus, "neighbor").crossJoin(broadcast(codes(queries, "query")))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("queryv"), col("neighborv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** PQ sub-centroid c(m)(k)(j) in [-1, 1]: md5-derived pseudo-randoms —
    * deterministic and engine-portable, computed once driver-side and
    * embedded as plan literals (the srpPlanes recipe). Production would
    * train these per-subspace with k-means on a corpus sample; the
    * assignment/encoding math below is identical either way. */
  def pqCentroids(m: Int, k: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k, subDim) { (mi, ki, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pq|$mi|$ki|$j".getBytes("UTF-8"))
        .take(3).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 8388608.0 - 1.0
    }

  /** Product-quantization encoding: the vector splits into `m` subspaces;
    * each sub-vector is replaced by the index of its nearest of `k`
    * sub-centroids — dim×4 bytes shrink to m codes (the storage format of
    * IVF-PQ ANN indexes). Returns (id, codes csv, recon_err = summed
    * squared distance to the chosen centroids, the quantization loss).
    *
    * Map-only: every distance is a fixed-order expression over plan
    * literals, so encoding pipelines with the scan — no shuffle, no UDF,
    * bit-reproducible in any engine (ties pick the lowest centroid index
    * via struct sort). */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val sub = dim / m
    val cents = pqCentroids(m, k, sub)
    // per-subspace distance arrays via the native SquaredDistances loop
    // (bit-identical to the oracle's left-associative chains — see the
    // expression's contract); argmin = first index of the array min, the
    // same lowest-index tie-break as the oracle's struct sort. Distance
    // arrays hoist into their own projection so the argmin and the
    // reconstruction error share one evaluation.
    df.select(col(idCol) +: (0 until m).map(mi =>
        SquaredDistances(slice(col(vecCol), mi * sub + 1, sub), cents(mi))
          .as(s"sd$mi")): _*)
      .select(col(idCol),
        concat_ws(",", (0 until m).map(mi =>
          argminIdx(col(s"sd$mi"))): _*).as("codes"),
        round((0 until m).map(mi => array_min(col(s"sd$mi")))
          .reduce(_ + _), 4).as("recon_err"))
  }

  /** IVF-PQ ANN search — the production index shape at 100 TB (Jégou,
    * Douze & Schmid, TPAMI 2011: "Product Quantization for Nearest
    * Neighbor Search"): a coarse quantizer ([[ivfCentroids]]) prunes the
    * corpus to `nProbe` inverted lists per query, and scoring inside the
    * probed lists reads ONLY the m-byte PQ codes via an asymmetric
    * distance computation (ADC) — the query builds an m×k lookup table of
    * sub-distances once, and every candidate's approximate distance is m
    * table lookups, never a d-dimensional scan of the raw vector.
    *
    * Scale shape: the corpus side materializes (id, cell, codes) — the
    * IVF-PQ index artifact, dim×4 bytes → m bytes per vector, computed in
    * one map-only codegen pass and persisted/bucketed by cell in
    * production. The query side is tiny and broadcast: nProbe cell probes
    * plus m ADC arrays of k doubles. The join touches only probed cells;
    * candidate volume is bounded by cell occupancy. Everything is a
    * fixed-order expression over plan literals — no UDFs, hash-
    * reproducible in any engine (this variant encodes the raw vector,
    * not the cell residual; residual encoding changes only the encode/ADC
    * inputs, not the plumbing).
    *
    * Returns (query_id, neighbor_id, adist = rounded ADC distance, rank):
    * top-k per query by (adist asc, neighbor_id asc). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
                m: Int = 8, pqK: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val sub = dim / m
    val coarse = ivfCentroids(nLists, dim)
    val cents = pqCentroids(m, pqK, sub)
    // all quantizer math goes through the native SquaredDistances kernel
    // (a codegen LOOP over the referenced centroid matrix): one array of
    // nLists coarse distances, and per subspace one array of pqK sub-
    // distances — which on the query side IS the ADC lookup table.
    // Unrolled literal chains here blow Janino's method limit and drop
    // the scan to interpreted mode (measured 10 s vs 0.9 s at sf0.1).

    // corpus → (neighbor_id, cell, c0..c{m-1}): the index artifact —
    // ONE map-only codegen pass, no shuffle; in production it persists
    // bucketed by cell, exactly like the dedup signature table.
    val assigned = corpus
      .withColumn("gd", SquaredDistances(col(vecCol), coarse))
      .select(col(idCol).as("neighbor_id") +:
        argminIdx(col("gd")).as("cell") +:
        (0 until m).map(mi =>
          argminIdx(SquaredDistances(slice(col(vecCol), mi * sub + 1, sub),
            cents(mi))).as(s"c$mi")): _*)

    // probed (query, cell) rows + the m ADC lookup arrays per row;
    // tiny (|queries|·nProbe) and broadcast.
    val probed = broadcast(probeCells(queries, idCol, vecCol, coarse, nProbe)
      .select(col("query_id") +: col("cell") +:
        (0 until m).map(mi =>
          SquaredDistances(slice(col("qv"), mi * sub + 1, sub), cents(mi))
            .as(s"adc_$mi")): _*))

    adcTopK(assigned, probed, m, k)
  }

  /** ANN quality certification: recall@k of an approximate result
    * against the brute-force ground truth — the metric every ANN
    * deployment tracks (probe/band geometry is tuned against it).
    * Inputs are (query_id, neighbor_id, …, rank ≤ k) frames; output is
    * one row per query: hits and recall = |approx ∩ exact| / k.
    *
    * Scale shape: both sides are already top-k-bounded (k·|queries|
    * rows), so the semi join and count are tiny regardless of corpus
    * size; ground truth over a SAMPLE of queries is how recall is
    * measured at 100 TB (brute force over the sample, approx over all). */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 4)
          .as("recall"))
  }

  /** RESIDUAL-encoded IVF-PQ — the exact FAISS `IndexIVFPQ` semantics:
    * PQ encodes `v − centroid[cell]` rather than the raw vector, so the
    * sub-quantizers only carry within-cell variation (substantially
    * better recall at the same code budget), and the query's ADC tables
    * are built per PROBED CELL from `q − centroid[cell]`.
    *
    * Same scale shape as [[ivfPqTopK]]: the index build is one map-only
    * codegen pass (coarse distances via the native [[SquaredDistances]]
    * kernel; the residual is a zip_with over the broadcast-literal
    * centroid row for the assigned cell), the query side is nProbe rows
    * per query each carrying its cell's ADC arrays, and the join moves
    * only probed cells. Every value is reproducible from the frozen
    * literals — hash-checked end to end. */
  def ivfPqTopKResidual(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nLists: Int = 16,
                        nProbe: Int = 4, m: Int = 8, pqK: Int = 16,
                        dim: Int = 64): DataFrame = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val sub = dim / m
    val coarse = ivfCentroids(nLists, dim)
    val cents = pqCentroids(m, pqK, sub)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    def residual(v: Column, cell: Column): Column =
      zip_with(v, element_at(coarseLit, cell + 1), (x, c) => x - c)

    // corpus → (neighbor_id, cell, residual PQ codes): one map pass.
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", argminIdx(SquaredDistances(col("cv"), coarse)))
      .withColumn("rv", residual(col("cv"), col("cell")))
      .select(col("neighbor_id") +: col("cell") +:
        (0 until m).map(mi =>
          argminIdx(SquaredDistances(slice(col("rv"), mi * sub + 1, sub),
            cents(mi))).as(s"c$mi")): _*)

    // probed (query, cell) rows; the residual (and so the ADC arrays)
    // is PER CELL, computed after the probe explode.
    val probed = broadcast(probeCells(queries, idCol, vecCol, coarse, nProbe)
      .withColumn("rq", residual(col("qv"), col("cell")))
      .select(col("query_id") +: col("cell") +:
        (0 until m).map(mi =>
          SquaredDistances(slice(col("rq"), mi * sub + 1, sub), cents(mi))
            .as(s"adc_$mi")): _*))

    adcTopK(assigned, probed, m, k)
  }

  /** Full-dim coarse centroid c(ki)(j) in [-1, 1]: md5-derived plan
    * literals (the srpPlanes/pqCentroids recipe) — deterministic and
    * engine-portable. Production trains these with k-means on a corpus
    * sample; every downstream expression is identical either way. */
  def semCentroids(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim) { (ki, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"sem|$ki|$j".getBytes("UTF-8"))
        .take(3).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 8388608.0 - 1.0
    }

  /** SemDeDup (semantic dedup over embedding clusters, after Abbas et al.
    * 2023, arXiv:2303.09540): a coarse quantizer partitions the corpus
    * into k cells; within each cell, pairs with cosine >= threshold are
    * semantic duplicates, and each such pair DROPS the member closer to
    * its centroid (the farther one is the more "extreme"/informative
    * exemplar the paper keeps; ties drop the larger id). Returns every
    * vector: (id, cell, dist = rounded squared distance to centroid,
    * keep).
    *
    * Scale shape: cell assignment is a map-side projection over literal
    * centroids (one fused codegen pass, same as [[pqCodes]]); pair
    * formation is per-cell posting lists — candidate volume is bounded by
    * cell occupancy, never corpus², and cells from a real quantizer are
    * balanced by construction. The keep-policy is one distinct + one
    * left join on the (small) drop set. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, k: Int = 8, dim: Int = 64): DataFrame = {
    val cents = semCentroids(k, dim)
    // distance kernel: the native SquaredDistances loop — bit-identical
    // to the oracle's left-associative chains (see the expression's
    // contract), constant generated-code size, stays in codegen.
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("gd", SquaredDistances(col("v"), cents))
    // argmin: first index of the array min (lowest index on ties, the
    // oracle's first-match CASE semantics).
    val dmin = array_min(col("gd"))
    val cell = (array_position(col("gd"), dmin) - 1).cast("int")
    // The assignment table is persisted: it feeds both the pair stage and
    // the final labeling join, and re-deriving it would run the k×dim
    // distance chains twice. It is tiny — (id, cell, dist) plus the vector
    // — and at 100 TB it is exactly the artifact you checkpoint and reuse
    // across runs (like the minhash signature table).
    val assigned = base.select(col("id"), col("v"), cell.as("cell"), dmin.as("dist"))
      .persist()
    // Within-cell pairs via SELF-JOIN on the cell id — not posting lists:
    // with the assignment table persisted, the join reads it twice for
    // free, and the whole pair pipeline (join, a<b filter, cosine,
    // loser CASE) runs in whole-stage codegen. A posting-list expansion
    // was measured 3-10× slower here: cosine inside a nested transform
    // lambda evaluates interpreted, and carrying vectors through the
    // per-cell pair array materializes it in one giant array value per
    // cell. At 100 TB the same join runs shuffle-partitioned on the cell
    // key (k grows with the corpus, keeping cells balanced), exactly like
    // the incremental-dedup bucket join. Each qualifying pair emits its
    // LOSER (nearer to centroid).
    val l = assigned.select(col("id").as("a"), col("cell"),
      col("dist").as("da"), col("v").as("va"))
    val r = assigned.select(col("id").as("b"), col("cell"),
      col("dist").as("db"), col("v").as("vb"))
    val drops = l.join(r, Seq("cell")).where(col("a") < col("b"))
      .where(cosine(col("va"), col("vb")) >= threshold)
      .select(when(col("da") < col("db"), col("a"))
        .when(col("db") < col("da"), col("b"))
        .otherwise(greatest(col("a"), col("b"))).as("id"))
      .distinct()
    assigned
      .join(drops.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        round(col("dist"), 4).as("dist"), col("__dropped").isNull.as("keep"))
  }

  /** [[semDedup]] with a HOT-CELL kill-switch: cells whose occupancy
    * exceeds `maxCell` are sub-partitioned by SRP-LSH bits before pair
    * formation — ADAPTIVELY, each cell splitting just enough
    * (`subBits = ceil(log2(ceil(n_cell / maxCell)))`, capped at
    * `maxSubBits`) that its pair work stays ~`maxCell²`-bounded.
    *
    * Why: a real corpus never lands balanced on a fixed quantizer — the
    * SCALECURVE run measured the plain per-cell self-join at 25× data
    * going 250-500× slower because the LARGEST cell is quadratic and
    * single-task. Cells at or under the cap are untouched (subBits = 0 →
    * every member in sub-bucket 0), so semantics degrade — same-cell
    * pairs split across sub-buckets go uncompared — ONLY where the exact
    * scan is computationally impossible, the same contract as
    * [[graft.ops.Dedup.bandedStarEdges]] for the dup graph and the SRP
    * bucketing in [[embeddingNearDupPairs]]. The sub-bucket key also
    * spreads the hot cell across `2^subBits` shuffle tasks instead of
    * one straggler.
    *
    * KNOB SIZING LAW (measured, SCALING.md 625× tier): the per-cell
    * bound holds only while `ceil(n_cell / maxCell) <= 2^maxSubBits` —
    * once the cap SATURATES, each (cell, sub) bucket holds
    * `n_cell / 2^maxSubBits` members and pair work turns quadratic
    * again (pinned maxSubBits = 4 measured 1925× at 625× data; the
    * capacity-scaled knobs measured 47× on the same tier). Size
    * `maxSubBits >= log2(ceil(maxCellPopulation / maxCell))` for the
    * deployment corpus — knobs are capacity parameters, not constants.
    *
    * The split arithmetic is INTEGER-exact (ceil-div + binary length,
    * never a float log2) so an oracle on another engine reproduces the
    * bucketing bit-for-bit at power-of-two boundaries. */
  def semDedupCapped(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, k: Int = 8, dim: Int = 64,
                     maxCell: Int = 1024, maxSubBits: Int = 8,
                     headroomBits: Int = 0): DataFrame = {
    val cents = semCentroids(k, dim)
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("gd", SquaredDistances(col("v"), cents))
    val dmin = array_min(col("gd"))
    val cell = (array_position(col("gd"), dmin) - 1).cast("int")
    // persisted BEFORE the size join: sizes + the sub-bucketed frame both
    // derive from it, and the k×dim distance chain must run once.
    val assigned = base.select(col("id"), col("v"), cell.as("cell"), dmin.as("dist"))
      .persist()
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    // q = ceil(n_cell / maxCell); subBits = bits(q-1) = ceil(log2 q),
    // plus the caller's headroom (extra SRP planes on cells that split
    // at all — planes split by sign, not exactly in half, so the
    // no-headroom split leaves the expected-imbalance tail above the
    // bound; cells under maxCell never split and take no headroom),
    // capped at maxSubBits.
    val q = floor((col("n_cell") + lit(maxCell - 1)) / lit(maxCell)).cast("long")
    val subBits = when(q <= 1, lit(0))
      .otherwise(least(lit(maxSubBits),
        length(conv(q - 1, 10, 2)) + lit(headroomBits)))
    val sub = pmod(srpBucket(col("v"), maxSubBits, dim),
      pow(lit(2.0), subBits).cast("long"))
    val keyed = assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("sub", sub)
    val l = keyed.select(col("id").as("a"), col("cell"), col("sub"),
      col("dist").as("da"), col("v").as("va"))
    val r = keyed.select(col("id").as("b"), col("cell"), col("sub"),
      col("dist").as("db"), col("v").as("vb"))
    val drops = l.join(r, Seq("cell", "sub")).where(col("a") < col("b"))
      .where(cosine(col("va"), col("vb")) >= threshold)
      .select(when(col("da") < col("db"), col("a"))
        .when(col("db") < col("da"), col("b"))
        .otherwise(greatest(col("a"), col("b"))).as("id"))
      .distinct()
    assigned
      .join(drops.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        round(col("dist"), 4).as("dist"), col("__dropped").isNull.as("keep"))
  }

  /** [[semDedupCapped]] with `maxSubBits` DERIVED from the corpus — the
    * productized fix for the 625× knob-saturation catch (SCALING.md):
    * one setup-time aggregate measures the HOTTEST cell's population and
    * the sizing law (`subBits = ceil(log2(ceil(maxCellPop / maxCell)))`)
    * picks exactly enough SRP planes that the per-(cell, sub) pair bound
    * can never saturate, whatever the corpus size or quantizer balance.
    * The one collect is a single row at pipeline-setup time (the bloom
    * build / broadcast-threshold pattern), never per-row work. Headroom:
    * `headroomBits = 1` adds one SRP plane to every cell that splits at
    * all (planes split by sign, not exactly in half — the extra plane
    * absorbs the expected imbalance), and `maxSubBits` carries the same
    * +1 so the cap cannot swallow the headroom on the hottest cell. */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, k: Int = 8, dim: Int = 64,
                   maxCell: Int = 1024): DataFrame = {
    val cents = semCentroids(k, dim)
    val maxCellPop = Option(df
      .select(asDouble(col(vecCol)).as("v"))
      .withColumn("gd", SquaredDistances(col("v"), cents))
      .select((array_position(col("gd"), array_min(col("gd"))) - 1).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).get(0)) // empty corpus → NULL max
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    semDedupCapped(df, idCol, vecCol, threshold, k, dim, maxCell,
      maxSubBits = requiredSubBits(maxCellPop, maxCell) + 1,
      headroomBits = 1)
  }

  /** The sizing law alone: smallest subBits with
    * `ceil(maxCellPop / maxCell) <= 2^subBits`. */
  def requiredSubBits(maxCellPop: Long, maxCell: Int): Int = {
    require(maxCellPop >= 0 && maxCell > 0, "need maxCellPop >= 0, maxCell > 0")
    val q = (maxCellPop + maxCell - 1) / maxCell
    if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
  }

  /** Embedding near-duplicate pairs: all (a < b) with cosine >= threshold,
    * bucketed by SRP-LSH so the pair space never materializes fully.
    * Pairs expand from per-bucket posting lists (a self-join would compute
    * every bucket id twice — Catalyst does not reuse the subplan). */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nBits: Int = 6, dim: Int = 64): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", srpBucket(col("v"), nBits, dim))
    v.groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("items"))
      .where(size(col("items")) >= 2)
      // struct ordering sorts by id first → every pair has a < b.
      .select(explode(flatten(transform(col("items"), (a, i) =>
        transform(
          slice(col("items"), i + lit(2), greatest(size(col("items")) - i - 1, lit(0))),
          b => struct(a.getField("id").as("a"), b.getField("id").as("b"),
            cosine(a.getField("v"), b.getField("v")).as("sim")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.sim").as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Exact fixed-point Gram matrix G = XᵀX (upper triangle, 0-based
    * (i, j), i ≤ j) over round(x·2²⁰) BIGINT coordinates — the one
    * corpus pass that feeds every downstream spectral step (PCA,
    * whitening, ridge normal equations) with a dim²-sized table.
    * Products are LONG-safe (≤2⁴²); sums accumulate as DECIMAL(38,0)
    * (the dimStats overflow lesson: BIGINT wraps past ~2⁵³/2⁴² rows).
    * Scale shape: map-side pair explode (dim²/2 per row) into a
    * hash-agg with dim(dim+1)/2 groups — partials combine map-side, the
    * shuffle moves group-count rows per task, never corpus rows. */
  /** Exact average pairwise cosine of the WHOLE corpus in one scan —
    * the dataset-card embedding-diversity number (a collapsing corpus
    * drifts toward 1; a healthy multi-domain mix sits low). The n²
    * pair space never materializes: on unit vectors Σ_{i≠j} cos(i,j)
    * = ‖Σv̂‖² − n, so with the fixed-point quantization q = round(v̂·2²⁰)
    * the whole statistic is (Σ_d S_d² − Σ‖q‖²) / (n(n−1)·2⁴⁰) — per-dim
    * sums S_d and the norm sum are ONE aggregate over the exploded
    * dims, all DECIMAL(38,0)-exact until a single rounded division.
    *
    * Portability: sqrt is IEEE exact-rounded (unlike ln), so the
    * normalize-then-quantize step replays bit-for-bit cross-engine.
    *
    * Scale shape: one corpus scan → dim-row aggregate; no pair join,
    * no shuffle beyond the dim-keyed hash-agg. (Denominator builds as
    * n(n−1)·dim in BIGINT — overflow-safe to n ≈ 5·10⁸; past that,
    * lift it to double one factor earlier on both sides.) */
  def avgPairwiseCosine(emb: DataFrame, vecCol: String, dim: Int,
                        scale: Long = 1L << 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // quantization stays IN SPARK (identical round/filter semantics to
    // the original); only the dim×N posexplode → groupBy(i) is replaced
    // by a per-partition integer fold (the gramFixedPoint shape): each
    // partition accumulates the dim component sums, the rowsq sum, and
    // the row count, with the overflow-escalation fast path keeping
    // partials exact at any partition size. Exact string partials sum
    // as DECIMAL, so every downstream value is bit-identical.
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = emb.where(size(col(vecCol)) === dim)
      .select(transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nm", sqrt(aggregate(col("e"), lit(0.0),
        (a, x) => a + x * x)))
      .where(col("nm") > 0)
      .select(transform(col("e"),
        x => round(x / col("nm") * scale).cast("long")).as("qs"))
      .select(aggregate(col("qs"), lit(0L), (a, x) => a + x * x).as("rowsq"),
        col("qs"))
      .as[(Long, Array[Long])]
    val ex = qs.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val sAcc = new Array[Long](dim)
        val sBig = new Array[java.math.BigInteger](dim)
        var rsBig = java.math.BigInteger.ZERO
        var rsAcc = 0L
        var cnt = 0L
        rows.foreach { case (rowsq, q) =>
          var i = 0
          while (i < dim) {
            val s = sAcc(i) + q(i)
            if (((sAcc(i) ^ s) & (q(i) ^ s)) < 0) { // signed overflow
              sBig(i) = (if (sBig(i) == null) java.math.BigInteger.ZERO
                else sBig(i)).add(java.math.BigInteger.valueOf(sAcc(i)))
              sAcc(i) = q(i)
            } else sAcc(i) = s
            i += 1
          }
          val r = rsAcc + rowsq
          if (((rsAcc ^ r) & (rowsq ^ r)) < 0) {
            rsBig = rsBig.add(java.math.BigInteger.valueOf(rsAcc)); rsAcc = rowsq
          } else rsAcc = r
          cnt += 1
        }
        val rs = rsBig.add(java.math.BigInteger.valueOf(rsAcc)).toString
        (0 until dim).iterator.map { i =>
          val sv = (if (sBig(i) == null) java.math.BigInteger.ZERO else sBig(i))
            .add(java.math.BigInteger.valueOf(sAcc(i)))
          (i, sv.toString, rs, cnt)
        }
      }
    }.toDF("i", "ss", "rss", "cnt")
    ex.groupBy(col("i"))
      .agg(sum(col("ss").cast(dec)).as("s"),
        sum(col("rss").cast(dec)).as("rs"), sum(col("cnt")).as("cnt"))
      .agg(sum(col("s") * col("s")).as("s2"), sum(col("rs")).as("rsd"),
        max(col("cnt")).as("n"))
      .select(col("n"),
        TimeSeries.portableRound6(
          (col("s2") * dim - col("rsd")).cast("double") /
            ((col("n") * (col("n") - 1L) * dim.toLong).cast("double") *
              lit((scale.toDouble * scale) )))
          .as("avg_cos"))
  }

  def gramFixedPoint(emb: DataFrame, vecCol: String, dim: Int,
                     scale: Long = 1L << 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // PER-PARTITION imperative accumulation (genuinely non-Catalyst —
    // a dense dim²/2 accumulator updated 2080× per row has no
    // declarative shape that isn't an explode): each partition folds
    // its rows into one long[] triangle (multiply-add only; products
    // are ≤2⁴², and the Hacker's-Delight overflow check escalates a
    // cell to BigInteger on the ~never path, so the partial stays EXACT
    // at any partition size), then emits dim²/2 exact integer partials
    // which sum as DECIMAL(38,0) — identical values to the previous
    // posexplode form, which materialized |corpus|·dim²/2 (idx, p) rows
    // through a hash-agg (104 M rows at sf0.1; 2.1 → ~0.6 s). Partials
    // travel as STRINGS so no intermediate decimal precision is chosen
    // by an encoder. The (idx → i, j) map joins back broadcast onto the
    // dim²/2-row result.
    val spark = emb.sparkSession
    import spark.implicits._
    val tri = dim * (dim + 1) / 2
    val idxMap = broadcast(spark.createDataFrame(
      (for (i <- 0 until dim; j <- i until dim)
        yield (i * dim - i * (i - 1) / 2 + (j - i), i, j)).toSeq)
      .toDF("idx", "i", "j"))
    val partials = emb.where(size(col(vecCol)) === dim)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * scale).cast("long")).as("xs"))
      .as[Array[Long]]
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          val acc = new Array[Long](tri)
          val big = new Array[java.math.BigInteger](tri)
          rows.foreach { a =>
            var i = 0
            var idx = 0
            while (i < dim) {
              val xi = a(i)
              var j = i
              while (j < dim) {
                val p = xi * a(j)
                val s = acc(idx) + p
                if (((acc(idx) ^ s) & (p ^ s)) < 0) { // signed overflow
                  big(idx) = (if (big(idx) == null) java.math.BigInteger.ZERO
                    else big(idx))
                    .add(java.math.BigInteger.valueOf(acc(idx)))
                  acc(idx) = p
                } else acc(idx) = s
                idx += 1; j += 1
              }
              i += 1
            }
          }
          (0 until tri).iterator.map { k =>
            val v = (if (big(k) == null) java.math.BigInteger.ZERO else big(k))
              .add(java.math.BigInteger.valueOf(acc(k)))
            (k, v.toString)
          }
        }
      }
      .toDF("idx", "gs")
    partials
      .groupBy(col("idx"))
      .agg(sum(col("gs").cast(dec)).as("g"))
      .join(idxMap, "idx")
      .select(col("i"), col("j"), col("g"))
  }

  /** Dominant principal direction by POWER ITERATION on the Gram table,
    * in exact integer arithmetic so the result hash-checks: v₀ = 1⃗·2²⁰;
    * each round y = G·v (a dim²-row join + dim-group aggregate — the
    * corpus is NOT touched again), then v ← trunc(y·2²⁰ / max|y|)
    * (truncation toward zero via `a - a % m`, the %-semantics both
    * engines share for signed values — never pmod, whose floor differs
    * on negatives). Returns (i, v_scaled): the top PC at 2²⁰ scale, the
    * dominant nuisance direction embedding-whitening removes (Mu &
    * Viswanath 2018, all-but-the-top). */
  def topPcFixedPoint(gram: DataFrame, dim: Int, iters: Int = 3,
                      scale: Long = 1L << 20): DataFrame =
    powerLoop(symGram(gram), dim, iters, scale)
      .select(col("j").as("i"), col("v").cast("long").as("v_scaled"))

  /** Symmetrized Gram, lineage-cut: consumed once PER power-iteration
    * round — without the checkpoint the corpus gram subtree re-executes
    * ~2·iters times (measured: emb_abtt 4.6 → 1.7 s at sf0.1). */
  private def symGram(gram: DataFrame): DataFrame =
    gram.select(col("i"), col("j"), col("g"))
      .unionAll(gram.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
      .localCheckpoint()

  /** The integer power-iteration loop on a symmetrized Gram: v₀ = 1⃗·2²⁰,
    * each round y = G·v then v ← trunc(y·2²⁰ / max|y|). Returns (j, v)
    * at DECIMAL(38,0); each round's y is lineage-cut (max-abs + rescale
    * both consume it). */
  private def powerLoop(full: DataFrame, dim: Int, iters: Int,
                        scale: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = full.sparkSession
    var v = spark.range(dim).select(col("id").cast("int").as("j"),
      lit(scale).cast(dec).as("v"))
    for (_ <- 1 to iters) {
      val y = full.join(v, "j")
        .groupBy(col("i")).agg(sum(col("g") * col("v")).as("y"))
        .localCheckpoint()
      val m = y.agg(max(abs(col("y"))).as("m"))
      v = y.crossJoin(broadcast(m)).select(col("i").as("j"),
        (((col("y") * scale) - ((col("y") * scale) % col("m"))) / col("m"))
          .cast(dec).as("v"))
    }
    v
  }

  /** SECOND principal direction by projection-deflated power iteration
    * — the one more direction all-but-the-top-style whitening usually
    * wants (Mu & Viswanath remove the top handful, not just one).
    * The top PC v₁ comes from the shared [[powerLoop]]; the second
    * loop orthogonalizes against v₁ after the init and after every
    * matvec: x ← x − v₁·trunc(v₁ᵀx / v₁ᵀv₁) — the projection
    * coefficient uses the engine-shared dividend-signed trunc division,
    * so the whole trajectory is exact integer arithmetic an oracle
    * replays bit for bit (the same discipline as the first loop, one
    * extra dot + correction per round). Both loops run on ONE
    * symmetrized-Gram checkpoint: the corpus is still scanned once.
    * Magnitudes stay DECIMAL(38,0)-safe: y ≲ dim·max|G|·2²⁰ and the
    * deflation dot adds another ×dim·2²⁰ — ~10³¹ at fixture scale,
    * ~10³⁷ at 10¹²-row corpora, inside both engines' 38-digit width. */
  def secondPcFixedPoint(gram: DataFrame, dim: Int, iters: Int = 3,
                         scale: Long = 1L << 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val full = symGram(gram)
    val w = powerLoop(full, dim, iters, scale)
      .select(col("j"), col("v").as("w"))
      .localCheckpoint() // dim rows; two consumers per deflation round
    val q = broadcast(w.agg(sum(col("w") * col("w")).as("q")))
    def orth(x: DataFrame, vCol: String): DataFrame = {
      val d = x.join(w, "j")
        .agg(sum(col(vCol) * col("w")).as("d"))
      x.join(w, "j").crossJoin(broadcast(d)).crossJoin(q)
        .select(col("j"),
          (col(vCol) - ((col("d") - (col("d") % col("q"))) / col("q"))
            .cast(dec) * col("w")).as("v"))
    }
    val spark = gram.sparkSession
    var x = orth(spark.range(dim).select(col("id").cast("int").as("j"),
      lit(scale).cast(dec).as("v")), "v")
    for (_ <- 1 to iters) {
      val y = full.join(x, "j")
        .groupBy(col("i")).agg(sum(col("g") * col("v")).as("y"))
      val o = orth(y.select(col("i").as("j"), col("y")), "y")
        .localCheckpoint() // max-abs + rescale both consume it
      val m = o.agg(max(abs(col("v"))).as("m"))
      x = o.crossJoin(broadcast(m)).select(col("j"),
        (((col("v") * scale) - ((col("v") * scale) % col("m"))) / col("m"))
          .cast(dec).as("v"))
    }
    x.select(col("j").as("i"), col("v").cast("long").as("v_scaled"))
  }

  /** All-but-the-top applied (Mu & Viswanath 2018): remove the dominant
    * component from every embedding and report the per-vector dot with
    * the top PC before and after — the certificate that the nuisance
    * direction is gone (|after| collapses to trunc-rounding residue,
    * ≤ Σ|vᵢ| at scale, vs |before| in the 2⁴⁰s). Exact integers end to
    * end: dots are sums of 2⁴¹-bounded products (LONG-safe), the
    * projection coefficient uses the shared dividend-signed trunc
    * division, correction terms accumulate as DECIMAL(38,0). The PC
    * table broadcasts as one array row; the corpus is scanned once,
    * zero shuffle. */
  def abttResidualDots(emb: DataFrame, idCol: String, vecCol: String,
                       pc: DataFrame, dim: Int,
                       scale: Long = 1L << 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val varr = pc
      .select(struct(col("i"), col("v_scaled")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("sv"))
      .select(transform(col("sv"), s => s.getField("v_scaled")).as("varr"))
    val xs = emb.where(size(col(vecCol)) === dim).select(col(idCol),
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long")).as("xs"))
    xs.crossJoin(broadcast(varr))
      .withColumn("vv", aggregate(col("varr"), lit(0L), (a, v) => a + v * v).cast(dec))
      .withColumn("db",
        aggregate(zip_with(col("xs"), col("varr"), (x, v) => x * v),
          lit(0L), (a, p) => a + p))
      .withColumn("corr", aggregate(col("varr"), lit(0).cast(dec), (a, v) => {
        val t = col("db").cast(dec) * v
        a + ((t - (t % col("vv"))) / col("vv")).cast(dec) * v
      }))
      .select(col(idCol), col("db").as("dot_before"),
        (col("db").cast(dec) - col("corr")).cast("long").as("dot_after"))
  }

  /** Cluster-capped diversity sampling (the DataComp-style "balanced
    * subset" selector): assign every vector to its nearest coarse-quantizer
    * cell (the [[semDedup]] assignment, same [[semCentroids]] literals),
    * then keep at most `cap` members per cell, chosen by a deterministic
    * md5 draw — a size-`cap·k` subset whose CELL distribution is flat
    * regardless of how skewed the corpus is. Uniform sampling preserves
    * the skew (the majority cluster stays the majority); capping per cell
    * is the standard cure when the goal is coverage, not representation.
    *
    * Scale: cell assignment is the zero-shuffle [[SquaredDistances]]
    * projection; the per-cell pick is `row_number <= cap`, which Spark
    * rewrites to WindowGroupLimit — each map task keeps only its local
    * top-`cap` per cell BEFORE the exchange, so the shuffle carries
    * O(cap · k · tasks) rows, never the corpus. The draw hashes the id,
    * not the position, so the sample is stable under repartitioning and
    * reproducible on any engine. */
  def clusterCapSample(df: DataFrame, idCol: String, vecCol: String,
                       cap: Int, k: Int = 8, dim: Int = 64): DataFrame = {
    val cents = semCentroids(k, dim)
    val gd = SquaredDistances(asDouble(col(vecCol)), cents)
    val assigned = df
      .withColumn("__gd", gd)
      .withColumn("cell",
        (array_position(col("__gd"), array_min(col("__gd"))) - 1).cast("int"))
      .withColumn("__u", substring(md5(col(idCol).cast("string")), 1, 8))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("__u").asc, col(idCol).asc)
    assigned
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= cap)
      .select(col(idCol), col("cell"), col("rk"))
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) — the
    * diversity-aware top-k used to build retrieval-augmented contexts and
    * few-shot example sets, where k near-identical passages waste the
    * budget that k complementary ones would spend well. Greedy: seed with
    * the most relevant candidate, then repeatedly take
    * `argmax(relWeight·sim(q,c) − divWeight·max_{s∈selected} sim(c,s))`.
    *
    * Structure at scale: the expensive part is candidate generation
    * ([[bruteForceTopK]] — swap in the IVF path for a big corpus); the
    * greedy loop then runs on `|queries|·nCand` rows through `k-1` tiny
    * self-joins (the selected side is ≤ k vectors per query, carried as a
    * collected list), each a broadcast-sized step — the corpus is never
    * touched again. All scoring is the same fused cosine kernel as the
    * candidate stage, and ties break on neighbor id, so the selection is
    * bit-deterministic and engine-exact. `relWeight`/`divWeight` are
    * passed separately (not λ and 1−λ) so both literals survive
    * bit-for-bit into any re-implementation — `1−0.7` is not `0.3` in
    * binary. Output: (query_id, neighbor_id, sim, step) with step = the
    * greedy pick order 1..k. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCand: Int,
                relWeight: Double = 0.7, divWeight: Double = 0.3): DataFrame = {
    // Candidate generation is the scale-heavy stage and stays fully
    // distributed. The GREEDY stage is inherently sequential in k and
    // its whole state is the candidate set — ≤ |queries|·nCand rows by
    // construction (broadcast-bounded; the bloom-build / BPE-merge
    // bounded-collect precedent) — so it runs DRIVER-SIDE in one pass:
    // the previous formulation expressed each greedy step as a fresh
    // join/window plan unioned onto all prior steps, so step t
    // re-planned and re-executed steps 1..t−1 (k−1 jobs of recompiled
    // lineage — 3.0 s of pure orchestration at sf0.1 for 12-row
    // candidate sets; 0.4 s collected). Scoring replicates the native
    // cosine kernel's exact operation order, so the selection is
    // bit-identical to the distributed form and the oracle hash is
    // unchanged.
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, nCand)
      .join(vecs, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3).toArray))
    // the CosineSimilarity kernel verbatim: one pass, denom as
    // sqrt(na)·sqrt(nb), NaN-free inputs by construction
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) Double.NaN else dot / denom
    }
    // Spark DESC ordering over the score window: nulls LAST, NaN
    // greatest among non-nulls, ties break neighbor_id ASC. A null
    // score arises only when EVERY selected-side cosine is null (all
    // zero-norm — unreachable on real embeddings, mirrored anyway).
    def beats(s1: Option[Double], id1: Long,
              s2: Option[Double], id2: Long): Boolean = (s1, s2) match {
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case (a, b) =>
        val (x, y) = (a.getOrElse(0.0), b.getOrElse(0.0))
        if (a.isEmpty && b.isEmpty) id1 < id2
        else if (x.isNaN != y.isNaN) x.isNaN // Spark: NaN sorts greatest
        else if (x != y) x > y
        else id1 < id2
    }
    val picks = cand.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      var remaining = cs.map(c => (c._2, c._3, c._4)).toVector
      var selected = Vector.empty[(Long, Double, Array[Double], Int)]
      for (t <- 1 to math.min(k, remaining.size + selected.size)) {
        val scored = remaining.map { case (id, sim, cv) =>
          val score: Option[Double] =
            if (t == 1) Some(sim)
            else {
              // array_max semantics: nulls (NaN sentinel from cos)
              // are skipped; an all-null list gives a null max
              val sims = selected.map(s => cos(cv, s._3)).filterNot(_.isNaN)
              if (sims.isEmpty) None
              else Some(relWeight * sim - divWeight * sims.max)
            }
          (id, sim, cv, score)
        }
        if (scored.nonEmpty) {
          val best = scored.reduce((a, b) =>
            if (beats(a._4, a._1, b._4, b._1)) a else b)
          selected :+= ((best._1, best._2, best._3, t))
          remaining = remaining.filterNot(_._1 == best._1)
        }
      }
      selected.map(s => (q, s._1, s._2, s._4))
    }
    import spark.implicits._
    picks.toDF("query_id", "neighbor_id", "sim", "step")
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("step"))
  }
}
