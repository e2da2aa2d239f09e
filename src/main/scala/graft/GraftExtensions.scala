package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.CosineSimilarity

/** Engine extensions: registers the native expressions as SQL functions so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")` works anywhere the
  * DataFrame API does. Install with
  * `.withExtensions(new GraftExtensions)` on the session builder, or
  * `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimilarity)
    ext.injectFunction(GraftExtensions.sortedJaccard)
    ext.injectFunction(GraftExtensions.multisetIntersect)
    ext.injectFunction(GraftExtensions.sortedArrayContains)
    ext.injectFunction(GraftExtensions.wordShingles)
    ext.injectFunction(GraftExtensions.ngramClip)
    ext.injectFunction(GraftExtensions.charBigramClip)
    ext.injectFunction(GraftExtensions.hilbertIndex)
    ext.injectFunction(GraftExtensions.lcsLength)
    ext.injectFunction(GraftExtensions.tokenEditDistance)
    ext.injectFunction(GraftExtensions.gopherRepetition)
    ext.injectFunction(GraftExtensions.poissonDrawWeights)
    ext.injectFunction(GraftExtensions.squaredDistances)
    ext.injectFunction(GraftExtensions.kmvDistinct)
    GraftExtensions.composites.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftcompat.ColumnCompat

  /** A SQL function registration: name, doc and expression builder. */
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[CosineSimilarity].getCanonicalName, null, name,
      usage, "", "", "", "", "", "", "built-in")

  /** A native expression's registration; the builder checks the argument
    * count first. */
  private def native(name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Fn =
    (FunctionIdentifier(name), info(name, usage), (exprs: Seq[Expression]) => {
      require(exprs.length == arity, s"$name takes exactly $arity arguments")
      build(exprs)
    })

  val cosineSimilarity: Fn = native("cosine_similarity", 2,
    "_FUNC_(a, b) - cosine similarity of two array<double> vectors (codegen)")(
    e => CosineSimilarity(e.head, e(1)))

  val sortedJaccard: Fn = native("sorted_jaccard", 2,
    "_FUNC_(a, b) - jaccard of two sorted distinct array<bigint> sets (codegen)")(
    e => graft.functions.SortedJaccard(e.head, e(1)))

  val multisetIntersect: Fn = native("multiset_intersect", 2,
    "_FUNC_(a, b) - clipped match count of two sorted array<bigint> multisets (codegen)")(
    e => graft.functions.MultisetIntersect(e.head, e(1)))

  val sortedArrayContains: Fn = native("sorted_array_contains", 2,
    "_FUNC_(arr, key) - binary-search membership in a sorted array<string> (codegen)")(
    e => graft.functions.SortedArrayContains(e.head, e(1)))

  private def litInt(e: Expression, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$arg must be an int literal")
  }

  val wordShingles: Fn = native("word_shingles", 2,
    "_FUNC_(text, w) - w-token space-joined shingles, one split per row (codegen)")(
    e => graft.functions.WordShingles(e.head, litInt(e(1), "w")))

  val ngramClip: Fn = native("ngram_clip", 3,
    "_FUNC_(cand, ref, n) - clipped word-n-gram overlap of two token arrays (codegen)")(
    e => graft.functions.NgramClip(e.head, e(1), litInt(e(2), "n")))

  val charBigramClip: Fn = native("char_bigram_clip", 2,
    "_FUNC_(cand, ref) - clipped character-bigram overlap (the chrF kernel, codegen)")(
    e => graft.functions.CharBigramClip(e.head, e(1)))

  val hilbertIndex: Fn = native("hilbert_index", 3,
    "_FUNC_(x, y, bits) - 2-D Hilbert curve index for layout clustering (codegen)")(
    e => graft.functions.HilbertIndex(e.head, e(1), litInt(e(2), "bits")))

  val lcsLength: Fn = native("lcs_length", 2,
    "_FUNC_(cand, ref) - longest-common-subsequence length of two token arrays (the ROUGE-L kernel, codegen)")(
    e => graft.functions.LcsLength(e.head, e(1)))

  val tokenEditDistance: Fn = native("token_edit_distance", 2,
    "_FUNC_(cand, ref) - token-level Levenshtein distance of two token arrays (the WER kernel, codegen)")(
    e => graft.functions.TokenEditDistance(e.head, e(1)))

  val gopherRepetition: Fn = native("gopher_repetition", 2,
    "_FUNC_(text, dupW) - Gopher within-doc repetition stats struct " +
      "(top-bigram/trigram fraction, duplicated-dupW-gram coverage; codegen)")(
    e => graft.functions.GopherRepetition(e.head, litInt(e(1), "dupW")))

  val poissonDrawWeights: Fn = native("poisson_draw_weights", 2,
    "_FUNC_(key, b) - deterministic per-key Poisson(1) bootstrap draw counts for b resamples (codegen)")(
    e => graft.functions.PoissonDrawWeights(e.head, litInt(e(1), "b")))

  val squaredDistances: Fn = native("squared_distances", 2,
    "_FUNC_(vec, centroids) - squared L2 distance to each row of a " +
      "FOLDABLE array<array<double>> centroid matrix (codegen)") { exprs =>
      val cents = exprs(1) match {
        case c if c.foldable =>
          // route through a Cast so the natural SQL spelling
          // array(array(0.1, 0.2)) — which parses as DECIMAL literals —
          // reads as doubles instead of dying in toDoubleArray with an
          // opaque ClassCastException
          import org.apache.spark.sql.types.{ArrayType, DoubleType}
          val asDoubles = org.apache.spark.sql.catalyst.expressions.Cast(
            c, ArrayType(ArrayType(DoubleType)))
          require(asDoubles.resolved && asDoubles.checkInputDataTypes().isSuccess,
            s"centroids must be numeric array<array<...>>, got ${c.dataType.sql}")
          val arr = asDoubles.eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          require(arr != null, "centroid matrix must not be null")
          (0 until arr.numElements()).map { i =>
            val row = arr.getArray(i)
            require(row != null, s"centroid row $i must not be null")
            row.toDoubleArray()
          }.toArray
        case _ => throw new IllegalArgumentException(
          "centroids must be a foldable array<array<double>> literal")
      }
      graft.functions.SquaredDistances(exprs.head, cents)
    }

  /** KMV bottom-k distinct-count sketch as a SQL AGGREGATE — the
    * analyzer wraps a bare AggregateFunction from a registry builder in
    * its AggregateExpression, so `SELECT kmv_distinct(hash, 1024)`
    * works. Takes a pre-hashed LONG (the [[graft.functions.KmvDistinct]]
    * contract — pair with the engine's md5-derived hash, e.g.
    * `CAST(conv(substring(md5(...), 1, 8), 16, 10) AS BIGINT)`, to
    * reproduce `KmvDistinct.onMd5` exactly). */
  val kmvDistinct: Fn = native("kmv_distinct", 2,
    "_FUNC_(hash64, k) - approximate distinct count via the bottom-k (KMV) sketch over a pre-hashed LONG; mergeable, k longs of state per group")(
    e => graft.functions.KmvDistinct(e.head, litInt(e(1), "k")))

  /** Scalar training-data functions exposed to SQL: each is a composition
    * of built-in (codegen'd) expressions, registered by wrapping the
    * Column-level operator — `SELECT lang_id(text) FROM docs` works for
    * pure-SQL users with no DataFrame code. */
  private def composite(name: String, usage: String)(fn: Seq[Column] => Column): Fn =
    (FunctionIdentifier(name), info(name, usage),
      (exprs: Seq[Expression]) =>
        ColumnCompat.resolvedExpression(fn(exprs.map(ColumnCompat.column))))

  val composites: Seq[Fn] = Seq(
    composite("lang_id", "_FUNC_(text) - stopword-profile language guess") {
      case Seq(t) => graft.ops.TextAnalysis.langId(t)
    },
    composite("unit_hash", "_FUNC_(id) - deterministic md5 unit-interval hash") {
      case Seq(id) => graft.ops.CorpusOps.unitHash(id)
    },
    composite("token_count", "_FUNC_(text) - whitespace token count") {
      case Seq(t) => graft.ops.TextAnalysis.tokenCount(t)
    },
    composite("redact_pii", "_FUNC_(text) - email/URL/phone redaction") {
      case Seq(t) => graft.ops.TextAnalysis.redactPii(t)
    },
    composite("repetition_score", "_FUNC_(text) - 1 - distinct-token ratio") {
      case Seq(t) => graft.ops.TextAnalysis.repetitionScore(t)
    },
    composite("rolling_hash", "_FUNC_(text) - polynomial fingerprint mod 1e9+7") {
      case Seq(t) => graft.ops.TextAnalysis.rollingHash(t)
    },
    composite("quality_score",
      "_FUNC_(text) - hashed-logistic quality classifier score in (0,1)") {
      case Seq(t) =>
        import org.apache.spark.sql.functions.{exp, lit}
        val z = graft.ops.TextAnalysis.classifierLogit(t)
        lit(1.0) / (lit(1.0) + exp(-z))
    })
}
