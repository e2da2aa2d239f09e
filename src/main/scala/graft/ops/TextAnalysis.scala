package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * Everything here is pure Catalyst expressions (no UDFs), so the operators
  * stay inside whole-stage codegen and scale as plain projections — the
  * right shape for a 100 TB corpus scan: one pass, no shuffle, column
  * pruning intact.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the corpus is space-delimited). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Subword token count over a BPE-ish alternation (letter runs, digit
    * runs, single punctuation) — RE2-compatible (no lookarounds), so the
    * exact same pattern runs in any engine for verification. */
  def tokenCountSubword(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Tiny per-language stopword profiles for the n-gram/stopword-ratio
    * language heuristic. Real pipelines would ship larger profiles; the
    * mechanism (score per language, argmax) is what matters. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "que"),
    "zh" -> Seq("de", "le", "he", "shi", "zai"))

  /** Stopword hits for one language profile (higher-order filter — still
    * codegen-friendly, no UDF). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val dict = array(words.map(lit): _*)
    size(filter(tokens(text), w => array_contains(dict, w))).cast("long")
  }

  /** Language-ID: argmax of per-language stopword hits, ties broken by
    * profile order (deterministic). */
  def langId(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max picks highest hits, then lexicographically LAST lang on
    // ties; sort order below makes that deterministic ("zh" wins ties).
    array_max(array(scored: _*)).getField("lang")
  }

  /** Quality features: char length, token count, mean token length,
    * space ratio, stopword(en) ratio, upper-char ratio. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    df.withColumn("n_chars_q", length(t).cast("long"))
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        (length(t) - (nTok - 1)).cast("double") / nTok.cast("double"))
      .withColumn("stopword_ratio",
        stopwordHits(t, stopwords("en")).cast("double") / nTok.cast("double"))
  }

  /** Document fingerprint: md5 of the normalized text (lower, trim,
    * collapsed whitespace) — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(to_binary(regexp_replace(lower(trim(text)), "\\s+", " "), lit("utf-8")))

  /** Rolling polynomial fingerprint: fold (acc·31 + byte) mod (1e9+7)
    * over the document's characters — the incremental-hash family used
    * for chunk-level fingerprinting. Expression-only (aggregate HOF) and
    * reproducible in any engine with a list fold. */
  def rollingHash(text: Column): Column =
    aggregate(transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => pmod(acc * 31L + x, lit(1000000007L)))

  /** Repetition score: 1 − distinct-token ratio; near-1 = highly
    * repetitive boilerplate, a standard corpus-quality filter. */
  def repetitionScore(text: Column): Column =
    lit(1.0) - size(array_distinct(tokens(text))).cast("double") /
      size(tokens(text)).cast("double")

  /** Gopher-style WITHIN-doc repetition signals (Rae et al. 2021 §A1.1):
    * per doc, the fraction of n-gram slots occupied by the single most
    * frequent n-gram (n = 2, 3) and the fraction of token positions
    * covered by n-grams that repeat within the doc (w = dupW) —
    * overlapping occurrences count each position once. The standard
    * filter thresholds these to drop templated/boilerplate docs.
    *
    * Shape at 100 TB: every signal is strictly within-doc, so the whole
    * op is ROW-LOCAL — a zero-shuffle projection chain that pipelines
    * with the scan (plan-guarded): the top-n-gram fraction is a
    * longest-equal-run fold over the sorted gram array, and duplicated
    * coverage falls out of sorted-neighbor equality flags. No explodes,
    * no aggregations, no joins. */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
                       dupW: Int = 5): DataFrame = {
    // Every Gopher signal is strictly WITHIN-doc, so the whole op is
    // row-local — and since round 12, ONE native call per row
    // ([[graft.functions.GopherRepetition]]): the previous composable
    // chain (three sorted-gram HOF pipelines sharing a hoisted token
    // array) already had zero shuffles but evaluated interpreted
    // lambdas per gram; the kernel computes identical values (equal-run
    // and duplicate grouping only need equality adjacency, so sort
    // order cannot change them; the divisions are the same
    // exact-int-to-double ratios), 1.7 → ~0.4 s at sf0.1.
    val g = graft.functions.GopherRepetition(col(textCol), dupW)
    docs
      .select(col(idCol), g.as("g"))
      .select(col(idCol),
        round(col("g").getField("top2"), 6).as("top_bigram_frac"),
        round(col("g").getField("top3"), 6).as("top_trigram_frac"),
        round(col("g").getField("dup"), 6).as("dup_ngram_frac"))
  }

  /** Winnowing fingerprint set (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003) as a PURE EXPRESSION: md5 each k-token shingle, slide a
    * w-shingle window, select each window's minimal hash — rightmost
    * occurrence on ties, the paper's density guarantee — and distinct
    * the selections. Returns array<struct<sel_pos:int, fp:string>>.
    *
    * Engine-portable tie-break without arg-min: the window minimum is
    * taken over the STRING `hash ++ '|' ++ zeroPadded(maxPos − pos)` —
    * lexicographic min = (min hash, then max pos); no min_by ambiguity.
    *
    * Because winnowing is strictly per document, the whole selection is
    * row-local — a scan-pipelined projection, NOT a doc-local window
    * sort (which is how [[winnow]] was first built: an explode + sort
    * shuffle that this formulation deletes). Row-local also makes it
    * directly usable on a STREAM (see the decontamination test): winnow
    * each arriving doc, then stream-static join the fingerprints. */
  /** Per-shingle winnowing sortkeys from a (hoisted) TOKEN-ARRAY column:
    * md5 of each k-token shingle with the reversed zero-padded position
    * appended. Takes tokens, not text, so callers hoist `split` into its
    * own projection and the lambda's `slice` reads a cheap attribute —
    * an inline `split(text)` here would re-tokenize the whole doc once
    * PER SHINGLE (O(d²)), and the keys array itself must likewise be
    * hoisted before [[winnowSelections]] or the per-window lambda
    * re-inlines the md5 work (measured 50×, the emb_quantize lesson). */
  /** Sortkey position capacity: shingle positions are encoded reversed
    * zero-padded into the winnowing sortkey, so a document with more
    * positions than this cannot be encoded. Past the cap the subtraction
    * would go negative and lexicographic order would silently corrupt —
    * instead [[winnowKeys]] raises. ~10M shingles is a 40+ MB single-row
    * document; chunk it first if one genuinely exists. */
  val MaxWinnowPositions: Int = 9999999

  def winnowKeys(toks: Column, k: Int = 4,
                 maxPos: Int = MaxWinnowPositions): Column = {
    val width = maxPos.toString.length
    val nPos = size(toks) - (k - 1) // shingle positions 0..nPos-1
    val idxs = when(size(toks) >= k, sequence(lit(0), size(toks) - k))
      .otherwise(array().cast("array<int>"))
    // guard BEFORE encoding: position maxPos is the largest that still
    // zero-pads to `width` digits; beyond it, fail loudly.
    val guarded = when(nPos <= lit(maxPos) + 1, idxs)
      .otherwise(raise_error(concat(
        lit("winnowKeys: document has "), nPos.cast("string"),
        lit(s" shingle positions; the sortkey encodes at most ${maxPos + 1}"
          + " — chunk the document first"))).cast("array<int>"))
    transform(guarded, i =>
      concat(md5(to_binary(concat_ws(" ", slice(toks, i + 1, lit(k))),
          lit("utf-8"))),
        lit("|"), lpad((lit(maxPos) - i).cast("string"), width, "0")))
  }

  /** Distinct winnowing selections from a (hoisted) sortkey COLUMN:
    * each full-width window's minimal sortkey — lexicographic min =
    * (min hash, then rightmost position), the SIGMOD 2003 tie-break —
    * decoded to array<struct<sel_pos:int, fp:string>>. Row-local, so it
    * runs identically over a batch scan or a stream projection. */
  def winnowSelections(keys: Column, w: Int = 4,
                       maxPos: Int = MaxWinnowPositions): Column = {
    val width = maxPos.toString.length
    val starts = when(size(keys) >= w, sequence(lit(0), size(keys) - w))
      .otherwise(array().cast("array<int>"))
    val sels = transform(starts, s => array_min(slice(keys, s + 1, lit(w))))
    array_distinct(transform(sels, sk => struct(
      (lit(maxPos) - substring(sk, 34, width).cast("int")).as("sel_pos"),
      substring(sk, 1, 32).as("fp"))))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
    * as (id, sel_pos, fp) rows — the fingerprint table. Zero shuffle:
    * scan → project(keys) → project(selections) → explode
    * (plan-guarded; winnowing is strictly per document, so no doc-local
    * window sort is needed). The settled-corpus table is the
    * contamination/near-dup candidate index at substring granularity
    * (any doc pair sharing a fingerprint shares a verbatim k-gram), and
    * the same two projections winnow a STREAM of arriving docs (see the
    * streaming decontamination test). */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 4, w: Int = 4): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("wtoks"))
      .select(col(idCol), winnowKeys(col("wtoks"), k).as("wkeys"))
      .select(col(idCol),
        explode(winnowSelections(col("wkeys"), w)).as("sel"))
      .select(col(idCol), col("sel.sel_pos").as("sel_pos"),
        col("sel.fp").as("fp"))

  /** Corpus-level bigram language-model score per doc: mean ln p(bigram)
    * under the corpus unigram-of-bigrams model — the classic cheap
    * perplexity proxy for quality filtering (docs of improbable bigrams
    * score low). Two aggregations over the bigram stream (count model,
    * then per-doc mean); the model table shuffles once and the doc join
    * is on the bigram key — at 100 TB you persist the count table and
    * score incrementally, exactly like the dedup signature table. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Collapse the per-doc bigram MULTISET first: every later stage works
    // on distinct (doc, bigram) rows with a count, so the corpus-sized
    // explode shuffles once at its smallest width and the global-count
    // join touches ~|distinct bigrams per doc| rows instead of every
    // occurrence. avg over occurrences = count-weighted avg over
    // distincts (same value; the oracle rounds to 4 decimals on both
    // sides, absorbing the summation-order difference).
    val bgc = Dedup.shingles(docs, idCol, textCol, w = 2)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
    val counts = bgc.groupBy(col("shingle")).agg(sum(col("c")).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    bgc.join(counts, "shingle")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("c") * log(col("n").cast("double") / col("total"))) / sum(col("c")),
        4).as("lm_score"))
  }

  /** Interpolated conditional bigram LM score per doc (the KenLM-style
    * backoff shape real quality filters use, with fixed-λ interpolation
    * in place of Kneser-Ney): mean over the doc's bigrams of
    * ln(λ·c(w1w2)/c(w1·) + (1−λ)·c(w2)/T) — the conditional bigram
    * probability backed off to the unigram distribution, so unseen
    * continuations never zero out.
    *
    * Scale shape follows [[bigramLogProb]]: the per-doc bigram multiset
    * collapses first; the bigram-count model shuffles once; the
    * first-token totals derive FROM the bigram model (c(w1·) = Σ counts
    * of bigrams starting w1 — no second corpus pass); the unigram model
    * is vocabulary-sized and broadcast. */
  def interpolatedBigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                                lambda: Double = 0.7): DataFrame = {
    val bgc = Dedup.shingles(docs, idCol, textCol, w = 2)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
    val bgCounts = bgc.groupBy(col("shingle")).agg(sum(col("c")).as("n_bg"))
    // first-token totals from the bigram model itself (tiny — vocab-sized)
    val w1Counts = bgCounts
      .groupBy(substring_index(col("shingle"), " ", 1).as("w1"))
      .agg(sum(col("n_bg")).as("n_w1"))
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_u"))
    val total = uni.agg(sum(col("n_u")).as("t_tok"))
    bgc
      .join(bgCounts, "shingle")
      .withColumn("w1", substring_index(col("shingle"), " ", 1))
      .withColumn("w2", substring_index(col("shingle"), " ", -1))
      .join(broadcast(w1Counts), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")), "w2")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("c") * log(
          lit(lambda) * col("n_bg").cast("double") / col("n_w1").cast("double") +
          lit(1.0 - lambda) * col("n_u").cast("double") / col("t_tok").cast("double")))
          / sum(col("c")), 4).as("lm_score"))
  }

  /** Top-k TF-IDF keywords per doc — the classic doc-summarization /
    * feature-extraction pass. Two aggregations over one tokenize-explode:
    * term frequency per (doc, word), document frequency per word (both
    * with map-side partial agg); idf joins back on the word — AQE
    * broadcasts it (|vocab| rows) so the corpus-sized side never
    * reshuffles after the tf agg. Ranking runs per doc (high-cardinality
    * partition key, no skew), top-k bounded by WindowGroupLimit.
    * Score is rounded to 4 decimals BEFORE ranking so Spark and the
    * verifying engine rank identical values (ties break on the word). */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word").asc)
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("word"), col("score"), col("rank"))
  }

  /** BM25 relevance of every doc against a fixed query-term set (k1/b are
    * the standard Robertson defaults). Corpus statistics (N, avgdl,
    * per-term df) come from ONE tiny aggregate broadcast to the scan;
    * per-doc term frequencies are array expressions over the token array
    * — the whole scoring pass is scan-shaped: no shuffle of the corpus,
    * no UDF, deterministic index-ordered term summation (engine-portable
    * to the bit before the final 4-decimal round). */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val aggs = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1.0).otherwise(0.0)).as(s"df_$i")
      }
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      val idf = log((col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    base.crossJoin(broadcast(stats))
      .select(col(idCol), round(termScores.reduce(_ + _), 4).as("bm25"))
  }

  /** Top-k vocabulary by frequency (ties broken lexicographically) — the
    * first step of tokenizer/vocab induction. TakeOrderedAndProject: the
    * word counts aggregate map-side, only k rows reach the driver-side
    * ordering. */
  def vocabTop(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(k)

  /** Deflate-proxy quality score — the compression-ratio junk detector
    * the CCNet/RefinedWeb lineage of pipelines runs besides n-gram
    * repetition: machine-generated boilerplate, base64 blobs, and
    * template floods compress far better (or, for random blobs, far
    * worse) than organic prose, and zlib sees cross-token char-level
    * redundancy the token-based scores (gopher/derep) structurally
    * miss. One Deflater per PARTITION, reset per row — the typed
    * mapPartitions seam is genuinely non-Catalyst (same contract as
    * the Multimodal ImageIO decode), which is also why this is the
    * library's one rows-only query: zlib is not SQL-expressible, and
    * the output byte count is a property of the zlib build, so a
    * cross-engine oracle would hash the compressor, not the data. The
    * spec pins the LAWS instead (repetition compresses, randomness
    * doesn't, determinism across runs, raw length exact).
    *
    * Scale shape: zero shuffles — a pure per-partition projection that
    * pipelines with the scan; ratio is one rounded division. */
  def compressionRatio(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, false)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset(); deflater.setInput(in); deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, in.length.toLong, n)
        }
      }
      .toDF(idCol, "n_raw", "n_deflate")
      .select(col(idCol), col("n_raw"), col("n_deflate"),
        TimeSeries.portableRound6(col("n_deflate").cast("double") /
          greatest(col("n_raw"), lit(1L)).cast("double")).as("ratio"))
  }

  /** ln(rank) for ranks 1..k, computed ONCE in Scala and injected as
    * identical literals into both engines' plans (the NdcgWeights
    * libm-divergence pattern) — with these fixed, Σx and Σx² are
    * engine-independent constants and only ln(freq) touches libm. */
  def zipfLnRank(k: Int): Seq[Double] = (1 to k).map(i => math.log(i.toDouble))

  /** Zipf-law fit over the top-k vocabulary: OLS of ln(freq) on
    * ln(rank) — slope ≈ −1 is the healthy-corpus signature; a shallow
    * slope means boilerplate flooding the head, a cliff past the head
    * means template text crowding out tail diversity. Companion to
    * [[vocabTop]] (the ranks) and text_heaps (vocabulary growth).
    *
    * Portability: the per-rank ln(rank) terms are injected literals
    * ([[zipfLnRank]]); the four OLS sums fold over the k-row array in
    * rank order (sort_array + ordered aggregate here, list(... ORDER
    * BY) + list_reduce in the oracle), so both engines add the same
    * doubles in the same sequence; slope/intercept round at 4dp to
    * absorb ln(freq)'s last-ulp libm spread.
    *
    * Scale shape: one token hash-agg + a k-row top-k (TakeOrdered, no
    * global window); the fold runs on a k-row array — corpus-size
    * independent past the vocabulary aggregate. */
  def zipfSlope(docs: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val lnRank = array(zipfLnRank(k).map(lit): _*)
    val ranked = vocabTop(docs, textCol, k)
      .select(col("word"), col("n"),
        row_number().over(Window.orderBy(col("n").desc, col("word").asc))
          .as("rank"))
    val folded = ranked
      .agg(sort_array(collect_list(struct(col("rank"), col("n")))).as("a"))
      .select(aggregate(col("a"),
        struct(lit(0.0).as("sy"), lit(0.0).as("sxy"), lit(0L).as("cnt")),
        (acc, e) => {
          val x = element_at(lnRank, e.getField("rank"))
          val y = log(e.getField("n").cast("double"))
          struct((acc.getField("sy") + y).as("sy"),
            (acc.getField("sxy") + x * y).as("sxy"),
            (acc.getField("cnt") + 1L).as("cnt"))
        }).as("f"))
      .select(col("f.*"))
    val sx = lit(zipfLnRank(k).sum)
    val sxx = lit(zipfLnRank(k).map(x => x * x).sum)
    val nD = col("cnt").cast("double")
    val slope = (nD * col("sxy") - sx * col("sy")) /
      (nD * sxx - sx * sx)
    folded.select(col("cnt").as("n_terms"),
      (round(slope * 10000) / 10000).as("slope"),
      (round(((col("sy") - slope * sx) / nD) * 10000) / 10000).as("intercept"))
  }

  /** Hashed-feature linear classifier dimensionality and md5-derived
    * weights in [-1, 1] — plan literals (a trained fastText-style model
    * would ship real weights; the scoring math is identical). */
  val ClfDim = 64
  val ClfBias = -0.05
  lazy val clfWeights: Array[Double] = Array.tabulate(ClfDim) { j =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"clf|$j".getBytes("UTF-8"))
      .take(3).map(x => f"${x & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 8388608.0 - 1.0
  }

  /** Quality classifier, fastText-style: logistic regression over hashed
    * bag-of-words features with mean pooling — score = σ(bias +
    * mean_t w[h(t) mod D]). The standard learned quality filter of
    * curation pipelines (CCNet/fastText linear models), expressed as ONE
    * scan-shaped projection: token hashing, weight lookup, and the
    * ordered fold all run inside codegen over a literal weight array —
    * no shuffle, no UDF, no model server on the 100 TB scan path.
    * Returns (id, score rounded to 4, label = sign of the logit). */
  def classifierLogit(text: Column): Column = {
    val wArr = array(clfWeights.map(lit): _*)
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(to_binary(t, lit("utf-8"))), 1, 8), 16, 10).cast("long"),
        lit(ClfDim.toLong))
    // ordered left fold (aggregate HOF) == the oracle's list_reduce chain,
    // so the double sum is bit-identical before the final round.
    lit(ClfBias) +
      aggregate(transform(tokens(text), t => element_at(wArr, bucket(t).cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x) / tokenCount(text).cast("double")
  }

  /** The calibrated quality score — sigmoid of [[classifierLogit]],
    * 4dp-rounded for cross-engine portability. The ONE definition every
    * scorer/threshold consumer (classify, PR/yield curves, AUC, the
    * streaming yield monitor) must share: the rounding is what the
    * oracle hash-checks, so a diverged copy would silently split the
    * batch curve from its stream twin. */
  def classifierScoreCol(text: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-classifierLogit(text))), 4)

  def classifierScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), classifierLogit(col(textCol)).as("z"))
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("score"),
        (col("z") > 0).as("keep"))

  /** Precision/recall of the [[classifierScore]] quality filter against a
    * reference label, at each cutoff — the calibration table that decides
    * where to set a 100 TB keep-threshold (and the audit that a
    * classifier refresh didn't silently shift the operating point).
    * One scan: score + label project row-local, each row fans out to the
    * |thresholds| literal cutoffs, and ONE tiny hash-agg (|thresholds|
    * groups, map-side partials) collects the exact confusion counts.
    * Ratios are single double divisions, engine-portably rounded;
    * an empty predicted/actual-positive set yields null, not a crash. */
  def prCurve(docs: DataFrame, idCol: String, textCol: String,
              labelCol: Column, thresholds: Seq[Double]): DataFrame = {
    def r6(c: Column) = TimeSeries.portableRound6(c)
    docs
      .select(classifierScoreCol(col(textCol))
          .as("score"),
        labelCol.cast("boolean").as("pos"))
      .select(col("score"), col("pos"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("score") >= col("threshold") && col("pos"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("threshold") && !col("pos"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("threshold") && col("pos"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("score") < col("threshold") && !col("pos"), 1L)
          .otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        r6(col("tp").cast("double") / nullif(col("tp") + col("fp"), lit(0L)))
          .as("prec"),
        r6(col("tp").cast("double") / nullif(col("tp") + col("fn"), lit(0L)))
          .as("rec"))
  }

  /** LLM-watermark detector (the Kirchenbauer green-list scheme read
    * backwards): a watermarking sampler biases each token toward the
    * "green" half of the vocabulary seeded by its predecessor, so
    * watermarked text shows a green-pair fraction far above the ½ a
    * natural source produces. Per doc: g = green adjacent pairs (green
    * ⇔ first md5 nibble of "prev|cur" < 8), n = pairs, and the one-
    * proportion z = (2g − n)/√n — flag at z ≥ 4 (p < 3·10⁻⁵). The
    * synthetic-text quarantine filter a post-2023 crawl needs before
    * model-collapse contamination enters training.
    *
    * Shape: strictly row-local (token array → pair flags → exact
    * integer g, n; one sqrt + one division) — a zero-shuffle projection
    * that pipelines with the scan, plan-guarded like the rest of the
    * per-doc quality family. */
  def watermarkScore(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val greens = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (p, c) => when(conv(substring(md5(concat(p, lit("|"), c)), 1, 1),
        16, 10).cast("int") < 8, 1L).otherwise(0L))
    docs
      .select(col(idCol), toks.as("toks"))
      .select(col(idCol), greens.as("gs"))
      .select(col(idCol),
        size(col("gs")).cast("long").as("n_pairs"),
        coalesce(aggregate(col("gs"), lit(0L), (a, x) => a + x), lit(0L))
          .as("n_green"))
      .select(col(idCol), col("n_pairs"), col("n_green"),
        when(col("n_pairs") > 0, TimeSeries.portableRound6(
          (col("n_green") * 2 - col("n_pairs")).cast("double") /
            sqrt(col("n_pairs").cast("double"))))
          .otherwise(lit(0.0)).as("z"),
        (col("n_pairs") > 0 &&
          (col("n_green") * 2 - col("n_pairs")).cast("double") >=
            lit(4.0) * sqrt(col("n_pairs").cast("double"))).as("flagged"))
  }

  /** Yield curve of the [[classifierScore]] quality bar: docs and
    * TOKENS surviving each candidate threshold — the data-volume cost
    * [[prCurve]] doesn't show (PR says how accurate the bar is; this
    * says how much corpus each extra point of precision burns, which is
    * what actually decides a 100 TB operating point). Same one-scan
    * shape: score + token count project row-local, each row fans out to
    * the |thresholds| literal cutoffs map-side, ONE tiny hash-agg
    * (|thresholds| groups) collects exact doc/token counts; totals ride
    * in the same aggregate, so the fraction needs no second scan. */
  def yieldCurve(docs: DataFrame, idCol: String, textCol: String,
                 thresholds: Seq[Double]): DataFrame = {
    docs
      .select(classifierScoreCol(col(textCol))
          .as("score"),
        tokenCount(col(textCol)).as("nt"))
      .select(col("score"), col("nt"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("score") >= col("threshold"), col("nt")).otherwise(0L))
          .as("n_tokens_kept"),
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"))
      .select(col("threshold"), col("n_docs_kept"), col("n_tokens_kept"),
        TimeSeries.portableRound6(col("n_tokens_kept").cast("double") /
          col("n_tokens").cast("double")).as("token_frac"),
        TimeSeries.portableRound6(col("n_docs_kept").cast("double") /
          col("n_docs").cast("double")).as("doc_frac"))
  }

  /** Exact ROC-AUC of the [[classifierScore]] quality filter against a
    * reference label, with midrank tie handling — the single-number
    * companion to [[prCurve]]. Everything is exact integers until one
    * final double division: per distinct (4-decimal) score, counts c and
    * positives cp aggregate map-side; doubled midranks 2·cumBefore+c+1
    * avoid the ½ fractions; AUC = (Σcp·midrank₂ − P(P+1)) / (2PN).
    * The cum-sum window runs over the DISTINCT-SCORE table — bounded by
    * score resolution (≤10⁴ rows at 4 decimals), never corpus size, so
    * the single-task window is safe at any scale. Degenerate label sets
    * (P=0 or N=0) yield null. */
  def aucScore(docs: DataFrame, idCol: String, textCol: String,
               labelCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs
      .select(classifierScoreCol(col(textCol))
          .as("score"),
        labelCol.cast("boolean").as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("cp"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      .agg(sum(col("cp") * (lit(2L) * col("cum_before") + col("c") + 1L))
          .as("r2"),
        sum(col("cp")).as("p"), sum(col("c")).as("tot"))
      .select(col("p"), (col("tot") - col("p")).as("n"),
        TimeSeries.portableRound6(
          (col("r2") - col("p") * (col("p") + 1L)).cast("double") /
            nullif(lit(2L) * col("p") * (col("tot") - col("p")), lit(0L)))
          .as("auc"))
  }

  /** Calibration (reliability) table of the [[classifierScore]] filter:
    * scores bucketed into `bins` equal-width bins, each with its exact
    * count, positive count, MEAN SCORE, and empirical positive rate — a
    * well-calibrated filter has mean_score ≈ frac_pos per bin. The mean
    * stays exact: 4-decimal scores become integers via the portable
    * multiply-round, sum as BIGINTs, and divide once at the end — no
    * order-dependent double summation. One scan, |bins| groups. */
  def calibration(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: Column, bins: Int = 10): DataFrame = {
    def r6(c: Column) = TimeSeries.portableRound6(c)
    docs
      .select(classifierScoreCol(col(textCol))
          .as("score"),
        labelCol.cast("boolean").as("pos"))
      .groupBy(least(floor(col("score") * bins), lit(bins - 1)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("pos_n"),
        sum(round(col("score") * 10000, 0).cast("long")).as("score_scaled"))
      .select(col("bin"), col("n"), col("pos_n"),
        r6(col("score_scaled").cast("double") / (col("n") * 10000L))
          .as("mean_score"),
        r6(col("pos_n").cast("double") / col("n")).as("frac_pos"))
  }

  /** WITHIN-doc repetition removal: excise every token covered by a
    * NON-FIRST occurrence of a repeated w-gram, unless the FIRST
    * occurrence of a repeated gram also covers it — the cleanup for
    * boilerplate/generated repetition inside a single document (the
    * transformation [[gopherRepetition]]'s dup-coverage signal scores).
    * Unique grams participate in neither set: their overlap with a
    * repeat must not shield it (a doc is mostly covered by unique-gram
    * windows, so counting them would make the op a no-op). Returns
    * (id, clean_text, n_removed); repeat-free docs pass verbatim.
    *
    * Row-local like the other within-doc ops — zero shuffle: sorted
    * (gram, pos) occurrence array, run-head flags from sorted
    * neighbors, covered-position set algebra (array_except), and an
    * indexed token filter, all in one projection chain. */
  def dedupInline(docs: DataFrame, idCol: String, textCol: String,
                  w: Int = 3): DataFrame = {
    val id = col(idCol)
    val idxs = when(size(col("toks")) >= w,
        sequence(lit(0), size(col("toks")) - w))
      .otherwise(array().cast("array<int>"))
    val sps = array_sort(transform(idxs, i => struct(
      concat_ws(" ", slice(col("toks"), i + 1, lit(w))).as("g"),
      i.as("p"))))
    val m = size(col("sps"))
    def gAt(j: Column) = element_at(col("sps"), j).getField("g")
    def pAt(j: Column) = element_at(col("sps"), j).getField("p")
    // sort is (g, p) asc, so a run head holds its gram's smallest
    // position. Head of a MULTI-occurrence run = first-of-repeated;
    // non-head = repeat; single-occurrence runs match neither.
    def coverOf(firstWanted: Boolean) = {
      val seq = when(m >= 1, sequence(lit(1), m))
        .otherwise(array().cast("array<int>"))
      val prevEq = (j: Column) =>
        when(j > 1, gAt(j) === gAt(j - 1)).otherwise(lit(false))
      val nextEq = (j: Column) =>
        when(j < m, gAt(j) === gAt(j + 1)).otherwise(lit(false))
      val wanted = (j: Column) =>
        if (firstWanted) !prevEq(j) && nextEq(j) else prevEq(j)
      array_distinct(flatten(filter(transform(seq, j =>
        when(wanted(j), sequence(pAt(j), pAt(j) + (w - 1)))),
        x => x.isNotNull)))
    }
    docs
      .select(id, split(col(textCol), " ").as("toks"))
      .select(id, col("toks"), sps.as("sps"))
      .select(id, col("toks"),
        array_except(coverOf(false), coverOf(true)).as("rset"))
      .select(id,
        concat_ws(" ", filter(col("toks"),
          (_, i) => !array_contains(col("rset"), i))).as("clean_text"),
        size(col("rset")).as("n_removed"))
  }

  /** CROSS-doc boilerplate removal (the CCNet/RefinedWeb line-dedup
    * stage): a doc is cut into non-overlapping `segTokens`-token
    * segments (the stand-in for "lines" — real corpora would split on
    * newlines; the segmentation is the only pluggable piece), and every
    * segment whose EXACT text appears in ≥ `minDocs` distinct docs is
    * excised everywhere it occurs. Complements [[dedupInline]]
    * (within-doc) and [[Dedup.removeSharedSpans]] (sliding w-gram
    * cover): this is the cheap exact-match corpus pass that strips nav
    * bars, headers and license footers before any fuzzy machinery runs.
    *
    * Scale shape: the DATA never shuffles — one map-side explode of
    * per-doc DISTINCT segments feeds the segment-count hash-agg (the
    * only wide exchange, map-side partials, 16-byte rows), and the
    * surviving frequent set is COLLECTED (bounded: `maxBoiler` caps it
    * at the (nd desc, seg)-ranked top, so a pathological corpus
    * degrades to partial cleaning, never to an unbounded driver pull —
    * the text_bpe_encode rule-collect precedent) and inlined as ONE
    * sorted array literal. The removal is then a pure row-local
    * projection: zero joins, no reassembly shuffle, and — the lesson of
    * the 125× SCALECURVE tier — no per-row copy of the boiler array (a
    * broadcast crossJoin carried the array INTO every joined row:
    * |boiler|·|docs| bytes of memcpy, super-linear between tiers; the
    * literal is one plan-side object). Membership tests binary-search
    * it via the native [[graft.functions.SortedArrayContains]]
    * expression: with BOTH the probe count and |boiler| growing with
    * the corpus, an `array_contains` linear scan is a hidden quadratic
    * (measured 54× at 25× data). */
  def removeFrequentSegments(docs: DataFrame, idCol: String,
                             textCol: String, segTokens: Int = 8,
                             minDocs: Int = 2,
                             maxBoiler: Int = 100000): DataFrame = {
    require(segTokens > 0 && minDocs > 1, "segTokens>0, minDocs>1")
    val id = col(idCol)
    val toks = tokens(col(textCol))
    val nSeg = ((size(col("toks")) + segTokens - 1) / segTokens).cast("int")
    val segs = transform(sequence(lit(0), greatest(col("nseg"), lit(1)) - 1),
      i => concat_ws(" ", slice(col("toks"), i * segTokens + 1, lit(segTokens))))
    val segmented = docs
      .select(id, toks.as("toks"))
      .withColumn("nseg", nSeg)
      .select(id, segs.as("segs"))
    // bounded collect (≤ maxBoiler strings), sorted in UTF8String BINARY
    // order — the exact order the binary-search expression assumes
    // (java String order differs beyond ASCII).
    val boiler: Array[String] = segmented
      .select(explode(array_distinct(col("segs"))).as("seg"))
      .groupBy(col("seg")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .orderBy(col("nd").desc, col("seg"))
      .limit(maxBoiler)
      .select(col("seg")).collect().map(_.getString(0))
      .sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
    val boilArr = typedLit(boiler.toSeq)
    segmented
      .select(id,
        concat_ws(" ", filter(col("segs"), s =>
          !graft.functions.SortedArrayContains(boilArr, s)))
          .as("clean_text"),
        size(filter(col("segs"), s =>
          graft.functions.SortedArrayContains(boilArr, s)))
          .as("n_removed"))
  }

  /** Persist the winnowed fingerprint table BUCKETED by fp — the
    * settled-corpus contamination index as a reusable artifact, exactly
    * like the minhash signature table ([[Dedup.writeSignatureTable]]):
    * write once, and every future crawl batch joins co-located. */
  def writeFingerprintTable(docs: DataFrame, idCol: String, textCol: String,
                            table: String, buckets: Int,
                            k: Int = 4, w: Int = 4): Unit =
    Scale.writeBucketed(
      // fixed schema (bench_id, sel_pos, fp): readers must not depend on
      // the writer's id column name.
      winnow(docs, idCol, textCol, k, w)
        .select(col(idCol).as("bench_id"), col("sel_pos"), col("fp")),
      table, buckets, keyCols = Seq("fp"))

  /** Contamination pairs for an incoming batch against a persisted
    * [[writeFingerprintTable]] table: only the increment winnows and
    * shuffles into the bucket layout; the settled fingerprints never
    * move. Returns distinct (new_id, bench_id). The k/w parameters must
    * match the table's write-time values or fingerprints cannot align
    * (the table's id column is always `bench_id`, regardless of the
    * writer's idCol). */
  def contaminatedFromTable(spark: org.apache.spark.sql.SparkSession,
                            table: String, incoming: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 4, w: Int = 4): DataFrame =
    winnow(incoming, idCol, textCol, k, w)
      .select(col(idCol).as("new_id"), col("fp"))
      .join(spark.table(table).select(col("bench_id"), col("fp")), Seq("fp"))
      .select(col("new_id"), col("bench_id")).distinct()

  /** Kneser-Ney smoothed bigram LM score per doc (Kneser & Ney 1995;
    * the standard n-gram smoothing): absolute discounting of the bigram
    * MLE plus a continuation-probability backoff — P(w2|w1) =
    * max(c(w1w2)−d, 0)/c(w1·) + d·fanout(w1)/c(w1·) · cont(w2)/types.
    * The continuation term scores how many CONTEXTS a word completes,
    * not how often it occurs — the distinction that separates KN from
    * the plain interpolation of [[interpolatedBigramLogProb]].
    *
    * Scale shape: all model tables derive from the distinct-bigram count
    * table (vocab-sized, broadcast); the corpus-sized stream is the
    * collapsed per-doc bigram multiset, shuffled once — identical to the
    * other LM scorers, so the same persist-and-rescore incremental story
    * applies. */
  def knBigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                      discount: Double = 0.75): DataFrame = {
    val bgc = Dedup.shingles(docs, idCol, textCol, w = 2)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
    val bgCounts = bgc.groupBy(col("shingle")).agg(sum(col("c")).as("n_bg"))
    val w1stats = bgCounts
      .groupBy(substring_index(col("shingle"), " ", 1).as("w1"))
      .agg(sum(col("n_bg")).as("n_w1"), count(lit(1)).as("fanout"))
    val cont = bgCounts
      .groupBy(substring_index(col("shingle"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n_cont"))
    val types = bgCounts.agg(count(lit(1)).as("n_types"))
    bgc
      .join(bgCounts, "shingle")
      .withColumn("w1", substring_index(col("shingle"), " ", 1))
      .withColumn("w2", substring_index(col("shingle"), " ", -1))
      .join(broadcast(w1stats), "w1")
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(types))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("c") * log(
          greatest(col("n_bg").cast("double") - discount, lit(0.0)) /
            col("n_w1").cast("double") +
          lit(discount) * col("fanout").cast("double") /
            col("n_w1").cast("double") * col("n_cont").cast("double") /
            col("n_types").cast("double")))
          / sum(col("c")), 4).as("kn_score"))
  }

  /** DSIR-style importance weight (after Xie et al. 2023,
    * arXiv:2302.03169): per doc, the mean log-likelihood RATIO of its
    * bigrams under a TARGET-domain bigram model vs the general corpus
    * model, add-one smoothed — docs that look like the target domain get
    * positive weights and are upsampled when assembling the mixture.
    *
    * Scale shape: both count models aggregate once over the (collapsed)
    * bigram stream — the target model is built from the filtered subset,
    * the general model from everything; V and the totals are one tiny
    * broadcast stats row; the scoring join is on the bigram key with the
    * doc side collapsed to distinct (doc, bigram, count) rows first
    * (the [[bigramLogProb]] discipline). At 100 TB both models persist
    * and rescore increments, like the dedup signature table. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame = {
    val bgc = Dedup.shingles(docs, idCol, textCol, w = 2)
    val bgcT = Dedup.shingles(docs.where(isTarget), idCol, textCol, w = 2)
    val perDoc = bgc.groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
    val general = perDoc.groupBy(col("shingle")).agg(sum(col("c")).as("ng"))
    val target = bgcT.groupBy(col("shingle")).agg(count(lit(1)).as("nt"))
    // coalesce: an EMPTY target selection must yield tt=0 (add-one
    // smoothing then scores every bigram under the uniform 1/(0+V) model),
    // not a null that silently nulls every score.
    val stats = general.agg(
      sum(col("ng")).as("tg"), count(lit(1)).as("v"))
      .crossJoin(target.agg(coalesce(sum(col("nt")), lit(0L)).as("tt")))
    perDoc
      .join(general, "shingle")
      .join(target, Seq("shingle"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("c") * (
          log((coalesce(col("nt"), lit(0L)) + 1L).cast("double") /
            (col("tt") + col("v")).cast("double")) -
          log((col("ng") + 1L).cast("double") /
            (col("tg") + col("v")).cast("double")))) / sum(col("c")),
        4).as("log_ratio"))
  }

  /** PII patterns for redaction — RE2-safe (no backrefs/lookaround), so
    * the same regex means the same thing in Spark, DuckDB, and Go/Rust
    * engines. Order matters: emails contain digit runs, so email fires
    * before phone. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+"                                -> "<URL>",
    "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"                 -> "<PHONE>")

  /** Redact emails, URLs, and phone-shaped digit runs. Pure
    * regexp_replace chain: codegen'd, scan-shaped, no UDF — the form a
    * 100 TB scrub pass must take (one pass over the text column,
    * pipelined with whatever else the scan computes). */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Count of PII hits per doc (audit/reporting side of the scrub). */
  def piiHits(text: Column): Column =
    PiiPatterns.map { case (re, _) => size(regexp_extract_all(text, lit(re), lit(0))) }
      .reduce(_ + _).cast("long")

  /** Token bigrams as "a b" strings. Spark's `sequence(lo, hi)` runs
    * DESCENDING when lo > hi (a one-token doc would fabricate grams), so
    * the < 2-token case is guarded to an explicit empty array. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Clipped n-gram overlap (n = 1, 2) between (candidate, reference)
    * text pairs — the shared kernel of BLEU-style precision and
    * ROUGE-style recall generation metrics. `pairs` carries one row per
    * (idCol, candCol, refCol); output one row per pair:
    * c1/r1 = token counts, c2/r2 = bigram counts, clip1/clip2 =
    * Σ_g min(count_cand(g), count_ref(g)) — the "modified" (clipped)
    * match counts both metric families are defined on.
    *
    * Scale shape: grams explode from each side and meet in ONE shuffle
    * on (pair, gram) — an inner join, since a gram missing from either
    * side clips to zero — then collapse back to |pairs| rows; pairs with
    * no common grams are restored by a left join (clip = 0). Linear in
    * corpus token count, never quadratic in anything. */
  def pairNgramOverlap(pairs: DataFrame, idCol: String,
                       candCol: String, refCol: String): DataFrame = {
    val id = col(idCol)
    val toks = pairs.select(id,
      tokens(col(candCol)).as("ct"), tokens(col(refCol)).as("rt"))
      .localCheckpoint() // lens + two gram explodes: one tokenize pass
    val lens = toks.select(id,
      size(col("ct")).cast("long").as("c1"),
      size(col("rt")).cast("long").as("r1"),
      greatest(size(col("ct")) - 1, lit(0)).cast("long").as("c2"),
      greatest(size(col("rt")) - 1, lit(0)).cast("long").as("r2"))
    def gramCounts(src: Column, n: Int, out: String) = {
      val grams = if (n == 1) src else bigrams(src)
      toks.select(id, explode(grams).as("g"))
        .groupBy(id, col("g")).agg(count(lit(1)).as(out))
    }
    def clipped(n: Int, out: String) =
      gramCounts(col("ct"), n, "cc")
        .join(gramCounts(col("rt"), n, "rc"), Seq(idCol, "g"))
        .groupBy(id).agg(sum(least(col("cc"), col("rc"))).as(out))
    lens
      .join(clipped(1, "clip1"), Seq(idCol), "left")
      .join(clipped(2, "clip2"), Seq(idCol), "left")
      .select(id, col("c1"), col("r1"), col("c2"), col("r2"),
        coalesce(col("clip1"), lit(0L)).as("clip1"),
        coalesce(col("clip2"), lit(0L)).as("clip2"))
  }

  /** ROW-LOCAL twin of [[pairNgramOverlap]] — same seven output columns,
    * zero shuffles: each pair's uni/bigram clips run as one native
    * [[graft.functions.NgramClip]] call each (bigram fingerprints are
    * combined token hashes — no bigram string is ever materialized).
    * The per-pair work is O(tokens log tokens) in one task, so this is
    * the right shape whenever a pair fits in memory (generation-eval
    * pairs always do); [[pairNgramOverlap]] keeps the (pair, gram)
    * shuffle shape for documents too large to clip in one task. */
  def pairNgramOverlapLocal(pairs: DataFrame, idCol: String,
                            candCol: String, refCol: String): DataFrame = {
    val id = col(idCol)
    pairs
      .select(id, tokens(col(candCol)).as("ct"), tokens(col(refCol)).as("rt"))
      .select(id,
        size(col("ct")).cast("long").as("c1"),
        size(col("rt")).cast("long").as("r1"),
        greatest(size(col("ct")) - 1, lit(0)).cast("long").as("c2"),
        greatest(size(col("rt")) - 1, lit(0)).cast("long").as("r2"),
        graft.functions.NgramClip(col("ct"), col("rt"), 1).as("clip1"),
        graft.functions.NgramClip(col("ct"), col("rt"), 2).as("clip2"))
  }

  /** Character-bigram variant of the clipped overlap — the chrF kernel
    * (spaces stripped first, per the metric's definition; grams are
    * 2-char substrings, 1-based positions, so both engines enumerate
    * the identical gram multiset). ROW-LOCAL and NATIVE: each pair
    * clips inside its own task via [[graft.functions.CharBigramClip]]
    * (exact packed code-point pairs, two sorts, one two-pointer merge —
    * one JVM call per row in whole-stage codegen) — ZERO shuffles,
    * where the previous (pair, gram) explode paid two hash-agg
    * exchanges plus a join on char-bigram volume (≈2× corpus
    * characters), and the interposed HOF form re-ran three interpreted
    * lambdas per character. The shuffle shape survives in
    * [[pairNgramOverlap]] for documents too large to clip in one task;
    * chrF pairs are generation-eval sized. */
  def pairCharBigramOverlap(pairs: DataFrame, idCol: String,
                            candCol: String, refCol: String): DataFrame = {
    val id = col(idCol)
    def strip(c: Column) = regexp_replace(c, " ", "")
    pairs
      .select(id, strip(col(candCol)).as("cs"), strip(col(refCol)).as("rs"))
      .select(id,
        greatest(length(col("cs")) - 1, lit(0)).cast("long").as("c2"),
        greatest(length(col("rs")) - 1, lit(0)).cast("long").as("r2"),
        graft.functions.CharBigramClip(col("cs"), col("rs")).as("clip2"))
  }

  /** ROW-LOCAL clipped overlap between two gram arrays:
    * Σ over distinct cand grams of min(count_cand, count_ref). The
    * streaming-friendly form of the [[pairNgramOverlap]] clip — each
    * (candidate, reference) row is self-contained, so a pair STREAM
    * scores map-side with zero shuffles and zero state (the batch
    * kernel's (pair, gram) shuffle is the shape for documents too large
    * to clip in one task).
    *
    * Kernel: ONE native call per row ([[graft.functions.NgramClip]] at
    * n = 1 — hash each gram's bytes once, sort, two-pointer merge, all
    * inside whole-stage codegen; the 64-bit gram-identity precedent,
    * odds of a colliding pair ~n²/2⁶⁴). The earlier composable form
    * (filter/xxhash64/sort_array HOFs into MultisetIntersect) evaluated
    * three interpreted lambdas per gram. Grams here come from `split`
    * derivatives and are never null; a null element hashes like the
    * empty string. */
  def clippedOverlap(cand: Column, ref: Column): Column =
    graft.functions.NgramClip(cand, ref, 1)
}
