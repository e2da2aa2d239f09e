package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Bpe, CorpusOps, Dedup, Multimodal, Relational, Similarity, Tables, TextAnalysis, TimeSeries}

/** Training-data pipeline operators (beyond the reference surface, built
  * for 100 TB corpora): dedup, similarity search, text analysis, and
  * multimodal plumbing — each oracle-checked where the computation is
  * deterministic and SQL-expressible, rows-only otherwise. */
object TrainingQueries extends QueryPack {

  private val stop = TextAnalysis.stopwords

  /** NDCG@10 discount weights 1/log₂(i+1) and their prefix sums (ideal
    * DCG with R relevant items) — computed once here, injected as
    * identical double literals into the Spark plan AND the oracle SQL
    * so no engine ever calls its own libm log. */
  private val NdcgWeights: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val NdcgIdcg: Seq[Double] = NdcgWeights.scanLeft(0.0)(_ + _).tail

  /** Query terms for the BM25 demo scoring pass (drawn from the synthetic
    * corpus vocabulary; order matters — summation is index-ordered). */
  private val Bm25Terms = Seq("spark", "window", "query")

  /** Multi-query retrieval set for the search-top-k pass (corpus
    * vocabulary terms; each query is a small term bag). */
  private val SearchSet = Seq(
    "q_scan" -> Seq("scan", "fast"),
    "q_join" -> Seq("merge", "hash", "table"),
    "q_sort" -> Seq("sort", "window", "query"))

  // ---- sidecar tables (graft.ops.Sidecar) -------------------------------
  // Corpus-derived intermediates shared by whole query families; built
  // once per session, read by every consumer (production shape). Each
  // family keeps its registered FROM-SCRATCH builder entry, which never
  // reads the cache: dedup_spans builds the span universe,
  // dedup_clusters the cluster map, dedup_contain the containment pairs,
  // dedup_lsh_verified the verified pair table, text_lm_interp the LM
  // scores. Oracles are unchanged — DuckDB recomputes every intermediate
  // from the raw tables, so the cache is hash-checked on every consumer.

  /** Undirected dup-graph edge set (spanEdges) — 9 graph consumers. */
  private def cachedSpanEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"spanEdges:$dir") {
      graft.ops.GraphOps.spanEdges(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    }

  /** Near-dup cluster map (doc_id, cluster_id) — the policy layer's
    * shared input (keep-best, soft weights, purge, cluster splits). */
  private def cachedDupClusters(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"dupClusters:$dir") {
      Dedup.dupClusters(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    }

  /** Containment digraph pair table at the 0.8 bar (graph_hits). */
  private def cachedContainPairs(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"containPairs:$dir") {
      Dedup.containmentPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8)
    }

  /** LSH-verified near-dup pairs at the 0.1 floor: candidates are
    * threshold-independent, so any consumer threshold t >= 0.1 is an
    * exact filter (`jaccard >= t`) over this one table. */
  private def cachedVerifiedPairs(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"verifiedPairs:$dir") {
      Dedup.lshVerifiedPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        threshold = 0.1)
    }

  /** Distinct covered (doc, token-position) pairs under cross-doc
    * duplicated 15-token spans — dupFraction/removeSharedSpans' shared
    * input (dedup_spans stays the from-scratch span-universe builder). */
  private def cachedSpanCoverage(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"spanCoverage:$dir") {
      Dedup.spanCoverage(Tables.documents(s, dir), "doc_id", "text", w = 15)
    }

  /** The corpus Gram table (dim² rows, exact DECIMAL sums) — the
    * spectral family's shared input (emb_gram stays the from-scratch
    * builder; top-PC / second-PC / whitening read this). */
  private def cachedGram(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"gram:$dir") {
      Similarity.gramFixedPoint(Tables.fanned(s, dir, "embeddings"), "embedding",
        dim = 64)
    }

  /** Interpolated-LM per-doc scores (text_ppl_bucket's rank input). */
  private def cachedLmScores(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"lmScores:$dir") {
      TextAnalysis.interpolatedBigramLogProb(Tables.fanned(s, dir, "documents"),
        "doc_id", "text")
    }

  /** Frozen-IVF corpus assignment (neighbor_id, cv, cell) — the ANN
    * index (writeIvfIndexTable's artifact, session form). sim_ann_ivf
    * stays the from-scratch builder entry; probe workloads
    * (sim_hybrid_rrf's semantic leg) read this. */
  private def cachedIvfAssigned(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Sidecar.cached(s, s"ivfAssigned:$dir") {
      Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding")
    }

  val queries: Map[String, Q] = Map(

    // multi-query BM25 top-10 search — the retrieval surface over the
    // corpus (contamination lookup, "docs about X" curation probes).
    // Query terms prune the token explode MAP-SIDE, so only matching
    // (doc, term) pairs ever shuffle; the per-(query, doc) float sum
    // folds in sorted term order (engine-portable).
    "text_search_topk" -> { (s, dir) =>
      graft.ops.Retrieval.searchTopK(Tables.documents(s, dir),
        "doc_id", "text", SearchSet, k = 10)
    },

    // ---- text analysis -------------------------------------------------
    "text_langid" -> { (s, dir) =>
      Tables.fanned(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
    },

    // language-ID confusion matrix vs the labeled lang column — the
    // quality readout of the identifier itself. One scan, |langs|² agg.
    "eval_langid" -> { (s, dir) =>
      Tables.fanned(s, dir, "documents")
        .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("n"))
    },

    "text_quality" -> { (s, dir) =>
      TextAnalysis.qualityFeatures(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "n_tokens", "mean_token_len", "stopword_ratio")
    },

    "text_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    },

    // Character-level entropy rate per source — the compressibility
    // FLOOR text_compress_proxy's distinct-bigram ratio only proxies:
    // h_char = H(unigram), h_cond = H(bigram) − H(unigram) ≈ bits per
    // character given the previous one (Shannon's estimate; zstd can't
    // go below ~h_cond·n/8 bytes, so sources where the proxy and this
    // disagree are the ones with long-range repetition). Per-cell
    // entropy terms are ONE deterministic double each, quantized to
    // the 1e-12 grid and summed exactly per source — the domain is
    // charset²-bounded however big the corpus, and no collected list
    // is needed at all (the scalable alternative to the sorted-fold
    // discipline). Two (source, gram) hash-aggs; gram volume is linear
    // in chars.
    "text_entropy" -> { (s, dir) =>
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val docs = Tables.fanned(s, dir, "documents")
      // Structural domain clamp (r12 verdict): the charset²-bound is an
      // ASSUMPTION about the input — a source shipping binary garbage
      // has an unbounded gram domain and this was the registry's
      // thinnest 625× margin. Keep each source's top-65536 grams
      // (count desc, gram asc — deterministic) and fold the tail into
      // one residual cell (3 chars, so it can never equal a ≤2-char
      // gram): downstream stages are now ≤65537 cells per source BY
      // CONSTRUCTION, and on any real charset (≤64k bigrams) the clamp
      // is the identity. The rank sorts the CELL table (domain-sized,
      // already post-agg), not the corpus.
      def clamp(cells: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("c").desc, col("g"))
        cells.withColumn("rn", row_number().over(w))
          .select(col("source"),
            when(col("rn") <= lit(65536), col("g")).otherwise(lit("___"))
              .as("g"), col("c"))
          .groupBy(col("source"), col("g")).agg(sum(col("c")).as("c"))
      }
      def entropy(cells: org.apache.spark.sql.DataFrame) = {
        val tot = cells.groupBy(col("source")).agg(sum(col("c")).as("n"))
        val term = col("c").cast("double") / col("n").cast("double") *
          log2(col("c").cast("double") / col("n").cast("double"))
        cells.join(broadcast(tot), "source")
          .select(col("source"), col("n"),
            round(term * lit(1.0e12), 0).cast("long").as("q"))
          .groupBy(col("source"))
          .agg(max(col("n")).as("n"), sum(d38(col("q"))).as("sq"))
          .select(col("source"), col("n"),
            (-(col("sq").cast("double")) / lit(1.0e12)).as("h"))
      }
      val uni = entropy(clamp(docs
        .select(col("source"), explode(split(col("text"), "")).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))))
      val big = entropy(clamp(docs.where(length(col("text")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 1)," +
            " i -> substring(text, i, 2))")).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))))
      uni.select(col("source"), col("n").as("n_chars"), col("h").as("hu"))
        .join(big.select(col("source"), col("h").as("hb")), "source")
        .select(col("source"), col("n_chars"),
          graft.ops.TimeSeries.portableRound4(col("hu")).as("h_char"),
          graft.ops.TimeSeries.portableRound4(col("hb") - col("hu"))
            .as("h_cond"))
    },

    // Flesch reading-ease per source — the curation knob complexity
    // filters turn (too-easy = listicle spam, too-hard = OCR garbage;
    // both are downweighted in every serious pretraining mix). Exact
    // integer counts per doc (words; sentences = terminal-punct matches
    // floored at 1; syllables = vowel-group runs, the standard cheap
    // heuristic), micro-averaged per source BEFORE the divisions —
    // per-doc Flesch averaged arithmetically over-weights short docs.
    // Entirely row-local projection + one tiny hash-agg: the text_*
    // zero-extra-shuffle family.
    "text_readability" -> { (s, dir) =>
      val t = col("text")
      val d = Tables.documents(s, dir).select(col("source"),
        size(filter(split(t, " "), w => length(w) > lit(0)))
          .cast("long").as("w"),
        greatest(lit(1L),
          size(regexp_extract_all(t, lit("[.!?]"), lit(0))).cast("long"))
          .as("sent"),
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("syl"))
      val wps = col("words").cast("double") / col("sentences").cast("double")
      val spw = col("syllables").cast("double") / col("words").cast("double")
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
          sum(col("sent")).as("sentences"), sum(col("syl")).as("syllables"))
        .select(col("source"), col("n_docs"), col("words"),
          col("sentences"), col("syllables"),
          graft.ops.TimeSeries.portableRound4(wps).as("words_per_sentence"),
          graft.ops.TimeSeries.portableRound4(spw).as("syllables_per_word"),
          graft.ops.TimeSeries.portableRound4(
            lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"))
    },

    "text_tokens" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.tokenCountSubword(col("text")).as("n_bpe"))
    },

    "text_rollhash" -> { (s, dir) =>
      Tables.fanned(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("rh"),
        TextAnalysis.repetitionScore(col("text")).as("rep"))
    },

    "text_bigram_lm" -> { (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // interpolated CONDITIONAL bigram LM (KenLM-style backoff shape):
    // p(w2|w1) backed off to the unigram distribution, fixed λ.
    "text_lm_interp" -> { (s, dir) =>
      TextAnalysis.interpolatedBigramLogProb(Tables.fanned(s, dir, "documents"),
        "doc_id", "text")
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): docs rank by
    // their interpolated-LM score and split into exact terciles —
    // bucket 1 = head (most in-distribution), 3 = tail (candidates for
    // filtering). The rank runs on the 4dp-rounded score (engine-stable)
    // with doc_id tiebreak, via the distributed exact-ntile (range-rank,
    // never a one-task window).
    "text_ppl_bucket" -> { (s, dir) =>
      // the sidecar IS the lineage cut: ntileExact's two consumptions
      // (rank pass + total) read the materialized score blocks
      Relational.ntileExact(cachedLmScores(s, dir),
        3, Seq(col("lm_score").desc, col("doc_id")), "ppl_bucket")
        .select(col("doc_id"), col("lm_score"),
          col("ppl_bucket").cast("int").as("ppl_bucket"))
    },

    // per-source mean LM score off the SAME score table (sidecar
    // consumer): which source drifts out-of-distribution — the
    // source-level read of the perplexity signal. Scores are 4dp by
    // construction; summing them as DECIMAL(18,4) keeps the mean
    // order-independent and engine-exact until one final division.
    "eval_ppl_by_source" -> { (s, dir) =>
      cachedLmScores(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lm_score").cast(
            org.apache.spark.sql.types.DecimalType(18, 4))).as("sum_score"))
        .select(col("source"), col("n_docs"),
          (round(col("sum_score").cast("double") /
            col("n_docs") * 10000) / 10000).as("mean_lm_score"))
    },

    // Kneser-Ney smoothing: absolute discount + continuation backoff.
    "text_lm_kn" -> { (s, dir) =>
      TextAnalysis.knBigramLogProb(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // top-3 TF-IDF keywords per doc (rounded score ranks identically in
    // any engine; ties break on the word).
    "text_tfidf" -> { (s, dir) =>
      TextAnalysis.tfIdfTopK(Tables.fanned(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // BM25 relevance of every doc against a fixed query — the retrieval
    // scoring pass of a data-curation search index.
    "text_bm25" -> { (s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text", Bm25Terms)
    },

    // verbatim w-token spans shared across docs — substring-level dup
    // (boilerplate/quotation) detection that document-level scores dilute.
    "dedup_spans" -> { (s, dir) =>
      Dedup.dupSpans(Tables.fanned(s, dir, "documents"), "doc_id", "text", w = 15)
    },

    // doc-level duplicate-token fraction over the shared spans — the
    // curation filter built on dedup_spans.
    "dedup_dupfrac" -> { (s, dir) =>
      Dedup.dupFractionOf(cachedSpanCoverage(s, dir),
        Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // the REMOVAL half: excise every token covered by a cross-doc
    // duplicated span, rebuilding the cleaned text.
    "dedup_span_removal" -> { (s, dir) =>
      Dedup.removeSharedSpansOf(cachedSpanCoverage(s, dir),
        Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // WITHIN-doc repetition removal (row-local): non-first occurrences
    // of repeated trigrams lose their exclusive token coverage.
    "text_derep" -> { (s, dir) =>
      TextAnalysis.dedupInline(Tables.fanned(s, dir, "documents"), "doc_id", "text", w = 3)
    },

    // LLM-watermark scan: green-pair fraction z-score per doc — the
    // synthetic-text quarantine before model-collapse contamination
    // enters training. Natural text sits near z=0; a green-list
    // sampler's output clears the z≥4 flag by construction.
    "text_watermark" -> { (s, dir) =>
      TextAnalysis.watermarkScore(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // CROSS-doc boilerplate removal (the CCNet line-dedup stage):
    // 8-token segments appearing verbatim in ≥2 distinct docs are
    // excised everywhere — nav bars / license footers at corpus scale.
    // The frequent set collapses to one broadcast array; the data
    // itself never shuffles.
    "text_boilerplate" -> { (s, dir) =>
      TextAnalysis.removeFrequentSegments(Tables.fanned(s, dir, "documents"),
        "doc_id", "text", segTokens = 8, minDocs = 2)
    },

    "vocab_top" -> { (s, dir) =>
      TextAnalysis.vocabTop(Tables.documents(s, dir), "text", k = 100)
    },

    // NOTE: the zlib compression-ratio detector (formerly registered
    // rows-only as "text_compress") is spec-only now: zlib byte counts
    // are a compressor-build property, so an oracle would hash the
    // compressor, not the data — `TextAnalysis.compressionRatio` keeps
    // its law spec (CurationOpsSpec) and "text_compress_proxy" below is
    // the fully-oracled portable stand-in.

    // compressibility PROXY, fully oracled: distinct-bigram/total-bigram
    // ratio per doc — the same junk signal zlib reads (repetitive
    // boilerplate reuses bigrams → low ratio; random blobs don't → ~1)
    // but deterministic in both engines. Row-local projection (zero
    // exchange); exact integers until one final division.
    "text_compress_proxy" -> { (s, dir) =>
      // the token array lands in its OWN projection: split() is
      // non-cheap and multi-referenced below, so CollapseProject keeps
      // the alias and the text splits ONCE per row (the stat_bootstrap
      // multi-referenced-digest discipline) instead of once per use
      val t = col("t")
      val nTok = size(t)
      val idxs = when(nTok >= 2, sequence(lit(0), nTok - 2))
        .otherwise(array().cast("array<int>"))
      // distinct count over xxhash64(token, token) — identical to the
      // oracle's distinct-string count up to 64-bit collisions INSIDE
      // one doc (~n²/2⁶⁵ per doc, vanishing at any doc length; the
      // SortedJaccard-vs-string-oracle precedent), and cheaper than
      // materializing concat'd bigram strings per row
      val bigrams = transform(idxs, i =>
        xxhash64(element_at(t, i + 1), element_at(t, i + 2)))
      Tables.fanned(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          greatest(nTok - 1, lit(0)).cast("long").as("n_bigrams"),
          size(array_distinct(bigrams)).cast("long").as("n_distinct"))
        .withColumn("ratio",
          when(col("n_bigrams") > 0, TimeSeries.portableRound6(
            col("n_distinct").cast("double") /
              col("n_bigrams").cast("double"))))
    },

    // per-source OOV rate against the global top-1000 vocabulary — the
    // tokenizer-fit diagnostic (a source whose tokens mostly fall
    // outside the head vocabulary will fragment into subwords and eat
    // context budget; it's also the first smell of a language/domain
    // mismatch). Vocab is a TakeOrdered 1000-row broadcast; the corpus
    // pass is one scan + one left-join against it — no vocab-sized
    // shuffle of the token stream.
    "vocab_oov" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val top = TextAnalysis.vocabTop(docs, "text", 1000)
        .select(col("word"), lit(1L).as("inv"))
      docs.select(col("source"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(top), Seq("word"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          TimeSeries.portableRound6(col("n_oov").cast("double") /
            col("n_tokens").cast("double")).as("oov_frac"))
    },

    // Zipf-law fit over the top-100 vocabulary: OLS slope of ln(freq)
    // on ln(rank) — the corpus-health summary statistic beside
    // text_heaps' growth curve (slope ≈ −1 healthy; shallow = head
    // boilerplate, steep = tail collapse). ln(rank) terms are injected
    // literals; the sums fold in rank order (see TextAnalysis.zipfSlope).
    "text_zipf" -> { (s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir), "text", k = 100)
    },

    // Gopher-style WITHIN-doc repetition (top-bigram/trigram fraction,
    // duplicated-5gram position coverage) — the boilerplate filter family.
    "text_gopher" -> { (s, dir) =>
      TextAnalysis.gopherRepetition(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // the composed curation pass: every scan-shaped quality signal
    // (language ID, token stats, stopword ratio, repetition, learned
    // classifier) plus the keep verdict in ONE zero-shuffle projection —
    // at 100 TB this is the single read that decides a doc's fate, so it
    // must pipeline with the scan, not fan out into per-signal jobs.
    "curate_filter" -> { (s, dir) =>
      val t = col("text")
      val nTok = TextAnalysis.tokenCount(t)
      val rep = TextAnalysis.repetitionScore(t)
      val z = TextAnalysis.classifierLogit(t)
      Tables.fanned(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(t).as("lang_guess"),
        nTok.as("n_tokens"),
        ((length(t) - (nTok - 1)).cast("double") / nTok.cast("double"))
          .as("mean_token_len"),
        (TextAnalysis.stopwordHits(t, TextAnalysis.stopwords("en")).cast("double")
          / nTok.cast("double")).as("stopword_ratio"),
        rep.as("rep"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("clf_score"),
        (nTok >= 30 && rep < 0.6 && z > 0).as("keep"))
    },

    // winnowing fingerprints (SIGMOD 2003): per-window minimal k-gram
    // hashes, rightmost on ties — substring-granular contamination index.
    "text_winnow" -> { (s, dir) =>
      TextAnalysis.winnow(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4)
    },

    // fastText-style hashed-logistic quality classifier — one scan-shaped
    // projection (hash, weight lookup, ordered fold all inside codegen).
    "text_classify" -> { (s, dir) =>
      TextAnalysis.classifierScore(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // precision/recall of the quality classifier against the lang='en'
    // reference at five cutoffs — the threshold-calibration table. One
    // scan, |thresholds| confusion rows via map-side partial agg.
    "eval_pr_curve" -> { (s, dir) =>
      TextAnalysis.prCurve(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", Seq(0.5, 0.52, 0.54, 0.56, 0.58))
    },

    // the volume side of the same calibration: docs/tokens surviving
    // each candidate quality bar — what each extra point of precision
    // costs in corpus (pr_curve's partner table for picking the
    // operating point).
    "curate_yield_curve" -> { (s, dir) =>
      TextAnalysis.yieldCurve(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        Seq(0.5, 0.52, 0.54, 0.56, 0.58))
    },

    // token-exact phrase search ("table scan") through positional
    // postings — consecutive-position intersection, corpus tokens pruned
    // map-side to the phrase's terms.
    "text_phrase" -> { (s, dir) =>
      graft.ops.Retrieval.phraseSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("table", "scan"))
    },

    // exact midrank ROC-AUC of the quality classifier vs the lang='en'
    // reference — the single-number companion to eval_pr_curve. Exact
    // integers until one double division; the cum-sum window runs over
    // the distinct-score table (≤10⁴ rows at 4 decimals), never the
    // corpus.
    "eval_auc" -> { (s, dir) =>
      TextAnalysis.aucScore(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
    },

    // NDCG@10 of the brute-force neighbor ranking against binary label
    // relevance — the standard retrieval-quality metric beside
    // sim_recall's set overlap. Discount weights 1/log₂(i+1) and the
    // ideal-DCG partial sums are computed ONCE in Scala and injected as
    // identical literals into both plans (the libm-divergence pattern:
    // ln differs in the last ulp across engines, a shared literal
    // cannot). Per-query rows hash the whole metric, not just a mean.
    "eval_ndcg" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val lbl = emb.select(col("vec_id"), col("label"))
      val wArr = array(NdcgWeights.map(lit): _*)
      val iArr = array(NdcgIdcg.map(lit): _*)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 10)
        .join(broadcast(lbl.select(col("vec_id").as("query_id"),
          col("label").as("ql"))), "query_id")
        .join(broadcast(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl"))), "neighbor_id")
        .groupBy(col("query_id"))
        .agg(
          sum(when(col("ql") === col("nl"),
            element_at(wArr, col("rank").cast("int"))).otherwise(0.0))
            .as("dcg"),
          sum(when(col("ql") === col("nl"), 1L).otherwise(0L)).as("n_rel"))
        .select(col("query_id"), col("n_rel"),
          when(col("n_rel") > 0,
            round(col("dcg") / element_at(iArr, col("n_rel").cast("int"))
              * 1000000) / 1000000)
            .otherwise(lit(0.0)).as("ndcg"))
    },

    // per-class confusion rollup of the kNN label predictions — the
    // multiclass P/R/F1 card that closes the eval family (AUC and
    // calibration are binary; this is the per-class view). tp/fp/fn are
    // exact counts off one (label, predicted) aggregate; each metric is
    // one guarded division (F1 via 2tp/(n_true+n_pred) — no chained
    // p·r/(p+r) float algebra).
    "eval_confusion" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pred = Similarity.knnLabel(emb, emb.where(col("vec_id") < 50),
        "vec_id", "embedding", "label", k = 5)
      val rowt = pred.groupBy(col("label").as("cls"))
        .agg(count(lit(1)).as("n_true"))
      val colt = pred.groupBy(col("predicted").as("cls"))
        .agg(count(lit(1)).as("n_pred"))
      val tps = pred.where(col("predicted") === col("label"))
        .groupBy(col("label").as("cls")).agg(count(lit(1)).as("tp"))
      def r6(c: org.apache.spark.sql.Column) = round(c * 1000000) / 1000000
      rowt.join(colt, Seq("cls"), "full_outer")
        .join(tps, Seq("cls"), "left")
        .select(col("cls").as("label"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
          when(col("n_pred") > 0,
            r6(col("tp").cast("double") / col("n_pred").cast("double")))
            .as("precision"),
          when(col("n_true") > 0,
            r6(col("tp").cast("double") / col("n_true").cast("double")))
            .as("recall"),
          when(col("n_true") + col("n_pred") > 0,
            r6(lit(2.0) * col("tp").cast("double") /
              (col("n_true") + col("n_pred")).cast("double"))).as("f1"))
    },

    // MRR@10 of the same neighbor ranking — the retrieval metric a RAG
    // stack actually monitors (where is the FIRST relevant hit?). The
    // reciprocal rank travels as the exact integer 2520/rank (2520 =
    // lcm(1..10)), so per-query rows and any downstream mean are pure
    // integer arithmetic — no float reciprocal to drift.
    "eval_mrr" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val lbl = emb.select(col("vec_id"), col("label"))
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 10)
        .join(broadcast(lbl.select(col("vec_id").as("query_id"),
          col("label").as("ql"))), "query_id")
        .join(broadcast(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl"))), "neighbor_id")
        .groupBy(col("query_id"))
        .agg(min(when(col("ql") === col("nl"), col("rank")))
          .as("first_rel_rank"))
        .select(col("query_id"), col("first_rel_rank"),
          coalesce((lit(2520L) / col("first_rel_rank")).cast("long"), lit(0L))
            .as("rr_x2520"))
    },

    // Cohen's kappa between two automated raters (kNN label at k=5 vs
    // k=3) — the annotator-agreement statistic an LLM-judge pipeline
    // reports before trusting auto-labels. Chance-corrected agreement
    // collapses to ONE exact rational: (n·Σagree − Σ_c n1_c·n2_c) /
    // (n² − Σ_c n1_c·n2_c) — integer until a single rounded division.
    "eval_kappa" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 50)
      // one neighbor pass serves both raters (knnLabelPair — the k=3
      // list is rank<=3 of the k=5 ranking; r16 optimization)
      val both = Similarity.knnLabelPair(emb, q, "vec_id", "embedding",
          "label", k1 = 5, k2 = 3)
        .localCheckpoint() // marginals + agreement both read it
      val cross = both.groupBy(col("r1").as("cls")).agg(count(lit(1)).as("n1"))
        .join(both.groupBy(col("r2").as("cls")).agg(count(lit(1)).as("n2")), "cls")
        .agg(sum(col("n1") * col("n2")).as("pe_cross"))
      both.agg(count(lit(1)).as("n"),
          sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("n_agree"))
        .crossJoin(broadcast(cross))
        .select(col("n"), col("n_agree"),
          coalesce(col("pe_cross"), lit(0L)).as("pe_cross"),
          TimeSeries.portableRound6(
            (col("n") * col("n_agree") - col("pe_cross")).cast("double") /
              nullif(col("n") * col("n") - col("pe_cross"), lit(0L))
                .cast("double")).as("kappa"))
    },

    // Krippendorff's alpha (nominal, two raters) over the same rater
    // pair — kappa's sibling that corrects by the POOLED label
    // distribution with the small-sample (N−1) term instead of the
    // per-rater marginals; reporting both is the standard agreement
    // card. α = 1 − Do/De collapses to the exact integer ratio
    // 1 − n_dis·N·(N−1) / (n·(N(N−1) − Σ_c n_c(n_c−1))), N = 2n.
    "eval_krippendorff" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 50)
      // one neighbor pass serves both raters (knnLabelPair, as
      // eval_kappa)
      val both = Similarity.knnLabelPair(emb, q, "vec_id", "embedding",
          "label", k1 = 5, k2 = 3)
        .localCheckpoint() // pooled counts + the disagreement agg
      val pooled = both.select(col("r1").as("c"))
        .unionAll(both.select(col("r2").as("c")))
        .groupBy(col("c")).agg(count(lit(1)).as("nc"))
        .agg(sum(col("nc") * (col("nc") - 1L)).as("pe_pairs"))
      both.agg(count(lit(1)).as("n"),
          sum(when(col("r1") =!= col("r2"), 1L).otherwise(0L))
            .as("n_disagree"))
        .crossJoin(broadcast(pooled))
        .select(col("n"), col("n_disagree"),
          coalesce(col("pe_pairs"), lit(0L)).as("pe_pairs"),
          TimeSeries.portableRound6(lit(1.0) -
            (col("n_disagree") * lit(2L) * col("n") *
              (lit(2L) * col("n") - 1L)).cast("double") /
              nullif(col("n") * (lit(2L) * col("n") *
                (lit(2L) * col("n") - 1L) - col("pe_pairs")), lit(0L))
                .cast("double")).as("alpha"))
    },

    // calibration table: per score decile, exact counts and an exact
    // integer-summed mean score vs the empirical positive rate.
    "eval_calibration" -> { (s, dir) =>
      TextAnalysis.calibration(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", bins = 10)
    },

    // expected calibration error — the one-number card on top of
    // eval_calibration's table: ECE = Σ (n_b/N)·|frac_pos_b − mean_score_b|.
    // Both per-bin terms are the calibration table's own 6dp-rounded
    // doubles (already hash-proven identical across engines); the
    // weighted sum folds over the ≤10-bin array in bin order so both
    // engines add the same doubles in the same sequence (the stat_anova
    // discipline), one division by N at the end.
    "eval_ece" -> { (s, dir) =>
      val cal = TextAnalysis.calibration(Tables.fanned(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", bins = 10)
      cal
        .agg(sort_array(collect_list(struct(col("bin"),
            (abs(col("frac_pos") - col("mean_score")) *
              col("n").cast("double")).as("x")))).as("terms"),
          sum(col("n")).as("n_docs"))
        .select(col("n_docs"),
          TimeSeries.portableRound6(
            aggregate(col("terms"), lit(0.0),
              (acc, t) => acc + t.getField("x")) /
              col("n_docs").cast("double")).as("ece"))
    },

    // Murphy decomposition of the (binned) Brier score — the other
    // one-number card on the calibration table: REL − RES + UNC, where
    // reliability is the calibration gap ECE squares, resolution is how
    // much the bins actually separate the classes, and uncertainty is
    // the base-rate floor o̅(1−o̅) no filter can beat. Tells WHY a score
    // is bad: high REL → recalibrate (cheap, monotone map); low RES →
    // retrain (the filter doesn't rank). Same portability shape as
    // eval_ece: per-bin terms from the hash-proven rounded table, folded
    // in bin order; the base rate is one exact-count division.
    "eval_brier" -> { (s, dir) =>
      val cal = TextAnalysis.calibration(Tables.fanned(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", bins = 10)
      val r6 = (c: org.apache.spark.sql.Column) => TimeSeries.portableRound6(c)
      val packed = cal.agg(
        sum(col("n")).as("n_docs"), sum(col("pos_n")).as("pos_total"),
        sort_array(collect_list(struct(col("bin"), col("n"),
          col("mean_score"), col("frac_pos")))).as("bins"))
      val obar = col("pos_total").cast("double") / col("n_docs").cast("double")
      def fold(term: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column) =
        aggregate(col("bins"), lit(0.0), (acc, b) =>
          acc + term(b.getField("mean_score") - b.getField("frac_pos"),
            b.getField("frac_pos")) * b.getField("n").cast("double")) /
          col("n_docs").cast("double")
      val rel = fold((gap, _) => gap * gap)
      val res = fold((_, fp) => (fp - obar) * (fp - obar))
      val unc = obar * (lit(1.0) - obar)
      packed.select(col("n_docs"), r6(obar).as("base_rate"),
        r6(rel).as("reliability"), r6(res).as("resolution"),
        r6(unc).as("uncertainty"), r6(rel - res + unc).as("brier"))
    },

    // k-anonymity audit over the (lang, source, size-bucket) quasi-
    // identifiers: every equivalence class with its size, k≥5 verdict,
    // and 1/n re-identification risk — the metadata governance gate
    // beside redact_pii's free-text scrub. One hash agg.
    "gov_kanon" -> { (s, dir) =>
      CorpusOps.kAnonymity(
        Tables.documents(s, dir)
          .withColumn("size_bucket", floor(col("n_chars") / 100)),
        Seq("lang", "source", "size_bucket"), k = 5)
    },

    // l-diversity audit — the homogeneity-attack check k-anonymity
    // misses: a (source, size-bucket) class whose members all share one
    // lang is k-anonymous yet leaks the sensitive value outright. Same
    // one-hash-agg shape as gov_kanon.
    "gov_ldiv" -> { (s, dir) =>
      CorpusOps.lDiversity(
        Tables.documents(s, dir)
          .withColumn("size_bucket", floor(col("n_chars") / 100)),
        Seq("source", "size_bucket"), "lang", l = 3)
    },

    // contribution bounding over the events stream — the DP-prep /
    // whale-robustness leg of the governance family: cap each user at
    // 8 events per type (first 8 by event_id, deterministic), report
    // raw vs bounded exact cent sums and how many users hit the cap.
    "gov_contrib_bound" -> { (s, dir) =>
      CorpusOps.contributionBound(Tables.events(s, dir),
        "user_id", "event_type", "value", "event_id", cap = 8)
    },

    // t-closeness audit — the distribution leg of the privacy triad: a
    // class whose lang distribution diverges from the corpus-wide one
    // leaks by skew even when l-diverse. TV distance from exact integer
    // cross-products, one portably-rounded division.
    "gov_tclose" -> { (s, dir) =>
      CorpusOps.tCloseness(
        Tables.documents(s, dir)
          .withColumn("size_bucket", floor(col("n_chars") / 100)),
        Seq("source", "size_bucket"), "lang", t = 0.5)
    },

    // deterministic per-source sample of exactly 5 docs: md5-rank within
    // the group, rank ≤ 5 — WindowGroupLimit prunes every partition to 5
    // rows per source MAP-SIDE, so per-group state is k, not group size.
    "sample_per_source" -> { (s, dir) =>
      CorpusOps.samplePerGroup(Tables.documents(s, dir), "doc_id", "source",
        k = 5).select("doc_id", "source")
    },

    // Efraimidis–Spirakis weighted sample (w = n_chars): 50 winners by
    // ln(u)/w priority — inclusion odds scale with doc length, selection
    // is a pure function of the data. Scan + TakeOrdered top-k.
    "sample_weighted" -> { (s, dir) =>
      CorpusOps.sampleWeighted(Tables.documents(s, dir), "doc_id", "n_chars",
        k = 50).select("doc_id", "n_chars", "skey")
    },

    // DSIR-style importance weights toward the src0 target domain: mean
    // bigram log-likelihood ratio (target model vs general model).
    "mix_dsir" -> { (s, dir) =>
      TextAnalysis.dsirWeights(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0")
    },

    // PII scrub: the corpus text is synthetic (no PII), so the query
    // plants a deterministic email/URL/phone per doc — built identically
    // by the oracle — and the redaction+audit must strip/count them.
    "text_redact" -> { (s, dir) =>
      val aug = concat(substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id"), lit("@example.com via https://ex.com/d/"),
        col("doc_id"), lit(" or call +1 555-000-"), col("doc_id"), lit(" now"))
      Tables.fanned(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.redactPii(aug).as("clean"),
        TextAnalysis.piiHits(aug).as("n_pii"))
    },

    // domain-mixing weights toward a non-uniform target distribution.
    "mix_weights" -> { (s, dir) =>
      CorpusOps.mixWeights(Tables.documents(s, dir), "source", MixTargets)
    },

    // DoReMi-style domain reweighting — one exponentiated-gradient step
    // on the mixture from measured per-domain difficulty: each source's
    // excess loss (mean corpus-LM log-prob deficit vs the corpus mean,
    // in nats — the sidecar'd text_lm_interp scores, eval_ppl_by_source
    // stays the from-scratch builder) multiplies its base weight by
    // exp(η·excess), then the weights renormalize — harder-than-average
    // domains get more replay, the published mirror-descent update with
    // the trained proxy's per-domain loss replaced by the n-gram LM's
    // (the measurable stand-in at curation time). Portability: the
    // per-doc 4dp scores sum as DECIMAL (order-free, exact); the means
    // are one double division each; exp is 6dp-rounded (the libm-ulp
    // discipline); the normalizer folds the ≤|sources| weights in
    // source order. Plan: vocab-sized LM tables + one source groupBy —
    // nothing beyond the builder's own shuffle budget.
    "mix_doremi" -> { (s, dir) =>
      val eta = 0.5
      val r6 = (c: org.apache.spark.sql.Column) => TimeSeries.portableRound6(c)
      val per = cachedLmScores(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lm_score").cast(
            org.apache.spark.sql.types.DecimalType(18, 4))).as("sum_score"))
      val tot = per.agg(sum(col("n_docs")).as("n_all"),
        sum(col("sum_score")).as("sum_all"))
      // lm_score is a mean LOG-PROB (higher = easier): a harder-than-
      // average source has meanS below meanAll → positive excess
      val meanS = col("sum_score").cast("double") / col("n_docs").cast("double")
      val meanAll = col("sum_all").cast("double") / col("n_all").cast("double")
      val scored = per.crossJoin(broadcast(tot))
        .withColumn("w0", col("n_docs").cast("double") /
          col("n_all").cast("double"))
        .withColumn("excess", meanAll - meanS)
        .withColumn("raw", col("w0") * r6(exp(lit(eta) * col("excess"))))
      val wsum = scored
        .agg(sort_array(collect_list(struct(col("source"), col("raw"))))
          .as("l"))
        .select(aggregate(col("l"), lit(0.0),
          (a, x) => a + x.getField("raw")).as("wsum"))
      scored.crossJoin(broadcast(wsum))
        .select(col("source"), col("n_docs"),
          r6(col("w0")).as("w0"),
          r6(col("excess")).as("excess_nats"),
          r6(col("raw") / col("wsum")).as("w_doremi"))
    },

    // token-budget allocation: split a training-run token budget
    // (6/10 of the corpus here) across sources by weight with
    // LARGEST-REMAINDER rounding, so Σ quota = budget EXACTLY — the
    // apportionment algorithm, all integer: base = ⌊B·w/W⌋, the B−Σbase
    // leftovers go to the largest remainders (ties on source name).
    // epochs = quota/available tells the sampler how many passes each
    // source sustains. Every window runs on the |sources| table.
    "mix_token_budget" -> { (s, dir) =>
      def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.ops.Stats.fdiv(a, b)
      val avail = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("available"))
      val wName = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
      val wAll = org.apache.spark.sql.expressions.Window
        .orderBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
      val wRem = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("source"))
      avail
        .withColumn("weight", row_number().over(wName).cast("long"))
        .withColumn("tot_w", sum(col("weight")).over(wAll))
        .withColumn("budget", fdiv(sum(col("available")).over(wAll) * 6, lit(10L)))
        .withColumn("base", fdiv(col("budget") * col("weight"), col("tot_w")))
        .withColumn("rem", pmod(col("budget") * col("weight"), col("tot_w")))
        .withColumn("leftover", col("budget") - sum(col("base")).over(wAll))
        .withColumn("quota", col("base") +
          when(row_number().over(wRem) <= col("leftover"), 1L).otherwise(0L))
        .select(col("source"), col("available"), col("weight"), col("quota"),
          (round(col("quota").cast("double") / col("available").cast("double")
            * 1000000) / 1000000).as("epochs"))
    },

    // curriculum staging: shortest-to-longest quartiles (easy→hard
    // ordering for curriculum training), assigned by the DISTRIBUTED
    // exact ntile — bit-identical to SQL ntile, no one-task window.
    "corpus_curriculum" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Relational.ntileExact(d, 4, Seq(col("n_tokens"), col("doc_id")), "stage")
    },

    // per-source corpus health report: the dashboard row a curation
    // team reads per crawl domain — volume, token mass, doc size, and
    // exact-dup involvement (docs whose md5 appears more than once
    // corpus-wide). Two hash-aggs + one co-shuffled join on the digest.
    "report_source" -> { (s, dir) =>
      val withH = Tables.documents(s, dir).withColumn("h", md5(col("text")))
      val hc = withH.groupBy("h").agg(count(lit(1)).as("hc"))
      withH.join(hc, "h")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          (sum(length(col("text"))).cast("double") / count(lit(1)))
            .as("avg_chars"),
          sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_exact_dup"))
    },

    // the mixture APPLIED: deterministic stochastic-rounding resampler
    // (⌊w⌋ + unit-hash Bernoulli on frac(w)) — one rule covers both
    // down- and up-sampling, reproducible across engines and retries.
    "mix_apply" -> { (s, dir) =>
      CorpusOps.applyMixture(Tables.documents(s, dir), "doc_id", "source",
        MixTargets)
    },

    // data-constrained epochs: a 3×-supply token budget waterfilled
    // across sources by weight with a 4-pass repeat cap — exact integer
    // water level (closed form, no iteration), Σ alloc ≡ budget.
    "mix_epochs" -> { (s, dir) =>
      val wName = org.apache.spark.sql.expressions.Window
        .orderBy(col("source"))
      val counts = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("available"))
        .withColumn("weight", row_number().over(wName).cast("long"))
      CorpusOps.waterfillBudget(counts, "source",
        budgetNum = 3, budgetDen = 1, maxRepeat = 4)
    },

    // temperature-scaled mixture weights (multilingual-LM sampling, α<1
    // upweights small domains): w(src) ∝ tokens(src)^α, normalized.
    "mix_temperature" -> { (s, dir) =>
      val alpha = 0.3
      val perSrc = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("w_raw", pow(col("n_tokens").cast("double"), alpha))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      perSrc
        .withColumn("weight", round(col("w_raw") / sum(col("w_raw")).over(w), 6))
        .select(col("source"), col("n_tokens"), col("weight"))
    },

    // deterministic training ORDER: global rank by md5(doc_id) — the
    // reproducible corpus shuffle every training run needs (stable under
    // repartitioning and re-runs, unlike rand(seed)). A global total
    // order IS a global sort, so this op legitimately pays ONE range
    // exchange — but never a single-partition window (the row_number()-
    // over-empty-window trap): positions come from zipWithIndex over the
    // range-sorted partitions, the canonical Spark shape (range pid
    // order == key order regardless of boundary sampling, so the result
    // is deterministic).
    "corpus_order" -> { (s, dir) =>
      import s.implicits._
      val sorted = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(to_binary(col("doc_id").cast("string"), lit("utf-8")))
            .as("shuffle_key"))
        .repartitionByRange(col("shuffle_key"), col("doc_id"))
        .sortWithinPartitions("shuffle_key", "doc_id")
      sorted.rdd.map(r => (r.getLong(0), r.getString(1)))
        .zipWithIndex().map { case ((id, k), i) => (id, k, i + 1L) }
        .toDF("doc_id", "shuffle_key", "position")
    },

    // shuffle-quality audit of the training order: the source-transition
    // matrix over consecutive positions — a badly mixed corpus (long
    // same-source runs) shows up as a heavy diagonal, and same-source
    // runs are exactly what cause loss spikes and order-correlated
    // gradient noise in pretraining. Adjacency via a position+1
    // equi-join (one linear shuffle on position), NEVER a global window
    // — the order itself comes from the same distributed
    // range-repartition + zipWithIndex machinery as corpus_order.
    "corpus_order_mix" -> { (s, dir) =>
      import s.implicits._
      val sorted = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(to_binary(col("doc_id").cast("string"), lit("utf-8")))
            .as("shuffle_key"))
        .repartitionByRange(col("shuffle_key"), col("doc_id"))
        .sortWithinPartitions("shuffle_key", "doc_id")
      val ord = sorted.rdd.map(r => (r.getLong(0), r.getString(1)))
        .zipWithIndex().map { case ((_, src), i) => (src, i + 1L) }
        .toDF("source", "position")
      val nxt = ord.select(col("source").as("next_source"),
        (col("position") - 1L).as("position"))
      ord.join(nxt, "position")
        .groupBy(col("source"), col("next_source"))
        .agg(count(lit(1)).as("n"))
    },

    // per-EPOCH training order: each epoch e draws a fresh deterministic
    // permutation from md5(e:doc_id) — different epoch, different order,
    // same reproducibility (the multi-epoch loader contract: no two
    // epochs present the corpus identically, yet any worker can recompute
    // its slice). Same distributed machinery as corpus_order — range
    // repartition + zipWithIndex, never a global window; per-epoch
    // positions recover from the global index because every epoch block
    // holds exactly |docs| rows.
    "corpus_epoch_order" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val epochs = s.range(3).select(col("id").cast("long").as("epoch"))
      val sorted = docs.crossJoin(broadcast(epochs))
        .select(col("epoch"), col("doc_id"),
          md5(to_binary(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string")), lit("utf-8"))).as("shuffle_key"))
        .repartitionByRange(col("epoch"), col("shuffle_key"), col("doc_id"))
        .sortWithinPartitions("epoch", "shuffle_key", "doc_id")
      sorted.rdd.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .zipWithIndex().map { case ((e, id, k), i) =>
          (e, id, k, i + 1L - e * n) }
        .toDF("epoch", "doc_id", "shuffle_key", "position")
    },

    // the curation YIELD REPORT — docs and tokens surviving each stage
    // of the standard pipeline (raw → exact dedup → quality gate →
    // cross-doc span removal): the one table a data lead reads before
    // signing off a snapshot ("how much did we pay for cleanliness").
    // Every stage reuses the exact operator the standalone queries
    // verify (fingerprint canonical, the curate_pipeline quality gate,
    // dupFraction's span coverage on the survivors); span_clean keeps
    // the doc count and subtracts the covered-token total.
    "curate_funnel" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val nTok = TextAnalysis.tokenCount(col("text"))
      val mtl = (length(col("text")) - (nTok - 1)).cast("double") /
        nTok.cast("double")
      val norm = docs.select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        nTok.as("n_tokens"), mtl.as("mtl"))
        .localCheckpoint() // four stage consumers
      val canon = norm.groupBy("fp").agg(min("doc_id").as("keep_id"))
      val kept = norm.join(canon, norm("doc_id") === canon("keep_id"))
        .select(norm("doc_id"), col("text"), col("n_tokens"), col("mtl"))
      val quality = kept
        .where(col("n_tokens") >= 20 && col("mtl").between(3.0, 12.0))
        .localCheckpoint() // counted once, span-scanned once
      val removed = Dedup.dupFraction(
        quality.select(col("doc_id"), col("text")), "doc_id", "text")
        .agg(sum(col("n_dup_tokens")).as("t_removed"))
      def stage(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage("1_raw", norm)
        .unionByName(stage("2_exact_dedup", kept))
        .unionByName(stage("3_quality", quality))
        .unionByName(stage("3_quality", quality).crossJoin(removed)
          .select(lit("4_span_clean").as("stage"), col("n_docs"),
            (col("n_tokens") - col("t_removed")).as("n_tokens")))
    },

    // NEXT-fit packing — the hash-checkable packing variant (prefix fold
    // per shard, replayed row-for-row by the oracle's recursive CTE);
    // first-fit pack_bins keeps its law spec.
    "pack_bins_nf" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .as[CorpusOps.PackedDoc]
      CorpusOps.packNextFit(toks, binTokens = 256, numShards = 8).toDF()
        .select(col("bin_key"), col("bin_idx"),
          concat_ws(",", col("ids")).as("ids"), col("total_tokens"))
    },

    // ---- dedup ---------------------------------------------------------
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
    },

    "dedup_minhash" -> { (s, dir) =>
      Dedup.minhashLshPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        numPerm = 12, rowsPerBand = 3)
    },

    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
    },

    // NOTE: the exhaustive ngramJaccardPairs reference ("dedup_jaccard")
    // is intentionally NOT registered: its pair volume is corpus-pair-
    // proportional by design (measured near-LINEAR at 125×, 452 s), so
    // it has no production role at scale. The two-stage
    // `dedup_lsh_verified` is the registered shape; the exhaustive form
    // lives on as the differential baseline in ReferenceTwinSpec.

    // estimator calibration: signature-agreement estimate vs exact
    // Jaccard per LSH candidate — how far the banding geometry is from
    // truth on THIS corpus, certified in-engine.
    "dedup_minhash_calib" -> { (s, dir) =>
      Dedup.minhashCalibration(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // text-side threshold sweep (emb_threshold_sweep's twin): one
    // LSH-candidate + exact-Jaccard pass, every candidate threshold
    // read off the SAME pair table — pair counts and docs-affected per
    // bar, so the dedup threshold is picked from a measured knee, not
    // re-run per candidate value.
    "dedup_threshold_sweep" -> { (s, dir) =>
      // sidecar pair table at the 0.1 floor; every threshold reuses it
      val pairs = cachedVerifiedPairs(s, dir)
      val ts = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
      pairs.select(col("jaccard"), col("a"), col("b"),
          explode(array(ts.map(lit): _*)).as("t"))
        .where(col("jaccard") >= col("t"))
        .select(col("t"), explode(array(col("a"), col("b"))).as("d"))
        .groupBy(col("t"))
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("d")).as("n_docs_affected"))
    },

    // asymmetric containment pairs: |A∩B|/|A| per direction — catches
    // subset duplication (a doc quoted wholesale inside a bigger one)
    // that symmetric Jaccard structurally misses. Same posting-list
    // pass and hot-shingle cap as dedup_jaccard.
    "dedup_contain" -> { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.8)
    },

    // the dup-graph edge set itself, FROM SCRATCH — the graph family's
    // registered builder entry (its consumers read the sidecar; this
    // one never does, so the posting-list build cost stays measured).
    "graph_edges" -> { (s, dir) =>
      graft.ops.GraphOps.spanEdges(Tables.fanned(s, dir, "documents"),
        "doc_id", "text")
    },

    // centrality over the shared-span dup graph: fixed-point PageRank —
    // boilerplate hubs (docs whose spans radiate everywhere) rank first
    // for curation review. 3 exact integer iterations, hash-checkable.
    "graph_pagerank" -> { (s, dir) =>
      graft.ops.GraphOps.pageRank(Tables.documents(s, dir),
        cachedSpanEdges(s, dir), "doc_id", iters = 3)
    },

    // deterministic label-propagation communities over the dup graph:
    // most-frequent-neighbor label, ties to the smallest — splits
    // template FAMILIES apart where plain connected components fuses
    // everything one chain links.
    "graph_lpa" -> { (s, dir) =>
      graft.ops.GraphOps.labelPropagation(Tables.documents(s, dir),
        cachedSpanEdges(s, dir), "doc_id", iters = 3)
    },

    // Newman modularity OF those communities — the quality certificate
    // for the LPA split (and the objective Louvain-style methods climb):
    // one exact rational [Σ_c(4·m·e_c − deg_c²)]/(4m²), plus coverage.
    // The score is what says "these communities are real structure, not
    // a random carve-up" before anyone acts on them.
    "graph_modularity" -> { (s, dir) =>
      // the sidecar IS the checkpoint: LPA's 3 rounds + both modularity
      // passes read the same materialized edge blocks
      val edges = cachedSpanEdges(s, dir)
      graft.ops.GraphOps.modularity(edges,
        graft.ops.GraphOps.labelPropagation(Tables.documents(s, dir),
          edges, "doc_id", iters = 3),
        "doc_id")
    },

    // effective dataset size after dedup (Lee et al. 2022's headline
    // number, per source): token volume, cross-doc-duplicated token
    // volume, and the effective fraction a trainer actually gets —
    // dupFraction's per-doc scores rolled up through the doc → source
    // map. The source with the worst effective fraction is where the
    // dedup budget goes first.
    "dedup_effective_size" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.dupFractionOf(cachedSpanCoverage(s, dir), docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_dup_tokens")).as("dup_tokens"))
        .select(col("source"), col("total_tokens"), col("dup_tokens"),
          graft.ops.TimeSeries.portableRound6(
            lit(1.0) - col("dup_tokens").cast("double") /
              col("total_tokens").cast("double")).as("effective_frac"))
    },

    // Heaps-law vocabulary growth: distinct tokens seen within the
    // first N docs, for a ladder of N — the corpus-diversity diagnostic
    // (a flattening curve means new data stopped bringing new language;
    // sub-Heaps growth flags template/boilerplate floods). EXACT in one
    // pass: a token's first-doc is min(doc_id), and vocab(N) = tokens
    // with first_doc < N — no cumulative-distinct machinery, just one
    // token hash-agg and a 5-condition fold.
    "text_heaps" -> { (s, dir) =>
      val first = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(min(col("doc_id")).as("fd"))
      val ths = Seq(100L, 200L, 500L, 1000L, 5000L)
      first.agg(count(lit(1)).as("vocab_total"),
        ths.map(t => sum(when(col("fd") < t, 1L).otherwise(0L))
          .as(s"vocab_$t")): _*)
    },

    // cross-source duplication matrix: for every source pair, how many
    // doc pairs share a verbatim 15-token span — the data-sourcing
    // signal behind licensing and dedup-priority decisions (a source
    // that mostly mirrors another adds licensing risk, not data). Same
    // capped posting-list pair expansion as the dup graph; the doc →
    // source map joins on the high-cardinality doc id.
    "dedup_source_matrix" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      cachedSpanEdges(s, dir)
        .where(col("src") < col("dst"))
        .join(src.select(col("doc_id").as("src"), col("source").as("sa")), "src")
        .join(src.select(col("doc_id").as("dst"), col("source").as("sb")), "dst")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
    },

    // k-core kernel of the dup graph: peel degree-<2 nodes for 3 fixed
    // rounds, report survivors with their induced degree — chains and
    // stragglers peel away, template families (the dense kernels worth
    // a curation pass) survive. Fixed rounds keep it hash-checkable by
    // an unrolled-CTE oracle.
    "graph_kcore" -> { (s, dir) =>
      graft.ops.GraphOps.kCore(cachedSpanEdges(s, dir), k = 2, rounds = 3)
        .withColumnRenamed("id", "doc_id")
    },

    // neighborhood-Jaccard link prediction over the dup graph: pairs
    // with high shared-neighbor overlap but NO edge are the near-dups
    // the span detector missed — the graph's own completion signal.
    "graph_jaccard" -> { (s, dir) =>
      graft.ops.GraphOps.neighborhoodJaccard(
        cachedSpanEdges(s, dir), minCommon = 1)
    },

    // triangle census of the same dup graph: triangles measure how
    // CLIQUISH the near-dup neighborhoods are (template families form
    // dense triangles; chains of pairwise matches don't) — degree-ordered
    // orientation keeps the wedge join skew-proof.
    "graph_triangles" -> { (s, dir) =>
      graft.ops.GraphOps.triangleCount(cachedSpanEdges(s, dir))
    },

    // clustering-coefficient summary of the dup graph: transitivity
    // (hub-weighted) vs average LOCAL coefficient (node-weighted) —
    // the gap is the clique-vs-star diagnostic (template families
    // drive both up; star boilerplate holds transitivity near 0 while
    // leaves pin C_v = 0). Per-node C_v quantized to the 1e-8 grid and
    // summed exactly (GraphOps.clusteringCoefficient).
    "graph_clustering" -> { (s, dir) =>
      graft.ops.GraphOps.clusteringCoefficient(cachedSpanEdges(s, dir))
    },

    // HITS over the CONTAINMENT digraph (container → contained): hubs
    // are aggregator docs quoting many others, authorities the
    // canonical sources quoted everywhere — the two distinct curation
    // actions (drop the aggregator / keep one canonical copy) that
    // symmetric centrality (pagerank on the undirected dup graph)
    // cannot tell apart. Exact fixed-point rounds, hash-checkable.
    "graph_hits" -> { (s, dir) =>
      // sidecar pair table: both direction filters read the same blocks
      val cont = cachedContainPairs(s, dir)
      graft.ops.GraphOps.hits(
          cont.where(col("c_a") >= 0.8)
            .select(col("b").as("src"), col("a").as("dst"))
          .unionAll(cont.where(col("c_b") >= 0.8)
            .select(col("a").as("src"), col("b").as("dst"))),
          iters = 3)
        .withColumnRenamed("id", "doc_id")
    },

    // bounded-radius closeness over the dup graph — the locality leg
    // of the centrality family (degree/PageRank/HITS/this): per doc,
    // exact counts at distance 1/2/3, distance sum, and reach/Σd.
    // Chain middles and clique members separate from bridges without
    // all-pairs shortest paths.
    "graph_closeness" -> { (s, dir) =>
      graft.ops.GraphOps.closeness(cachedSpanEdges(s, dir), radius = 3)
        .withColumnRenamed("id", "doc_id")
    },

    // log2-binned degree distribution of the same dup graph — the
    // structural audit run BEFORE graph-driven dedup: a heavy tail
    // means boilerplate hubs, and the bin boundary is exact (binary
    // string length, no float log).
    "graph_degree_hist" -> { (s, dir) =>
      graft.ops.GraphOps.degreeHistogram(cachedSpanEdges(s, dir))
    },

    // degree assortativity (Newman r) of the dup graph: hubs-to-hubs
    // (assortative template families) vs hubs-to-leaves (star
    // boilerplate) — the sign that tells the CC strategy which shape
    // it is scaling into (GraphOps.assortativity).
    "graph_assortativity" -> { (s, dir) =>
      graft.ops.GraphOps.assortativity(cachedSpanEdges(s, dir))
    },

    // generation-eval metrics over (candidate, reference) pairs —
    // candidate doc d scored against doc d+1 (a deterministic stand-in
    // for a generated/reference join; production pairs arrive
    // pre-keyed). BLEU-2: clipped unigram/bigram precision
    // and their geometric mean — every count exact, the only floats are
    // two divisions, one product, one IEEE sqrt, rounded on the 4dp
    // grid. (Brevity penalty's exp() is libm — not hash-portable — so
    // the length ratio is reported raw alongside the core score.)
    // Self-BLEU — the generation-DIVERSITY read (texygen): high
    // self-similarity across a generated corpus means mode collapse
    // even when per-reference quality looks fine. Exhaustive Self-BLEU
    // is quadratic; the standard practical form scores each doc
    // against k sampled partners — here k = 4 DETERMINISTIC partners
    // (doc_id + j·2654435761 mod N — both engines replay the schedule,
    // self-pairs filtered), so the estimate is reproducible run to
    // run. Per pair the uni/bigram clips run as the native row-local
    // kernel (zero gram shuffle; the only exchanges are the partner
    // equi-join's); per-pair BLEU-2 rounds to 4dp and the per-doc mean
    // sums those as DECIMAL (order-free) with one final division.
    "eval_self_bleu" -> { (s, dir) =>
      val k = 4
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val n = docs.agg(count(lit(1)).as("n"))
      val pairs = docs.crossJoin(broadcast(n))
        .select(col("doc_id"), col("text"), col("n"),
          explode(array((1 to k).map(lit): _*)).as("j"))
        .withColumn("ref_id",
          pmod(col("doc_id") + col("j") * lit(2654435761L), col("n")))
        .where(col("ref_id") =!= col("doc_id"))
        .drop("n", "j")
        .join(docs.select(col("doc_id").as("ref_id"),
          col("text").as("rtext")), "ref_id")
      val ov = TextAnalysis.pairNgramOverlapLocal(
        pairs.withColumn("pk", struct(col("doc_id"), col("ref_id"))),
        "pk", "text", "rtext")
      val p1d = col("clip1").cast("double") / col("c1").cast("double")
      val p2d = col("clip2").cast("double") / col("c2").cast("double")
      ov.select(col("pk.doc_id").as("doc_id"),
          when(col("c1") > 0 && col("c2") > 0,
            graft.ops.TimeSeries.portableRound4(sqrt(p1d * p2d))).as("b"))
        .groupBy(col("doc_id"))
        .agg(count(col("b")).as("k_refs"),
          graft.ops.TimeSeries.portableRound6(
            sum(col("b").cast(org.apache.spark.sql.types.DecimalType(9, 4)))
              .cast("double") / count(col("b")).cast("double"))
            .as("self_bleu2"))
    },

    "eval_bleu" -> { (s, dir) =>
      val p1d = col("clip1").cast("double") / col("c1").cast("double")
      val p2d = col("clip2").cast("double") / col("c2").cast("double")
      genEvalOverlap(s, dir).select(col("doc_id"), col("c1"), col("r1"),
        graft.ops.TimeSeries.portableRound4(p1d).as("p1"),
        when(col("c2") > 0,
          graft.ops.TimeSeries.portableRound4(p2d)).as("p2"),
        when(col("c2") > 0,
          graft.ops.TimeSeries.portableRound4(sqrt(p1d * p2d))).as("bleu2"),
        graft.ops.TimeSeries.portableRound4(
          col("c1").cast("double") / col("r1").cast("double")).as("len_ratio"))
    },

    // ROUGE-L per generation pair — the LCS-based recall metric BLEU's
    // clipped n-grams can't see (a candidate that preserves the
    // reference's ORDER scores high even with gaps; a bag-of-bigrams
    // match does not). The whole metric is one native lcs_length call
    // per row (functions/LcsLength.scala — rolling-row DP over hashed
    // tokens, zero shuffles, the generation-eval row-local family);
    // P = LCS/|cand|, R = LCS/|ref|, F = 2·LCS/(|cand|+|ref|) — three
    // deterministic divisions on the 4dp grid. The oracle replays the
    // DP as an anti-diagonal recursion (each diagonal depends only on
    // the previous two — no intra-row dependency, so it fits a
    // recursive CTE).
    "eval_rouge_l" -> { (s, dir) =>
      val p = genEvalPairs(s, dir).select(col("doc_id"),
        split(col("cand"), " ").as("ct"), split(col("rtext"), " ").as("rt"))
      val la = size(col("ct")).cast("long")
      val lb = size(col("rt")).cast("long")
      p.select(col("doc_id"), la.as("c_len"), lb.as("r_len"),
          graft.functions.LcsLength(col("ct"), col("rt")).as("lcs"))
        .select(col("doc_id"), col("c_len"), col("r_len"), col("lcs"),
          graft.ops.TimeSeries.portableRound4(
            col("lcs").cast("double") / col("c_len").cast("double"))
            .as("rouge_p"),
          graft.ops.TimeSeries.portableRound4(
            col("lcs").cast("double") / col("r_len").cast("double"))
            .as("rouge_r"),
          graft.ops.TimeSeries.portableRound4(
            lit(2.0) * col("lcs").cast("double") /
              (col("c_len") + col("r_len")).cast("double")).as("rouge_f"))
    },

    // corpus-level (micro-averaged) ROUGE-L: LCS and length sums pooled
    // over all pairs before the divisions — the reported form of the
    // metric, and the batch half of GenEvalStream.windowedRouge's
    // frozen-window contract. One row; exact integer sums until three
    // divisions on the 4dp grid.
    "eval_rouge_l_corpus" -> { (s, dir) =>
      val p = genEvalPairs(s, dir).select(col("doc_id"),
        split(col("cand"), " ").as("ct"), split(col("rtext"), " ").as("rt"))
      p.select(size(col("ct")).cast("long").as("cl"),
          size(col("rt")).cast("long").as("rl"),
          graft.functions.LcsLength(col("ct"), col("rt")).as("lcs"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cl")).as("sc"), sum(col("rl")).as("sr"),
          sum(col("lcs")).as("slcs"))
        .select(col("n_pairs"),
          graft.ops.TimeSeries.portableRound4(
            col("slcs").cast("double") / col("sc").cast("double"))
            .as("rouge_p"),
          graft.ops.TimeSeries.portableRound4(
            col("slcs").cast("double") / col("sr").cast("double"))
            .as("rouge_r"),
          graft.ops.TimeSeries.portableRound4(
            lit(2.0) * col("slcs").cast("double") /
              (col("sc") + col("sr")).cast("double")).as("rouge_f"))
    },

    // Word error rate per generation pair — the SEQUENCE-eval metric
    // ROUGE-L's LCS cannot express: WER charges a SUBSTITUTION one
    // unit (LCS charges a delete + an insert), which is the unit ASR
    // and generation regressions are actually graded in. Spark's
    // built-in levenshtein is CHARACTER-level (a one-word swap of
    // different lengths costs its char length — the wrong unit); the
    // whole metric is one native token_edit_distance call per row
    // (functions/TokenEditDistance.scala — rolling-row unit-cost DP
    // over hashed tokens, zero shuffles, the generation-eval row-local
    // family). wer = dist/|ref| (can exceed 1 — the standard metric is
    // unbounded above); edit_sim = 1 − dist/max(|cand|,|ref|) is the
    // bounded [0,1] similarity twin. The oracle replays the DP as an
    // anti-diagonal recursive CTE like eval_rouge_l's, but with the
    // nonzero borders dp[i][0]=i, dp[0][j]=j carried as in-diagonal
    // cells (row 0 / col 0 ARE diagonal members here, so no
    // out-of-range CASEs are needed — every interior read is in range
    // by the band inequalities).
    "eval_wer" -> { (s, dir) =>
      val p = genEvalPairs(s, dir).select(col("doc_id"),
        split(col("cand"), " ").as("ct"), split(col("rtext"), " ").as("rt"))
      p.select(col("doc_id"), size(col("ct")).cast("long").as("c_len"),
          size(col("rt")).cast("long").as("r_len"),
          graft.functions.TokenEditDistance(col("ct"), col("rt")).as("edit"))
        .select(col("doc_id"), col("c_len"), col("r_len"), col("edit"),
          graft.ops.TimeSeries.portableRound4(
            col("edit").cast("double") / col("r_len").cast("double"))
            .as("wer"),
          graft.ops.TimeSeries.portableRound4(
            lit(1.0) - col("edit").cast("double") /
              greatest(col("c_len"), col("r_len")).cast("double"))
            .as("edit_sim"))
    },

    // corpus-level (micro-averaged) WER: edit and length sums pooled
    // over all pairs before the division — the reported form (per-pair
    // WER averaged arithmetically over-weights short references), and
    // the batch half of GenEvalStream.windowedWer's frozen-window
    // contract. One row; exact integer sums until two divisions on the
    // 4dp grid.
    "eval_wer_corpus" -> { (s, dir) =>
      val p = genEvalPairs(s, dir).select(col("doc_id"),
        split(col("cand"), " ").as("ct"), split(col("rtext"), " ").as("rt"))
      p.select(size(col("ct")).cast("long").as("cl"),
          size(col("rt")).cast("long").as("rl"),
          graft.functions.TokenEditDistance(col("ct"), col("rt")).as("edit"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("rl")).as("s_ref"), sum(col("edit")).as("s_edit"),
          sum(greatest(col("cl"), col("rl"))).as("s_max"))
        .select(col("n_pairs"), col("s_ref"), col("s_edit"),
          graft.ops.TimeSeries.portableRound4(
            col("s_edit").cast("double") / col("s_ref").cast("double"))
            .as("wer"),
          graft.ops.TimeSeries.portableRound4(
            lit(1.0) - col("s_edit").cast("double") /
              col("s_max").cast("double")).as("edit_sim"))
    },

    // corpus-level (micro-averaged) BLEU-2: clip and length sums pooled
    // over ALL pairs before the division — the form actually reported
    // for a generation run (per-pair BLEU averaged arithmetically
    // over-weights short candidates; micro-averaging is the metric's
    // own definition). One row; exact integer sums until two divisions,
    // one product, one sqrt.
    "eval_bleu_corpus" -> { (s, dir) =>
      val p1d = col("sclip1").cast("double") / col("sc1").cast("double")
      val p2d = col("sclip2").cast("double") / col("sc2").cast("double")
      genEvalOverlap(s, dir)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c1")).as("sc1"), sum(col("r1")).as("sr1"),
          sum(col("c2")).as("sc2"),
          sum(col("clip1")).as("sclip1"), sum(col("clip2")).as("sclip2"))
        .select(col("n_pairs"),
          graft.ops.TimeSeries.portableRound4(p1d).as("p1"),
          when(col("sc2") > 0,
            graft.ops.TimeSeries.portableRound4(p2d)).as("p2"),
          when(col("sc2") > 0, graft.ops.TimeSeries.portableRound4(
            sqrt(p1d * p2d))).as("bleu2"),
          graft.ops.TimeSeries.portableRound4(
            col("sc1").cast("double") / col("sr1").cast("double"))
            .as("len_ratio"))
    },

    // chrF₂ on the same pairs: CHARACTER-bigram clipped overlap (spaces
    // stripped), recall-weighted F — the tokenization-free metric that
    // survives morphology/compounding where word BLEU breaks. The β=2
    // form collapses to the single rational 5·clip/(4·r2 + c2): exact
    // integers until one division.
    "eval_chrf" -> { (s, dir) =>
      TextAnalysis.pairCharBigramOverlap(genEvalPairs(s, dir),
        "doc_id", "cand", "rtext")
        .select(col("doc_id"), col("clip2"),
          when(col("c2") > 0, graft.ops.TimeSeries.portableRound4(
            col("clip2").cast("double") / col("c2").cast("double")))
            .as("prec2"),
          when(col("r2") > 0, graft.ops.TimeSeries.portableRound4(
            col("clip2").cast("double") / col("r2").cast("double")))
            .as("rec2"),
          when(lit(4L) * col("r2") + col("c2") > 0,
            graft.ops.TimeSeries.portableRound4(
              lit(5.0) * col("clip2").cast("double") /
                (lit(4L) * col("r2") + col("c2")).cast("double")))
            .as("chrf2"))
    },

    // ROUGE-2 on the same pairs: clipped bigram precision/recall and the
    // rational F1 = 2·clip/(c2+r2) — exact integers until one division.
    "eval_rouge2" -> { (s, dir) =>
      genEvalOverlap(s, dir).select(col("doc_id"), col("clip2"),
        when(col("c2") > 0, graft.ops.TimeSeries.portableRound4(
          col("clip2").cast("double") / col("c2").cast("double"))).as("prec2"),
        when(col("r2") > 0, graft.ops.TimeSeries.portableRound4(
          col("clip2").cast("double") / col("r2").cast("double"))).as("rec2"),
        when(col("c2") + col("r2") > 0, graft.ops.TimeSeries.portableRound4(
          lit(2.0) * col("clip2").cast("double") /
            (col("c2") + col("r2")).cast("double"))).as("f1"))
    },

    // SQuAD-style token F1 on the same pairs: clipped UNIGRAM overlap,
    // F1 = 2·clip/(c+r) — the reading-comprehension answer metric
    // (order-free, so a reworded answer still scores). Exact integers
    // until one division per pair; same one-shuffle clip kernel.
    "eval_token_f1" -> { (s, dir) =>
      genEvalOverlap(s, dir).select(col("doc_id"), col("clip1"),
        when(col("c1") > 0, graft.ops.TimeSeries.portableRound4(
          col("clip1").cast("double") / col("c1").cast("double")))
          .as("prec1"),
        when(col("r1") > 0, graft.ops.TimeSeries.portableRound4(
          col("clip1").cast("double") / col("r1").cast("double")))
          .as("rec1"),
        when(col("c1") + col("r1") > 0, graft.ops.TimeSeries.portableRound4(
          lit(2.0) * col("clip1").cast("double") /
            (col("c1") + col("r1")).cast("double"))).as("f1"))
    },

    // pass@k estimator per source (the Codex/HumanEval form): with n
    // trials and c passes, pass@k = 1 − C(n−c,k)/C(n,k) — computed as
    // the UNROLLED left-associated ratio chain Π(n−c−i)/(n−i) so both
    // engines multiply the same doubles in the same order (the binomial
    // products themselves overflow any fixed width at corpus n). The
    // n−c<k degenerate (can't draw k failures) is exactly 1 by
    // convention. Pass predicate: the deterministic n_chars ≥ 800 gate;
    // one hash-agg, map-side partials, rows = |sources|.
    "eval_pass_at_k" -> { (s, dir) =>
      val g = Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 800, 1L).otherwise(0L)).as("c"))
      def r(i: Int) =
        (col("n") - col("c") - i).cast("double") /
          (col("n") - i).cast("double")
      g.select(col("source"), col("n"), col("c"),
        graft.ops.TimeSeries.portableRound4(
          col("c").cast("double") / col("n").cast("double")).as("pass_at_1"),
        graft.ops.TimeSeries.portableRound4(
          when(col("n") - col("c") < 5, 1.0).otherwise(
            lit(1.0) - r(0) * r(1) * r(2) * r(3) * r(4))).as("pass_at_5"))
        .orderBy(col("source"))
    },

    // per-source Simpson diversity of the language mix: 1 − Σ(cᵢ/n)²
    // = (n² − Σcᵢ²)/n² — the probability two random docs differ in
    // language (the log-free diversity index, so the score itself
    // hash-verifies). Counts collapse to the |source|×|lang| domain
    // table; exact DECIMAL(38,0) squares until one division.
    "corpus_diversity" -> { (s, dir) =>
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_langs"),
          sum(col("c").cast(d38) * col("c").cast(d38)).as("sq"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          graft.ops.TimeSeries.portableRound4(
            (col("n_docs").cast(d38) * col("n_docs").cast(d38) - col("sq"))
              .cast("double") /
              (col("n_docs").cast(d38) * col("n_docs").cast(d38))
                .cast("double")).as("simpson"))
    },

    // typo-level dup pairs: prefix blocking + banded-Levenshtein verify —
    // the ER shape for edits minhash's token shingles under-detect.
    "dedup_edit" -> { (s, dir) =>
      Dedup.editPairs(Tables.documents(s, dir), "doc_id", "text",
        prefixLen = 20, maxBlock = 64, verifyLen = 120, maxDist = 10)
    },

    // the production two-stage shape: LSH candidates → exact verify.
    "dedup_lsh_verified" -> { (s, dir) =>
      Dedup.lshVerifiedPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
    },

    // the ORDER-SENSITIVE verifier over the same LSH candidates: LCS
    // similarity instead of shingle Jaccard — keeps reordered remixes
    // as distinct documents (see Dedup.lcsVerifiedPairs).
    "dedup_lcs_verified" -> { (s, dir) =>
      Dedup.lcsVerifiedPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
    },

    "dedup_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    },

    // incremental crawl dedup: docs with id < 250 play the settled
    // corpus; the rest arrive as the new batch and collide against it.
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.fanned(s, dir, "documents")
      Dedup.incrementalDupPairs(
        docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
        "doc_id", "text", numPerm = 12, rowsPerBand = 3)
    },

    // transitive closure of the near-dup graph: every doc labeled with
    // the smallest doc id it can reach (singletons label themselves).
    "dedup_clusters" -> { (s, dir) =>
      Dedup.dupClusters(Tables.fanned(s, dir, "documents"), "doc_id", "text")
    },

    // cluster-size census over the same cluster map: how much of the
    // corpus sits in dup families of each size — the one-table answer
    // to "how duplicated are we, structurally" that sizes the dedup
    // budget before any policy runs (sidecar consumer).
    "dedup_cluster_stats" -> { (s, dir) =>
      cachedDupClusters(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .groupBy(col("n").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n")).as("n_docs"))
    },

    // SOFT dedup: keep every doc, give each near-dup cluster ONE doc's
    // worth of training weight (1/|cluster|) — the over-training fix
    // that never throws away the cleanest copy.
    "dedup_soft_weights" -> { (s, dir) =>
      Dedup.softDedupWeightsOf(cachedDupClusters(s, dir), "doc_id")
    },

    // the star-edge set feeding connected components, hash-checked
    // directly: per (band, bucket) the min id fans out to every other
    // member — LINEAR edge volume per bucket where the pair enumeration
    // is quadratic (the giant-cluster kill-switch at 100 TB).
    "dedup_star_cc" -> { (s, dir) =>
      Dedup.bandedStarEdges(
        Dedup.minhashSignatureExpr(Tables.fanned(s, dir, "documents"), "doc_id", "text",
          numPerm = 12, shingleW = 3),
        "doc_id", numPerm = 12, rowsPerBand = 3)
    },

    // deletion propagation: purge a SEED id set plus its entire near-dup
    // closure — the takedown/right-to-be-forgotten path (removing only
    // the named doc leaves its near-copies in the corpus). Seeds here:
    // every 97th id, a deterministic stand-in for the request list.
    "purge_closure" -> { (s, dir) =>
      val clusters = cachedDupClusters(s, dir)
      val seedClusters = clusters.where(col("doc_id") % 97 === 0)
        .select(col("cluster_id")).distinct()
      clusters.join(broadcast(seedClusters), "cluster_id")
        .select(col("doc_id"), col("cluster_id"))
    },

    // canonical-doc selection: within each dup cluster keep the "best"
    // doc (longest, then smallest id) — the policy layer over clustering;
    // clusters of one keep their only member.
    "dedup_keep_best" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val clusters = cachedDupClusters(s, dir)
      val scored = docs
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(clusters, "doc_id")
      // arg-max as ONE hash aggregate over a lexicographic sort-key
      // struct (longest, then smallest id), not a rank-1 window: the
      // window sorts every cluster's rows; the aggregate keeps one
      // constant-size partial per cluster — the shape that survives
      // clusters with millions of members.
      scored.groupBy("cluster_id")
        .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"),
          col("doc_id").as("kid"))).as("best"))
        .select(col("cluster_id"), col("best.kid").as("keep_id"),
          col("best.n_tokens").as("n_tokens"))
    },

    // eval-contamination check: near-dup collisions between the TEST
    // split and the TRAIN split (exact-dup contamination is empty by
    // construction in this corpus; near-dup is the interesting case).
    "contamination" -> { (s, dir) =>
      val split = CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.incrementalDupPairs(
        split.where(col("split") === "train"),
        split.where(col("split") === "test"),
        "doc_id", "text", numPerm = 12, rowsPerBand = 3)
        .withColumnRenamed("new_id", "test_id")
        .withColumnRenamed("old_id", "train_id")
    },

    // bloom-prefiltered incremental span dedup: the settled corpus
    // (doc_id < 250) publishes a broadcast Bloom of its span hashes; the
    // new crawl is prefiltered MAP-SIDE and only survivors join. No
    // false negatives + exact verify ⇒ the result is exact.
    "dedup_bloom_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.bloomIncrementalSpans(
        docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
        "doc_id", "text", w = 15)
    },

    // the GPT-3/PaLM decontamination standard: 13-gram overlap against
    // the EVAL benchmark carve (doc_id % 50 == 0 stands in for the eval
    // set) — a train doc sharing ANY 13-gram with any eval doc is
    // flagged (the any-hit rule, stricter than contam_frac's fraction
    // bar). Scale shape: a REAL eval set is constant-sized whatever the
    // corpus (here the % 50 carve is a corpus-proportional stand-in, so
    // no broadcast HINT — the planner broadcasts while the gram set fits
    // and falls back to a shuffled semi-join when it does not); the
    // train side is ONE scan + semi-join + per-doc agg either way.
    "contam_13gram" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evalGrams = Dedup.shingles(
          docs.where(col("doc_id") % 50 === 0), "doc_id", "text", w = 13)
        .select(col("shingle")).distinct()
      val hits = Dedup.shingles(
          docs.where(col("doc_id") % 50 =!= 0), "doc_id", "text", w = 13)
        .join(evalGrams, Seq("shingle"), "leftsemi")
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("shingle")).as("n_contam_grams"))
      docs.where(col("doc_id") % 50 =!= 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_contam_grams"), lit(0L)).as("n_contam_grams"),
          (coalesce(col("n_contam_grams"), lit(0L)) === 0L).as("keep"))
    },

    // decontamination policy: per new-crawl doc, the token fraction
    // covered by spans the settled corpus already holds + keep verdict.
    "contam_frac" -> { (s, dir) =>
      val docs = Tables.fanned(s, dir, "documents")
      Dedup.contaminationFraction(
        docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
        "doc_id", "text", w = 15, maxFrac = 0.2)
    },

    // crawl-health drift monitor: token-length distribution of the new
    // crawl vs the settled corpus, chi-square contributions per bin
    // (log-free — engine-exact; PSI/KL's ln cannot hash across libms).
    "drift_tokens" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("v"))
      Relational.driftChi2(
        docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 250),
        "v", binWidth = 20L, nBins = 20)
    },

    // EMBEDDING distribution drift — drift_tokens' twin in vector space:
    // both snapshot halves assign to the FROZEN seed quantizer
    // (map-side literal argmin, no training), and each cell contributes
    // its exact 2×k chi-squared term — the retraining tripwire for an
    // embedding pipeline (has the representation's cell population
    // shifted?). Every count product runs in DECIMAL(38,0) and the
    // exact difference squares in double — Stats.chi2Term carries the
    // full discipline (a BIGINT product of counts wraps at ~9.2e18;
    // the n·r·c denominator triple product wraps first).
    "drift_cells" -> { (s, dir) =>
      val cells = Similarity.seedCellAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumn("side", pmod(col("vec_id"), lit(2)))
      val cnt = cells.groupBy(col("cell"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_cur"))
      val tot = cnt.agg(sum(col("n_ref")).as("cr"), sum(col("n_cur")).as("cc"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("r", col("n_ref") + col("n_cur"))
        .withColumn("n", col("cr") + col("cc"))
        .select(col("cell"), col("n_ref"), col("n_cur"),
          (round((
            graft.ops.Stats.chi2Term(col("n"), col("n_ref"),
              col("r"), col("cr")) +
            graft.ops.Stats.chi2Term(col("n"), col("n_cur"),
              col("r"), col("cc")))
            * 1000000) / 1000000).as("chi2_term"))
    },

    // Population Stability Index over the same frozen quantizer cells —
    // the monitoring-score companion to drift_cells' chi²: PSI weights
    // drift by log-odds, so a cell going 1% → 2% scores like 20% → 40%
    // (chi² would barely notice the first). Laplace +1 smoothing on the
    // counts keeps empty cells finite, with the CELL-COUNT literal in
    // the denominator (the quantizer's cell set is closed at k = 8) —
    // and the output carries ALL k cells, not just the observed ones: a
    // cell empty on both sides still has a nonzero smoothed term
    // whenever the side totals differ, and dropping it would silently
    // understate Σ psi (the 8-row literal universe left-joins the
    // census — review catch). The two shares are one division each; ln
    // is libm on both engines and the 6dp round absorbs the last-ulp
    // divergence (the text_zipf discipline). Per-cell rows — no
    // cross-engine sum-order anywhere.
    "drift_psi" -> { (s, dir) =>
      val k = 8
      val cells = Similarity.seedCellAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumn("side", pmod(col("vec_id"), lit(2)))
      val cnt = cells.groupBy(col("cell"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_cur"))
      val universe = s.range(k).select(col("id").cast("int").as("cell"))
      val full = universe.join(cnt, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      val tot = full.agg(sum(col("n_ref")).as("cr"), sum(col("n_cur")).as("cc"))
      val pr = (col("n_ref") + 1L).cast("double") / (col("cr") + k).cast("double")
      val pc = (col("n_cur") + 1L).cast("double") / (col("cc") + k).cast("double")
      full.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_ref"), col("n_cur"),
          TimeSeries.portableRound6((pc - pr) * log(pc / pr)).as("psi_term"))
    },

    // ---- corpus assembly -------------------------------------------------
    "split_assign" -> { (s, dir) =>
      CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    },

    // cross-split leakage audit: verified near-dup pairs (LSH → exact
    // Jaccard ≥ 0.5) straddling the split_assign boundary — the pairs
    // that turn held-out loss into memorization credit. The fix the
    // audit motivates: split by dup-cluster, not by doc.
    "split_leakage" -> { (s, dir) =>
      // candidates are threshold-free, so >= 0.5 over the 0.1-floor
      // sidecar equals lshVerifiedPairs at 0.5 exactly
      CorpusOps.splitLeakageOf(
        cachedVerifiedPairs(s, dir).where(col("jaccard") >= 0.5),
        Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    // the fix itself: split by near-dup CLUSTER representative — a doc
    // and every near-copy land on the same side by construction (zero
    // leakage is structural, spec-proven).
    "split_assign_cluster" -> { (s, dir) =>
      CorpusOps.clusterSplitOf(cachedDupClusters(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    // corpus version diff: yesterday's snapshot vs today's (both carved
    // deterministically from `documents`; the v2 side edits every 11th
    // doc). Output is the change manifest downstream incremental work
    // keys off — re-embed added∪changed, purge removed.
    "corpus_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val v1 = docs.where(col("doc_id") % 7 =!= 3)
      val v2 = docs.where(col("doc_id") % 5 =!= 2)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusOps.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang", "source"))
        .where(col("change") =!= "unchanged")
    },

    // the capstone compose: exact-dedup canonical -> quality gate ->
    // deterministic split -> token-budget shards for the train split.
    // Every stage is an operator with its own oracle; this query proves
    // they CHAIN (one plan, no materialization between stages).
    "curate_pipeline" -> { (s, dir) =>
      val docs = Tables.fanned(s, dir, "documents")
      val nTok = TextAnalysis.tokenCount(col("text"))
      val mtl = (length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double")
      val norm = docs.select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        nTok.as("n_tokens"), mtl.as("mtl"))
      val canon = norm.groupBy("fp").agg(min("doc_id").as("keep_id"))
      val kept = norm.join(canon, norm("doc_id") === canon("keep_id"))
        .where(col("n_tokens") >= 20 && col("mtl").between(3.0, 12.0))
        .select(norm("doc_id"), col("text"))
      val split = CorpusOps.hashSplit(kept, "doc_id",
        Seq("train" -> 0.9, "holdout" -> 0.1))
      val sharded = CorpusOps.shardByTokenBudget(
          split.where(col("split") === "train"), "doc_id", "text", budget = 5000L)
        .select(col("doc_id"), col("shard"))
      split.select("doc_id", "split").join(sharded, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"),
          coalesce(col("shard"), lit(-1L)).as("shard"))
    },

    // token-budget output sharding: global running token total in id
    // order, computed as a distributed prefix sum (range partition +
    // per-partition window + offset broadcast) — never a one-task window.
    "shard_tokens" -> { (s, dir) =>
      CorpusOps.shardByTokenBudget(Tables.documents(s, dir), "doc_id", "text",
        budget = 10000L)
    },

    // the tokenizer-aware compose: shard budgets measured in LEARNED BPE
    // tokens (what the training run actually consumes), not whitespace
    // counts — train → encode → prefix-sum shard as one verified chain.
    "shard_bpe" -> { (s, dir) =>
      val docs = Tables.fanned(s, dir, "documents")
      val rules = bpeRules(s, dir)
      CorpusOps.shardByBudget(
        Bpe.encodeTokenCounts(docs, "doc_id", "text", rules),
        "doc_id", budget = 10000L)
    },

    "sample_stratified" -> { (s, dir) =>
      CorpusOps.stratifiedSample(Tables.documents(s, dir), "doc_id", "source",
        perStratum = 10)
        .select("doc_id", "source")
    },

    "pack_chunks" -> { (s, dir) =>
      CorpusOps.chunk(Tables.documents(s, dir), "doc_id", "text", chunkTokens = 32)
    },

    // content-defined chunking: boundaries from local w-gram hashes, so
    // edits only reshift the chunks they touch (the dedup-storage rule).
    "pack_cdc" -> { (s, dir) =>
      CorpusOps.cdcChunks(Tables.fanned(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", w = 3, modulus = 32)
    },

    // chunk-level storage dedup over the SAME content-defined chunks:
    // per source, how many chunks (and tokens) recur anywhere in the
    // corpus — the dedup-ratio estimate backing storage planning and
    // the restic/borg-style chunk store. Occurrence counts come from
    // one chunk_hash hash-agg (map-side combine collapses dups before
    // the shuffle); the join back is chunk-sized, the corpus text gone.
    "dedup_chunk" -> { (s, dir) =>
      // two consumers (occurrence agg + the join side): cut the chunk
      // lineage so the md5-explode runs once (3.8 → 2.0 s at sf0.1)
      val chunks = CorpusOps.cdcChunks(
        Tables.fanned(s, dir, "documents").select("doc_id", "source", "text"),
        "doc_id", "text", w = 3, modulus = 32).localCheckpoint()
      val occ = chunks.groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("nocc"))
      chunks.join(occ, "chunk_hash")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct(col("chunk_hash")).as("uniq_chunks"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("nocc") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          sum(when(col("nocc") > 1, col("n_tokens")).otherwise(0L))
            .as("dup_tokens"))
    },

    // greedy per-shard FIRST-fit sequence packing — the oracle replays the
    // fold with a recursive CTE carrying the open-bin load list, so the
    // query is hash-checked end to end; the spec additionally asserts the
    // bin-capacity and completeness laws.
    "pack_bins" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .as[CorpusOps.PackedDoc]
      CorpusOps.packGreedy(toks, binTokens = 256, numShards = 8).toDF()
        .select(col("bin_key"), col("bin_idx"),
          concat_ws(",", col("ids")).as("ids"), col("total_tokens"))
    },

    // ---- similarity search ----------------------------------------------
    "sim_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    },

    // SEMANTIC eval-set contamination — the embedding-space complement
    // of contam_13gram's verbatim n-gram rule (Phi-style
    // decontamination: a paraphrased benchmark item shares no 13-gram
    // but sits at cosine ≈ 1). The eval set is the FIXED id range
    // vec_id < 25 — a benchmark is constant-size however big the
    // training corpus gets, and a proportional split (vec_id mod k)
    // measured a quadratic 3.82× bend at 25× before this was pinned
    // (queries × corpus — the evicted-exhaustive-twin shape). Per eval
    // vector: the nearest TRAIN vector by the engine's exact cosine
    // kernel and a ≥ 0.98 contamination flag. Scale: the constant eval
    // side broadcasts; the train side is one scan (the contam_13gram
    // economics — flagged pairs route to the span-removal policy like
    // any other dup edge).
    "contam_semantic" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          emb.where(col("vec_id") >= 25),
          emb.where(col("vec_id") < 25),
          "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          (col("sim") >= 0.98).cast("int").as("contaminated"))
    },

    // HYBRID retrieval with reciprocal-rank fusion: per query doc, a
    // lexical leg (exact 3-gram Jaccard rank, the dedup kernel) and a
    // semantic leg (the engine's OWN ANN index — the frozen-IVF
    // assignment probed at nProbe=4, cosine rank within the probed
    // cells) each produce top-20, and RRF fuses them —
    // 1/(60+r_lex) + 1/(60+r_sem) — the standard rank-level fusion that
    // beats either leg alone when the corpus mixes verbatim copies
    // (lexical wins) with paraphrases (semantic wins). The fused score
    // is two exact IEEE divisions + one addition — identical doubles in
    // both engines. Scale: the lexical leg is a broadcast-query ×
    // corpus scan (3 query rows, WindowGroupLimit prunes map-side); the
    // semantic leg reads the session's materialized IVF index (the
    // writeIvfIndexTable artifact — sim_ann_ivf stays the from-scratch
    // builder) and touches only the probed cells' postings, never the
    // whole corpus — the production retrieval shape.
    "sim_hybrid_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (kLeg, kOut, rrfK) = (20, 10, 60)
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // docs too short for a 3-gram leave the lexical rank universe
      // entirely (the oracle's sizes join is INNER, so they are absent
      // there too — keeping them would rank jac-0 tails differently)
      val sets = docs.select(col("doc_id"),
        sort_array(array_distinct(transform(
          Dedup.shingleArray(col("text"), 3), x => xxhash64(x)))).as("sh"))
        .where(size(col("sh")) > 0)
      val qLex = sets.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("sh").as("qsh"))
      val wLex = Window.partitionBy(col("query_id"))
        .orderBy(col("jac").desc, col("doc_id").asc)
      val lex = sets.crossJoin(broadcast(qLex))
        .where(col("doc_id") =!= col("query_id"))
        .withColumn("jac", TimeSeries.portableRound6(
          graft.functions.SortedJaccard(col("qsh"), col("sh"))))
        .withColumn("rank_lex", row_number().over(wLex))
        .where(col("rank_lex") <= kLeg)
        .select(col("query_id"), col("doc_id"), col("rank_lex"))
      val sem = Similarity.ivfTopKFromAssigned(cachedIvfAssigned(s, dir),
          emb.where(col("vec_id") < 3), "vec_id", "embedding", k = kLeg)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_sem"))
      val wOut = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
      lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rank_sem")), lit(0.0)))
        .withColumn("rank", row_number().over(wOut))
        .where(col("rank") <= kOut)
        .select(col("query_id"), col("doc_id"), col("rrf"),
          col("rank").cast("int").as("rank"))
    },

    // hard-negative mining: per query, the 3 NEAREST wrong-label
    // vectors — the contrastive-training batch builder (random
    // negatives are too easy; similar-but-wrong is the signal).
    "sim_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 50),
        "vec_id", "embedding", "label", k = 3)
    },

    // maximum-inner-product top-5 — the unnormalized retrieval mode
    // (reranker scores / recommendation logits): magnitude counts,
    // which cosine deliberately erases. Different metric, different
    // winners than sim_topk over the same vectors.
    "sim_mips" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.mipsTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    },

    // MMR diverse rerank: greedy relevance-vs-redundancy top-5 from a
    // 12-candidate pool — the context-window builder for RAG/few-shot
    // selection, where 5 near-identical passages waste the budget 5
    // complementary ones spend well. step = greedy pick order.
    "sim_mmr" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrRerank(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCand = 12)
    },

    // cluster-capped diversity sample: ≤ 20 vectors per quantizer cell,
    // md5-drawn — the coverage-preserving subset selector (uniform
    // sampling preserves cluster skew; capping flattens it).
    "sample_cluster_cap" -> { (s, dir) =>
      Similarity.clusterCapSample(Tables.embeddings(s, dir),
        "vec_id", "embedding", cap = 20)
    },

    // class-balanced downsample over the labeled embeddings: every label
    // keeps exactly min-class-size rows by md5 rank (deterministic
    // equal-frequency training set; CorpusOps.balancedSample).
    "sample_balanced" -> { (s, dir) =>
      CorpusOps.balancedSample(Tables.embeddings(s, dir), "vec_id", "label")
    },

    // n-gram novelty of the odd-id corpus half against the even-id
    // half (parity split: proportional at ANY scale factor) — the
    // memorization/diversity dial for generated or newly-crawled data
    // (novelty ≈ 0 = recombined reference text; the same measure
    // pointed at an eval set is contam_frac).
    "text_novelty" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.noveltyVsReference(docs.where(pmod(col("doc_id"), lit(2)) === 1),
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
    },

    // Matryoshka truncation eval (Kusupati et al. 2022): top-5 retrieval
    // agreement between the full 64-dim ranking and the 16-dim PREFIX
    // ranking — the measurement that decides whether truncated
    // embeddings can serve the first-stage index. recall@5 per query in
    // sixths of exact overlap counts.
    "sim_matryoshka" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = col("vec_id") < 50
      val full = Similarity.bruteForceTopK(emb, emb.where(q),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val tr = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val trunc = Similarity.bruteForceTopK(tr, tr.where(q),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      full.join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
        .join(emb.where(q).select(col("vec_id").as("query_id")), Seq("query_id"), "right")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (round(coalesce(col("n_common"), lit(0L)).cast("double") / 5.0
            * 1000000) / 1000000).as("recall"))
    },

    // approximate ANN (SRP-LSH buckets): deterministic md5-derived
    // hyperplanes are plan literals, so the oracle can reproduce the exact
    // bucketing (constants injected below) — fully hash-checked.
    "sim_ann_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nBits = 4)
    },

    // IVF ANN with a FROZEN quantizer (plan-literal centers, nProbe cells
    // per query): the production shape — train once, persist the centers,
    // probe forever — and fully hash-checkable because the oracle rebuilds
    // the identical centers. The k-means-TRAINED path (Similarity.ivfTopK)
    // stays covered by the recall spec (full-probe ≡ brute force).
    "sim_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKFrozen(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = 4)
    },

    // IVF-PQ with asymmetric-distance scoring (Jégou et al. 2011): the
    // probed lists are scored from the m-byte PQ codes alone via the
    // query's ADC lookup table — the full production ANN index shape,
    // hash-checked (frozen coarse + sub-centroid literals on both sides).
    "sim_ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = 4)
    },

    // RESIDUAL-encoded IVF-PQ (FAISS IndexIVFPQ semantics): PQ codes
    // carry v − centroid[cell]; ADC tables build per probed cell.
    "sim_ann_ivfpq_res" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKResidual(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = 4)
    },

    // ANN recall@5 of the frozen-IVF probe against brute-force ground
    // truth — the quality dial every ANN geometry is tuned against.
    "sim_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfTopKFrozen(emb, q, "vec_id", "embedding", k = 5,
          nLists = 16, nProbe = 4),
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
        k = 5)
    },

    // recall vs probe-width sweep: corpus recall@5 of the frozen-
    // quantizer IVF at nProbe ∈ {1,2,4,8} against brute force — the
    // measured cost/recall KNOB a deployment tunes (more probes = more
    // cells scanned = higher recall; the sweep shows where the curve
    // saturates). One brute-force pass feeds all four comparisons.
    "sim_nprobe_sweep" -> { (s, dir) =>
      val emb = Tables.fanned(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      // ONE postings join + scoring pass serves all four probe widths
      // (ivfTopKSweepFromAssigned — row-identical per width to the
      // former per-width ivfTopKFromAssigned runs; r16 optimization,
      // was: 4 joins + 4 windows over the shared assignment)
      val swept = Similarity.ivfTopKSweepFromAssigned(
        Similarity.ivfAssign(emb, "vec_id", "embedding", nLists = 16),
        q, "vec_id", "embedding", k = 5, nLists = 16,
        nProbes = Seq(1, 2, 4, 8))
      val hitCnt = swept
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hit"))
      // every width emits a row even at zero hits (the old per-width agg
      // always produced one); nq = the exact side's distinct query count
      val base = exact.agg(countDistinct(col("query_id")).as("nq"))
        .select(explode(array(Seq(1L, 2L, 4L, 8L).map(lit): _*)).as("nprobe"),
          col("nq"))
      base.join(hitCnt, Seq("nprobe"), "left")
        .select(col("nprobe"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          graft.ops.TimeSeries.portableRound4(
            coalesce(col("n_hit"), lit(0L)).cast("double") /
              (col("nq") * 5).cast("double")).as("recall"))
    },

    // product-quantization codes (m=8 subspaces, k=16 centroids each):
    // the IVF-PQ storage format — 64 floats -> 8 code bytes + loss.
    "emb_pq" -> { (s, dir) =>
      Similarity.pqCodes(Tables.embeddings(s, dir), "vec_id", "embedding")
    },

    // Embedding near-dup pairs on a deterministic subset (exact cosine).
    // The subset is bounded ABSOLUTELY (vec_id < 500), not fractionally:
    // a `% 10` filter keeps O((N/10)^2) pairs — quadratic in corpus size —
    // while an absolute cap keeps the crossJoin at a constant <=500x500
    // whatever the table grows to. The scale path over the FULL table is
    // emb_neardup_lsh (bucketed, linear-ish); this query is the exact
    // small-subset reference. EmbNearDupPlanSpec guards the bound.
    "emb_neardup" -> { (s, dir) =>
      val sub = Tables.embeddings(s, dir).where(col("vec_id") < 500)
      val v = sub.select(col("vec_id").as("a"),
        transform(col("embedding"), _.cast("double")).as("va"))
      val w = sub.select(col("vec_id").as("b"),
        transform(col("embedding"), _.cast("double")).as("vb"))
      v.crossJoin(w).where(col("a") < col("b"))
        .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
        .where(col("sim") >= 0.2)
        .select("a", "b", "sim")
    },

    // LSH-bucketed near-dup over the FULL embedding table — the scale
    // variant of emb_neardup (recall limited to same-bucket pairs; the
    // oracle reproduces the identical bucketing from the plane literals).
    "emb_neardup_lsh" -> { (s, dir) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.2, nBits = 6, dim = 64)
    },

    // near-dup THRESHOLD SWEEP: pair counts at five cosine cutoffs from
    // ONE pass over the LSH-verified pairs — the tuning table that picks
    // a production threshold (tighten until the count knee) without
    // re-running the pair stage per candidate value.
    "emb_threshold_sweep" -> { (s, dir) =>
      val pairs = Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.2, nBits = 6, dim = 64)
      pairs.select(col("sim"),
          explode(array(Seq(0.2, 0.3, 0.5, 0.7, 0.9).map(lit): _*)).as("t"))
        .where(col("sim") >= col("t"))
        .groupBy("t").agg(count(lit(1)).as("n_pairs"))
    },

    // int8 scalar quantization of the embedding table (map-side only).
    "emb_quantize" -> { (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
    },

    // quantizer calibration: per-dimension corpus stats, computed in
    // fixed point so the float results are engine-exact.
    "emb_dim_stats" -> { (s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir), "embedding")
        .select(col("dim").cast("long").as("dim"), col("n"), col("mean"),
          col("variance"), col("vmin"), col("vmax"))
    },

    // Linear CKA between the fp32 embeddings and their int8-dequantized
    // reconstruction — DID quantization keep the representation's
    // GEOMETRY, the question eval_rbo's rank overlap and sim_recall's
    // set overlap both under-answer (ranks can shuffle while the
    // subspace structure survives — CKA ≈ 1 with RBO ≈ 0.3 is the
    // "quantize fearlessly" readout; CKA dropping is the real damage).
    // CKA = ‖Cxy‖²F / (‖Cxx‖F·‖Cyy‖F) over column-centered features,
    // computed from ONE 128-dim exact fixed-point Gram of the
    // concatenated [x ; dequant(x)] vector (the gramFixedPoint
    // per-partition fold — the blocks of XᵀX, YᵀY, XᵀY fall out of the
    // triangle), centered via n·G_ab − S_a·S_b with exact DECIMAL
    // sums; the ≤8256 squared entries fold per block in (i,j) order.
    // Dequantization replays int8TopK's min/max calibration exactly.
    "emb_cka" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val scale = 1048576.0
      val emb = Tables.fanned(s, dir, "embeddings")
        .where(size(col("embedding")) === 64)
      val cal = emb.select(posexplode(col("embedding").cast("array<double>")))
        .select(col("pos").as("dim"),
          round(col("col") * scale).cast("long").as("v"))
        .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
        .select(col("dim"), (col("mn").cast("double") / scale).as("vmin"),
          when(col("mx") === col("mn"), lit(1.0))
            .otherwise(col("mx").cast("double") / scale -
              col("mn").cast("double") / scale).as("vrange"))
        .agg(sort_array(collect_list(struct(col("dim"), col("vmin"))))
          .as("lo0"),
          sort_array(collect_list(struct(col("dim"), col("vrange"))))
            .as("r0"))
        .select(transform(col("lo0"), e => e.getField("vmin")).as("lo"),
          transform(col("r0"), e => e.getField("vrange")).as("rng"))
      val zdf = emb.crossJoin(broadcast(cal))
        .select(concat(col("embedding").cast("array<double>"),
          transform(col("embedding").cast("array<double>"), (x, i) => {
            val lo = element_at(col("lo"), i + 1)
            val rng = element_at(col("rng"), i + 1)
            // y = lo + code·rng/255 with code = round((x−lo)/rng·255):
            // the int8 round trip as one identical chain in both engines
            lo + round((x - lo) / rng * lit(255.0), 0) * rng / lit(255.0)
          })).as("z"))
        .localCheckpoint() // three consumers: gram fold, sums, count
      val g = Similarity.gramFixedPoint(zdf, "z", 128)
      val sums = zdf.select(posexplode(col("z")))
        .select(col("pos").as("dim"),
          round(col("col") * scale).cast("long").as("v"))
        .groupBy("dim").agg(sum(col("v").cast(dec)).as("s"))
      val cnt = zdf.agg(count(lit(1)).as("n"))
      val lbl = when(col("i") < 64 && col("j") < 64, lit("xx"))
        .when(col("i") >= 64, lit("yy")).otherwise(lit("xy"))
      val mm = g
        .join(broadcast(sums.select(col("dim").as("i"), col("s").as("si"))),
          "i")
        .join(broadcast(sums.select(col("dim").as("j"), col("s").as("sj"))),
          "j")
        .crossJoin(broadcast(cnt))
        .select(col("i"), col("j"), lbl.as("blk"),
          (col("n").cast(dec) * col("g") - col("si") * col("sj"))
            .cast("double").as("m"))
        .withColumn("mult", when(col("blk") === "xy", lit(1.0))
          .when(col("i") === col("j"), lit(1.0)).otherwise(lit(2.0)))
      val per = mm
        .select(col("blk"), col("i"), col("j"),
          (col("m") * col("m") * col("mult")).as("t"))
        .groupBy(col("blk"))
        .agg(sort_array(collect_list(struct(col("i"), col("j"), col("t"))))
          .as("lst"))
        .select(col("blk"), aggregate(col("lst"), lit(0.0),
          (a, e) => a + e.getField("t")).as("f2"))
      per.agg(max(when(col("blk") === "xx", col("f2"))).as("fxx2"),
          max(when(col("blk") === "yy", col("f2"))).as("fyy2"),
          max(when(col("blk") === "xy", col("f2"))).as("fxy2"))
        .crossJoin(broadcast(cnt))
        .select(col("n").as("n_vecs"), lit(64L).as("d"),
          graft.ops.TimeSeries.portableRound6(
            when(col("fxx2") > 0 && col("fyy2") > 0,
              col("fxy2") / (sqrt(col("fxx2")) * sqrt(col("fyy2")))))
            .as("cka_int8"))
    },

    // participation-ratio isotropy: how many dimensions actually carry
    // the variance (D isotropic → 1 collapsed) — the one-number
    // anisotropy audit behind the ABTT whitening step
    // (Similarity.isotropy; run before/after emb_abtt to prove it).
    "emb_isotropy" -> { (s, dir) =>
      Similarity.isotropy(Tables.embeddings(s, dir), "embedding")
    },

    // the spectral pipeline's corpus pass: exact fixed-point Gram
    // matrix XᵀX (upper triangle) — one explode + one dim²/2-group
    // hash-agg; every PCA/whitening step downstream runs on this
    // dim²-sized table, never the corpus.
    // Final select casts g (internally DECIMAL(38,0), the overflow-safe
    // accumulator) to BIGINT: at oracle scale |g| ≤ ~2⁵⁶-safe margins and
    // the narrow type hashes identically across engines — DuckDB's
    // HUGEINT and Spark's DECIMAL take different paths through the
    // driver's arrow bridge (the r9 hash-only mismatch).
    "emb_gram" -> { (s, dir) =>
      Similarity.gramFixedPoint(Tables.embeddings(s, dir), "embedding", dim = 64)
        .select(col("i"), col("j"), col("g").cast("long").as("g"))
    },

    // dominant principal direction by integer power iteration ON the
    // Gram table (3 rounds of dim²-row matvec + max-abs rescale, all
    // trunc-division exact) — the top nuisance component
    // embedding-whitening removes; hash-checked across engines.
    "emb_top_pc" -> { (s, dir) =>
      Similarity.topPcFixedPoint(cachedGram(s, dir), dim = 64)
    },

    // dataset-card embedding diversity: exact average pairwise cosine
    // of the WHOLE corpus in one scan — the n² pair space never
    // materializes (Σ_{i≠j} cos = ‖Σv̂‖² − n on unit vectors, quantized
    // to the engine's 2²⁰ fixed point). Collapse toward 1 = the corpus
    // is folding onto one direction; the companion number to
    // corpus_diversity's token-level Simpson index.
    "emb_diversity" -> { (s, dir) =>
      Similarity.avgPairwiseCosine(Tables.fanned(s, dir, "embeddings"),
        "embedding", dim = 64)
    },

    // SECOND principal direction by projection-deflated power iteration
    // — whitening usually strips the top FEW directions, not one; this
    // is direction two, same exact-integer discipline (orthogonalize
    // against v₁ by trunc-division projection after init and each
    // matvec). One corpus scan: both loops share one Gram checkpoint.
    "emb_top2_pc" -> { (s, dir) =>
      // both power loops read the one materialized Gram sidecar
      Similarity.secondPcFixedPoint(cachedGram(s, dir), dim = 64)
    },

    // the whitening APPLIED: remove the learned top PC from every
    // vector; dot-with-PC before/after certifies the nuisance direction
    // is gone (after collapses to trunc residue). The full spectral
    // chain — corpus Gram → power iteration → per-vector projection —
    // as one hash-checked plan.
    "emb_abtt" -> { (s, dir) =>
      val emb = Tables.fanned(s, dir, "embeddings")
      Similarity.abttResidualDots(emb, "vec_id", "embedding",
        Similarity.topPcFixedPoint(cachedGram(s, dir), dim = 64), dim = 64)
    },

    // the quantizer TRAINING pass itself, engine-reproducible: one
    // Lloyd's round in exact fixed point (integer assignment, integer
    // floor-division centroid update, integer re-assignment).
    "emb_kmeans" -> { (s, dir) =>
      Similarity.kmeansFixedPoint(Tables.fanned(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, dim = 64)
    },

    // embedding outliers vs the trained quantizer: vectors more than 3
    // MADs beyond their cell's median centroid distance — the
    // representation-space garbage filter (MAD, not a multiplicative
    // margin: high-dim distances concentrate, so the spread is the only
    // usable scale); integer distances, exact half-medians, pure
    // integer flag (no float threshold exists).
    "emb_outliers" -> { (s, dir) =>
      Similarity.kmeansOutliers(Tables.fanned(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, dim = 64, nMads = 3)
    },

    // representation-quality probes over the unused label column:
    // kNN label accuracy (majority vote, pinned ties) ...
    "sim_knn_label" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLabel(emb, emb.where(col("vec_id") < 50),
        "vec_id", "embedding", "label", k = 5)
    },

    // ... and trained-cell purity: how label-coherent each kmeans cell
    // is (majority label share) — the quantizer-quality metric.
    "emb_cell_purity" -> { (s, dir) =>
      val emb = Tables.fanned(s, dir, "embeddings")
      val asg = Similarity.kmeansFixedPoint(emb, "vec_id", "embedding",
        k = 8, dim = 64)
      val cnt = asg.join(emb.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("c2"), col("label")).agg(count(lit(1)).as("n"))
      cnt.groupBy("c2").agg(
        sum("n").as("n_total"),
        min(struct((-col("n")).as("nv"), col("label").as("l")))
          .getField("l").as("majority_label"),
        round(max(col("n")).cast("double") / sum(col("n")), 4).as("purity"))
    },

    // the full ANN lifecycle with the TRAINED quantizer: kmeans centers
    // → corpus cells → nProbe probe → cosine rank, one hash-checked plan
    // (sim_ann_ivf is the same search with training frozen out).
    "sim_ann_ivf_trained" -> { (s, dir) =>
      val emb = Tables.fanned(s, dir, "embeddings")
      Similarity.ivfTopKTrained(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", kTop = 5, nLists = 8, nProbe = 2, dim = 64)
    },

    // retrieval over the quantized codes: 4x less scan bandwidth, and the
    // integer dot products keep the ranking engine-exact.
    "sim_topk_int8" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.int8TopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    },

    // Rank-biased overlap (p=0.9, k=5) between the exact-fp32 and the
    // int8-quantized rankings — WHAT quantization did to the ORDER,
    // which sim_recall's set overlap can't see (a recall-1.0 run can
    // still have inverted every rank). Top-weighted by construction;
    // the max(rank_A, rank_B) identity collapses RBO's per-depth
    // prefix overlaps to one injected tail-sum lookup per common id,
    // so per-query RBO is an exact nano-integer sum — no float fold.
    // Both legs are the existing broadcast-probe shapes.
    "eval_rbo" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val a = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
      val b = Similarity.int8TopK(emb, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
      // both legs are |queries|·k rows, but they derive from corpus-wide
      // windows so the planner has no stats — hint the broadcast or the
      // tiny rank join sort-merges (caught by the plan guard)
      val joined = a.join(broadcast(b), Seq("query_id", "neighbor_id"))
        .select(col("query_id"), element_at(typedlit(rboVNanos),
          greatest(col("ra"), col("rb")).cast("int")).as("v"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common"), sum(col("v")).as("sv"))
      a.select(col("query_id")).distinct()
        .join(broadcast(joined), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          graft.ops.TimeSeries.portableRound6(
            coalesce(col("sv"), lit(0L)).cast("double") / lit(1.0e9))
            .as("rbo"))
    },

    // SemDeDup, PRODUCTION shape (the name a pipeline reaches for runs
    // the scale-safe variant — r9 verdict #3): coarse cells + hot cells
    // adaptively split by SRP bits, so pair work per cell is capped
    // whatever the quantizer's balance (maxCell here is small enough
    // that sf cells actually split — the sub-bucket path is what the
    // oracle hash-checks). Measured 25× data in 2.4× time.
    "emb_semdedup" -> { (s, dir) =>
      Similarity.semDedupCapped(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.2, k = 8, dim = 64, maxCell = 32, maxSubBits = 4)
    },

    // NOTE: the EXHAUSTIVE per-cell reference (Similarity.semDedup,
    // formerly registered as "emb_semdedup_ref") is intentionally NOT a
    // registry entry: uncapped within-cell pairs measured 218–498× at
    // 25× with the pinned k=8 quantizer — correct but scale-unbounded.
    // It lives on as the differential baseline in SemDedupCappedSpec /
    // ReferenceTwinSpec; "emb_semdedup" above IS the production shape.

    // incremental semantic dedup: settled corpus (vec_id < 250) vs the
    // incoming batch — per-cell CROSS pairs only (settled² never forms);
    // the table-backed twin (settled side bucketed, zero-shuffle) is
    // spec-asserted equivalent in SemDedupIncrementSpec.
    "emb_semdedup_incr" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.semDedupCrossPairs(
        emb.where(col("vec_id") < 250), emb.where(col("vec_id") >= 250),
        "vec_id", "embedding", threshold = 0.2, k = 8, dim = 64)
    },

    // ---- multimodal plumbing --------------------------------------------
    "mm_meta" -> { (s, dir) =>
      Multimodal.pack(Tables.documents(s, dir), "doc_id", "text")
        .select("id", "mime", "source", "n_bytes")
    },

    // features serialized to a csv-of-ints scalar: the driver's pandas
    // compare cannot sort/hash array columns (CORRECTNESS_r01), and the
    // stub features are integer-valued by construction.
    "mm_features" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.decodeFeatures(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text")).toDF()
        .withColumn("features",
          concat_ws(",", transform(col("features"), f => f.cast("int").cast("string"))))
    },

    // frame payloads surfaced as strings (media here is utf-8 text): the
    // driver cannot hash binary columns.
    "mm_frames" -> { (s, dir) =>
      Multimodal.frameSample(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text"), n = 4)
        .withColumn("frame_bytes", col("frame_bytes").cast("string"))
    },

    // keyframe selection: the frame with the biggest content delta vs
    // its predecessor (scene-change proxy over the byte stream).
    "mm_keyframes" -> { (s, dir) =>
      Multimodal.keyFrames(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text"), n = 4)
    },

    // video-level near-dup (content-ID shape): each video fingerprints
    // as its sampled frames' hashes; candidate pairs come from the
    // frame-hash INVERTED INDEX (posting lists, map-side pair fan-out,
    // hot-frame cap at 100 — the dedup_jaccard discipline, never a
    // frame self-join), near-dup when ≥2 of the 4 sampled frames match.
    "mm_video_neardup" -> { (s, dir) =>
      // video corpus = base + deterministic re-uploads (the corpus_diff
      // carving pattern — the base corpus has no byte-identical docs, so
      // the detector needs planted positives): every 10th video
      // re-appears verbatim (all 4 frames match), every 10th+5 with its
      // first byte corrupted (frames 2..4 match → sim 0.75).
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      val vids = docs
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 5)
          .withColumn("doc_id", col("doc_id") + lit(2000000L))
          .withColumn("text", concat(lit("Z"), substring(col("text"), 2, 1000000))))
      val fr = Multimodal.frameSample(
          Multimodal.pack(vids, "doc_id", "text"), n = 4)
        .select(col("id"), md5(col("frame_bytes")).as("fh"))
        .distinct()
      fr.groupBy(col("fh"))
        .agg(sort_array(collect_set(col("id"))).as("ids"))
        .where(size(col("ids")).between(2, 100))
        .select(explode(graft.ops.GraphOps.sortedPairs(col("ids"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >= 2)
        .select(col("a"), col("b"), col("shared"),
          (round(col("shared").cast("double") / 4.0 * 1000000) / 1000000)
            .as("sim"))
    },

    "mm_resize" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.resample(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text"), outLen = 16)
        .toDF().withColumn("resized", col("resized").cast("string"))
    },

    // REAL ImageIO decode, oracle-checked end to end: each doc's first 48
    // text bytes become the BGR pixel payload of a 4x4 24-bit BMP, ImageIO
    // decodes it for real, and the integer channel sums are an exact
    // SQL-computable function of the text (byte j of the pixel area is
    // char j; channel = j mod 3; sums are row-order-independent).
    "mm_decode" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.decodeStats(bmpMedia(s, dir)).toDF()
    },

    // REAL image resize (decode + nearest-neighbor): 4x4 → 2x2 samples
    // source pixels (0,0),(2,0),(0,2),(2,2); with bottom-up BMP rows their
    // payload offsets are fixed, so the oracle reads the exact chars.
    "mm_resize_px" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.resizeImage(bmpMedia(s, dir), outW = 2, outH = 2).toDF()
    },

    // audio half of the multimodal family: payload bytes as little-endian
    // signed 16-bit PCM, exact integer sample stats — the oracle replays
    // the byte pairing from the text chars (ASCII, so char == byte).
    "mm_audio_pcm" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.pcmStats(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("mime", lit("audio/pcm"))).toDF()
    },

    // windowed PCM frame energy: 64-sample frames, exact integer Σs² per
    // frame — peak frame (earliest tie), peak and total energy; the
    // loudness/VAD profile of the audio-curation pass.
    "mm_audio_energy" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.pcmFrameEnergy(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("mime", lit("audio/pcm")), frameLen = 64).toDF()
    },

    // voice-activity segmentation: frames above the payload's mean
    // energy (integer cross-product threshold) merge into maximal
    // active runs — one row per segment with exact span + energy.
    "mm_vad" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.pcmVadSegments(
        Multimodal.pack(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("mime", lit("audio/pcm")), frameLen = 64).toDF()
    },

    // image-dedup fingerprint: REAL ImageIO decode → 4x4 average-hash.
    // The oracle replays the 16 pixel grays from the BMP byte layout
    // (bottom-up rows; gray = channel sum, so BGR order cancels) and the
    // exact-integer mean threshold 16·gray > Σgray.
    "mm_phash" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.avgHash(bmpMedia(s, dir), hw = 4, hh = 4).toDF()
    },

    // perceptual dup GROUPS: images sharing an aHash collapse to one
    // cluster row (hash-agg on the 64-bit fingerprint — the image
    // dedup-by-signature end state; representative = min id).
    "mm_phash_groups" -> { (s, dir) =>
      implicit val spark = s
      Multimodal.avgHash(bmpMedia(s, dir), hw = 4, hh = 4).toDF()
        .groupBy("phash")
        .agg(count(lit(1)).as("n_images"), min("id").as("keep_id"))
        .where(col("n_images") > 1)
    },

    // perceptual NEAR-dup pairs: banded Hamming over the 16-bit aHash
    // (4 bands of 4 bits; bands > maxHamming ⇒ pigeonhole-exact recall)
    // — re-encoded/resized image variants that exact-hash groups miss.
    "mm_phash_pairs" -> { (s, dir) =>
      implicit val spark = s
      Dedup.hammingPairs(
        Multimodal.avgHash(bmpMedia(s, dir), hw = 4, hh = 4).toDF(),
        "id", "phash", totalBits = 16, bands = 4, maxHamming = 2)
    },

    // full-pixel per-channel intensity histogram (8 equal-width bins)
    // over the REAL ImageIO decode — the color-profile card routing
    // screenshots/diagrams/photos apart; the oracle replays it from the
    // deterministic BMP byte layout (channel = byte-position mod 3 in
    // BGR order, bin = value >> 5). Row-local typed seam, zero shuffle.
    "mm_channel_hist" -> { (s, dir) =>
      implicit val spark = s
      graft.ops.Multimodal.channelHist(bmpMedia(s, dir), bins = 8).toDF()
    },

    // Distributed BPE vocabulary training: 3 merge rounds over the word
    // frequency table (corpus collapses to (word, cnt) first — the
    // standard scale trick). Deterministic argmax tie-break (count desc,
    // pair asc) and row-local greedy merge application let the oracle
    // replay training round for round with chained string replaces.
    // NOT fanned: train's per-round re-scans each pay the fan-out
    // exchange, and the word-frequency collapse is its own shuffle
    // anyway — isolated A/B r16: fanned 1.36 s vs un-fanned 0.92 s
    // (min-of-5), the one kept-loser site of the r15 batch.
    "text_bpe" -> { (s, dir) =>
      Bpe.train(Tables.documents(s, dir), "text", rounds = 3)
    },

    // the inference half: per-doc token counts under the 3 learned
    // rules — the sequence-length signal packing/sharding consumes.
    // rules come off the bpeRules sidecar (trained once per session);
    // the encode itself is a zero-shuffle projection + one per-doc sum.
    "text_bpe_encode" -> { (s, dir) =>
      Bpe.encodeTokenCounts(Tables.fanned(s, dir, "documents"), "doc_id", "text",
        bpeRules(s, dir))
    },

    // per-source unigram entropy — the diversity dial beside fertility
    // (cost) and OOV (fit): a source whose H collapses is template spam
    // whatever its quality score says. H = −Σ p·log2(p) over the
    // per-source word distribution. r13 verdict: the old form collected
    // EVERY (word, count) pair into one per-source array — corpus-
    // unbounded single-row state, the registry's last executor-OOM
    // shape at 100 TB. r14 verdict: the first rebuild pooled the tail
    // into a residual CELL via when/otherwise — which kept every row
    // alive through the rank window, so WindowGroupLimit could not
    // prune and each source's ENTIRE vocab landed in one task's sort.
    // Now the prunable form: `filter(rn <= 65536)` lets the optimizer
    // insert WindowGroupLimit (Partial), which caps every map task's
    // sort state at top-k per source BEFORE the exchange — the
    // per-source window task then sorts ≤ (k × shuffle-partitions)
    // rows, corpus-independent. The residual cell is SYNTHESIZED from
    // the broadcast `stats` instead: its count is exactly
    // n − Σ(top-k c), so the pooled term — and the output — is
    // bit-identical to the r14 form by construction. Per-cell p·log2(p)
    // terms (|term| ≤ 0.531, libm diff ≤ ~1e-15 ≪ half the grid)
    // quantize to the 1e-12 grid and sum exactly — no collected list,
    // no order-dependent fold. `n`/`vocab` stay the TRUE pre-clamp
    // totals. Width: |q| ≤ 5.31e11 per cell × 65537 cells → |sq| ≤
    // 3.5e16, DECIMAL(38,0). The rank window ranks the post-agg CELL
    // table (vocab-sized), not the corpus.
    "vocab_entropy" -> { (s, dir) =>
      // windowGroupLimitThreshold ≥ 65536 (GraftSession.EngineConf, set
      // when the session is built) is what lets the rank filter below
      // rewrite to a map-side WindowGroupLimit — PlanShapeSpec asserts it
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val counts = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val stats = counts.groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("vocab"))
      val rankW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("w"))
      val top = counts.withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= lit(65536))
      val p = col("c").cast("double") / col("n").cast("double")
      val agg = top.join(broadcast(stats), "source")
        .select(col("source"), col("n"), col("vocab"), col("c"),
          round(p * log2(p) * lit(1.0e12), 0).cast("long").as("q"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), max(col("vocab")).as("vocab"),
          sum(d38(col("q"))).as("sq_top"), sum(col("c")).as("c_top"))
      // residual pooled-tail term, derived instead of carried: same
      // double chain as a real cell with c = n − c_top (tail counts
      // sum to exactly that, as longs — no rounding difference)
      val pr = (col("n") - col("c_top")).cast("double") / col("n").cast("double")
      val qr = when(col("c_top") < col("n"),
        round(pr * log2(pr) * lit(1.0e12), 0).cast("long")).otherwise(lit(0L))
      agg
        .select(col("source"), col("n"), col("vocab"),
          (col("sq_top") + d38(qr)).as("sq"))
        .select(col("source"), col("n"), col("vocab"),
          (round(-(col("sq").cast("double")) / lit(1.0e12) * 10000, 0)
            / 10000).as("entropy"))
    },

    // tokenizer fertility per source: subword tokens per whitespace
    // word under the 3 learned rules — vocab_oov's cost-side twin (an
    // outlier source pays proportionally more sequence length).
    "vocab_fertility" -> { (s, dir) =>
      Bpe.fertilityBySource(Tables.fanned(s, dir, "documents"), "source", "text",
        bpeRules(s, dir))
    }
  )

  /** The 3-round learned BPE merge table as (rank, left, right)
    * triples, served through the session sidecar so the three
    * inference-side consumers (shard_bpe, text_bpe_encode,
    * vocab_fertility) stop each re-running the training rounds the
    * registered text_bpe builder already measures from scratch (r12
    * verdict: the registry's only duplicated-work pair). The collect is
    * rounds-sized (3 rows). */
  private def bpeRules(s: org.apache.spark.sql.SparkSession,
                       dir: String): Seq[(String, String)] =
    graft.ops.Sidecar.cached(s, s"bpe_rules:$dir")(
        Bpe.train(Tables.documents(s, dir), "text", rounds = 3))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** documents → 4x4 BMP media records (payload = first 48 text chars,
    * 'A'-padded; text is ASCII by construction so char == byte). */
  private def bmpMedia(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.fanned(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.take(48).padTo(48, 'A').map(c => (c & 0xff).toByte).toArray
        (id, Multimodal.bmpFromBytes(payload, 4, 4), "image/bmp", "synthetic",
          (54 + 48).toLong)
      }.toDF("id", "media", "mime", "source", "n_bytes")
  }

  /** (candidate, reference) pairs for the generation-eval metrics:
    * candidate doc d against doc d+1 — an equi-join on doc_id+1, no
    * window, no sort — through the clipped n-gram overlap kernel. The
    * pairing is a deterministic stand-in: production candidate/reference
    * pairs arrive pre-keyed from the generator. Shared by eval_bleu /
    * eval_rouge2. */
  private[queries] def genEvalPairs(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = docs.select(col("doc_id"), col("text").as("cand"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("rtext"))
    a.join(b, Seq("doc_id"))
  }

  private[queries] def genEvalOverlap(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    // generation-eval pairs always fit one task: the row-local native
    // clip (zero shuffles) over the (pair, gram) shuffle shape
    TextAnalysis.pairNgramOverlapLocal(genEvalPairs(s, dir),
      "doc_id", "cand", "rtext")

  /** Mixing target: upweight src0/src1, spread the rest uniformly. The
    * SAME map feeds the Spark query and (interpolated) the oracle SQL. */
  private[queries] val MixTargets: Map[String, Double] =
    Map("src0" -> 0.2, "src1" -> 0.1) ++
      (2 until 20).map(i => s"src$i" -> 0.7 / 18).toMap

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(string_split(text,' '), w -> list_contains([${words.map(w => s"'$w'").mkString(",")}], w)))"

  /** The Levenshtein DP as an anti-diagonal recursion (the eval_rouge_l
    * oracle's technique), shared by the eval_wer / eval_wer_corpus
    * twins so a fix to one cannot silently miss the other (ADVICE
    * r12). Unlike LCS the borders are NONZERO (dp[i][0]=i,
    * dp[0][j]=j), so row 0 and column 0 are carried as ordinary
    * diagonal members — diagonal d spans i in
    * [greatest(0, d-lb), least(la, d)] — and border cells are the two
    * CASE arms i=0 / i=d+1 (both valued d+1). Every interior read is
    * then in range by the band inequalities (i>=1 and j>=1 pin each
    * neighbor inside its own diagonal's span): dp[i-1][j] and
    * dp[i][j-1] come from prev, dp[i-1][j-1] from prev2, positions
    * shifted by each diagonal's own row offset lo(d) =
    * greatest(0, d - lb). Yields CTE res(doc_id, la, lb, edit). */
  private lazy val werRecCtes: String =
    """a AS (SELECT doc_id, text AS cand FROM documents),
        |b AS (SELECT doc_id - 1 AS doc_id, text AS rtext FROM documents),
        |p AS (SELECT a.doc_id, string_split(a.cand, ' ') AS ct,
        |        string_split(b.rtext, ' ') AS rt
        |      FROM a JOIN b USING (doc_id)),
        |lens AS (SELECT doc_id, ct, rt, CAST(len(ct) AS BIGINT) AS la,
        |    CAST(len(rt) AS BIGINT) AS lb FROM p),
        |rec AS (
        |  SELECT doc_id, ct, rt, la, lb, CAST(0 AS BIGINT) AS d,
        |    CAST([] AS BIGINT[]) AS prev2, [CAST(0 AS BIGINT)] AS prev
        |  FROM lens
        |  UNION ALL
        |  SELECT doc_id, ct, rt, la, lb, d + 1, prev,
        |    list_transform(range(greatest(0, d + 1 - lb), least(la, d + 1) + 1),
        |      i -> CASE WHEN i = 0 OR i = d + 1 THEN d + 1
        |        ELSE least(
        |          prev[i - greatest(0, d - lb) + 1] + 1,
        |          prev[i - 1 - greatest(0, d - lb) + 1] + 1,
        |          prev2[i - 1 - greatest(0, d - 1 - lb) + 1]
        |            + CASE WHEN ct[i] = rt[d + 1 - i] THEN 0 ELSE 1 END)
        |      END)
        |  FROM rec WHERE d < la + lb
        |),
        |res AS (SELECT doc_id, la, lb, CAST(prev[1] AS BIGINT) AS edit
        |        FROM rec WHERE d = la + lb)""".stripMargin

  /** Int8 (min/max-calibrated) cosine top-k — shared by sim_topk_int8
    * and eval_rbo's quantized ranking leg. */
  private lazy val simTopkInt8Sql: String =
    """WITH e AS (SELECT embedding::DOUBLE[] AS a FROM embeddings),
      |x AS (SELECT i AS dim,
      |        CAST(round(a[CAST(i+1 AS INT)] * 1048576.0) AS BIGINT) AS v
      |      FROM (SELECT a, unnest(range(0, len(a))) AS i FROM e)),
      |g AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim),
      |cal AS (SELECT
      |    list(CAST(mn AS DOUBLE)/1048576.0 ORDER BY dim) AS lo,
      |    list(CASE WHEN mx = mn THEN 1.0
      |         ELSE CAST(mx AS DOUBLE)/1048576.0 - CAST(mn AS DOUBLE)/1048576.0
      |         END ORDER BY dim) AS rng FROM g),
      |qz AS (SELECT vec_id,
      |    [round((a[CAST(i+1 AS INT)] - lo[CAST(i+1 AS INT)])
      |       / rng[CAST(i+1 AS INT)] * 255) - 128
      |     FOR i IN range(0, len(a))] AS v
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS a FROM embeddings), cal)
      |SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.v, c.v) AS sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, c.v) DESC,
      |               c.vec_id ASC) AS rank
      |  FROM qz q, qz c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** RBO(p=0.9, k=5) prefix-weight tail sums, nano-scaled:
    * V_m = Σ_{d=m..5} (1−p)·p^{d−1}/d — injected as the same literal
    * table into both engines (the discountMicros discipline). The
    * max(rank_A, rank_B) identity turns the per-depth prefix overlaps
    * into one table lookup per common id. */
  private[graft] lazy val rboVNanos: IndexedSeq[Long] = {
    val p = 0.9; val k = 5
    IndexedSeq.tabulate(k)(m0 => math.round(
      (m0 + 1 to k).map(d => (1 - p) * math.pow(p, d - 1) / d).sum * 1e9))
  }

  /** Brute-force cosine top-k ground truth — shared by sim_topk and the
    * sim_recall certification (which CTEs it against the IVF probe). */
  private lazy val simTopkSql: String =
    """SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
      |               c.vec_id ASC) AS rank
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** Shared SQL builders for the IVF-PQ oracle pair (raw and residual):
    * one source of truth for the coarse-cell selection, probe structs,
    * per-subspace distance chains (parameterized on the element
    * expression — `CAST(embedding[i] AS DOUBLE)` or `rv[i]`), argmin
    * CASEs, ADC arrays, and the ADC lookup sum, so a tie-break or
    * rounding change cannot silently diverge the two oracles. */
  private object IvfPqSql {
    val (nLists, nProbe, k, dim, m, pqK) = (16, 4, 5, 64, 8, 16)
    val sub: Int = dim / m
    val coarse: Array[Array[Double]] =
      graft.ops.Similarity.ivfCentroids(nLists, dim)
    val cents: Array[Array[Array[Double]]] =
      graft.ops.Similarity.pqCentroids(m, pqK, sub)
    def cDistSql(ki: Int): String =
      (0 until dim).map { j =>
        val c = coarse(ki)(j)
        s"((CAST(embedding[${j + 1}] AS DOUBLE) - ($c)) * " +
          s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($c)))"
      }.mkString("(", " + ", ")")
    def subDistSql(elem: Int => String)(mi: Int, ki: Int): String =
      (0 until sub).map { j =>
        val c = cents(mi)(ki)(j); val e = elem(mi * sub + j + 1)
        s"(($e - ($c)) * ($e - ($c)))"
      }.mkString("(", " + ", ")")
    val gCols: String = (0 until nLists).map(ki => s"${cDistSql(ki)} AS g_$ki")
      .mkString(",\n        |  ")
    val leastG: String = (0 until nLists).map(ki => s"g_$ki")
      .mkString("least(", ", ", ")")
    val cellCase: String =
      (0 until nLists).map(ki => s"WHEN g_$ki = gmin THEN $ki")
        .mkString("CASE ", " ", "END")
    val probeStructs: String = (0 until nLists).map(ki =>
      s"{'d': g_$ki, 'cell': $ki}").mkString("[", ", ", "]")
    def dCols(elem: Int => String): String =
      (for (mi <- 0 until m; ki <- 0 until pqK)
        yield s"${subDistSql(elem)(mi, ki)} AS d_${mi}_$ki")
        .mkString(",\n        |  ")
    val dmCols: String = (0 until m).map { mi =>
      (0 until pqK).map(ki => s"d_${mi}_$ki")
        .mkString("least(", ", ", ")") + s" AS dm_$mi"
    }.mkString(", ")
    val codeCols: String = (0 until m).map { mi =>
      (0 until pqK).map(ki => s"WHEN d_${mi}_$ki = dm_$mi THEN $ki")
        .mkString("CASE ", " ", "END") + s" AS c$mi"
    }.mkString(",\n        |  ")
    def adcCols(elem: Int => String, indent: String): String =
      (0 until m).map { mi =>
        (0 until pqK).map(ki => subDistSql(elem)(mi, ki))
          .mkString("[", ", ", "]") + s" AS adc_$mi"
      }.mkString(",\n        |" + indent)
    val adcSum: String = (0 until m).map(mi => s"q.adc_$mi[a.c$mi + 1]")
      .mkString(" + ")
    val rawElem: Int => String = i => s"CAST(embedding[$i] AS DOUBLE)"
    val resElem: Int => String = i => s"rv[$i]"
    /** rank over the ROUNDED adist + top-k filter — the common tail. */
    def tail(fromA: String, fromQ: String): String =
      s"""SELECT query_id, neighbor_id, adist, CAST(rank AS INT) AS rank FROM (
         |  SELECT query_id, neighbor_id, adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM (SELECT q.query_id, a.neighbor_id,
         |          round($adcSum, 6) AS adist
         |        FROM $fromA a JOIN $fromQ q ON a.cell = q.cell
         |        WHERE q.query_id <> a.neighbor_id))
         |WHERE rank <= $k""".stripMargin
  }

  /** Frozen-IVF probe — shared by sim_ann_ivf and sim_recall.
    * Literal IVF centers from the SAME generator the Spark plan embeds;
    * distances are left-associative squared-diff chains (the emb_pq
    * discipline). Corpus cells use the first-match CASE argmin (lowest
    * index on ties); query probes take the nProbe nearest cells via the
    * same tie-safe struct sort as emb_pq (DuckDB struct comparison is
    * field-order lexicographic, matching Spark's array_sort). */
  private lazy val simAnnIvfSql: String = simAnnIvfSqlAt(4)

  /** The shared frozen-IVF probe CTE chain (`d`, `a`, `q`): per-vector
    * squared distances to every centroid literal, the first-match CASE
    * argmin corpus assignment, and the tie-safe struct-sort query probe
    * — parameterized by the query predicate and probe width so
    * sim_ann_ivf, sim_nprobe_sweep, and sim_hybrid_rrf's semantic leg
    * all replay ONE definition. */
  private def ivfProbeCtes(nProbe: Int, queryPred: String): String = {
    val (nLists, dim) = (16, 64)
    val cents = graft.ops.Similarity.ivfCentroids(nLists, dim)
    def distSql(ki: Int): String =
      (0 until dim).map { j =>
        val c = cents(ki)(j)
        s"((CAST(embedding[${j + 1}] AS DOUBLE) - ($c)) * " +
          s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($c)))"
      }.mkString("(", " + ", ")")
    val dCols = (0 until nLists).map(ki => s"${distSql(ki)} AS d_$ki")
      .mkString(",\n      |  ")
    val leastAll = (0 until nLists).map(ki => s"d_$ki")
      .mkString("least(", ", ", ")")
    val cellCase = (0 until nLists).map(ki => s"WHEN d_$ki = dist THEN $ki")
      .mkString("CASE ", " ", "END")
    val structs = (0 until nLists).map(ki => s"{'d': d_$ki, 'cell': $ki}")
      .mkString("[", ", ", "]")
    s"""d AS (SELECT vec_id, embedding,
       |  $dCols
       |  FROM embeddings),
       |a AS (SELECT vec_id AS neighbor_id, embedding AS cv, $cellCase AS cell
       |  FROM (SELECT *, $leastAll AS dist FROM d)),
       |q AS (SELECT vec_id AS query_id, embedding AS qv,
       |    unnest([s.cell FOR s IN list_sort($structs)[1:$nProbe]]) AS cell
       |  FROM d WHERE $queryPred)""".stripMargin
  }

  /** The IVF probe at a given nProbe — `sim_nprobe_sweep` replays it
    * once per probe width. */
  private def simAnnIvfSqlAt(nProbe: Int): String = {
    val k = 5
    s"""WITH ${ivfProbeCtes(nProbe, "vec_id < 10")}
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT q.query_id, a.neighbor_id,
       |    list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]) AS sim,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]) DESC,
       |               a.neighbor_id ASC) AS rank
       |  FROM a JOIN q ON a.cell = q.cell
       |  WHERE q.query_id <> a.neighbor_id)
       |WHERE rank <= $k""".stripMargin
  }

  /** Fixed-point k-means CTE chain (through the trained-center
    * re-assignment a2): the same scaled-integer Lloyd round, seeds
    * injected as literals from the SAME Scala arrays the Spark plan uses
    * (the plane-literal discipline). All arithmetic integer →
    * hash-exact. Shared by the emb_kmeans and sim_ann_ivf_trained
    * oracles. */
  private lazy val kmeansCtes: String = {
    val (k, dim) = (8, 64)
    val seeds = graft.ops.Similarity.ivfCentroids(k, dim)
      .map(_.map(x => math.round(x * 1048576.0)))
    val seedRows = seeds.zipWithIndex
      .map { case (arr, ki) => s"($ki, [${arr.mkString(", ")}])" }
      .mkString(", ")
    s"""v AS (SELECT vec_id,
       |    [CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
       |     FOR x IN embedding] AS vs
       |  FROM embeddings WHERE len(embedding) = $dim),
       |seeds(c, cs) AS (VALUES $seedRows),
       |d1 AS (SELECT vec_id, vs, c,
       |    list_aggregate(list_transform(range(1, ${dim + 1}), i ->
       |      (vs[CAST(i AS INT)] - cs[CAST(i AS INT)])
       |      * (vs[CAST(i AS INT)] - cs[CAST(i AS INT)])), 'sum') AS d
       |  FROM v CROSS JOIN seeds),
       |a1 AS (SELECT vec_id, vs, c AS c1 FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM d1) WHERE rn = 1),
       |dims AS (SELECT c1, i, vs[CAST(i AS INT)] AS val
       |  FROM a1 CROSS JOIN range(1, ${dim + 1}) r(i)),
       |cent AS (SELECT c1, i,
       |    CAST((sum(val) - ((sum(val) % count(*) + count(*)) % count(*)))
       |      / count(*) AS BIGINT) AS cd
       |  FROM dims GROUP BY c1, i),
       |carr AS (SELECT c1 AS c, array_agg(cd ORDER BY i) AS arr
       |  FROM cent GROUP BY c1),
       |d2 AS (SELECT vec_id, a1.c1, carr.c,
       |    list_aggregate(list_transform(range(1, ${dim + 1}), i ->
       |      (vs[CAST(i AS INT)] - arr[CAST(i AS INT)])
       |      * (vs[CAST(i AS INT)] - arr[CAST(i AS INT)])), 'sum') AS d
       |  FROM a1 CROSS JOIN carr),
       |a2 AS (SELECT vec_id, c1, c AS c2 FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM d2) WHERE rn = 1)""".stripMargin
  }

  private lazy val embKmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, CAST(c1 AS INT) AS c1, CAST(c2 AS INT) AS c2
       |FROM a2""".stripMargin

  /** Trained-quantizer IVF: the kmeans chain's trained cells index the
    * corpus, queries probe their nProbe nearest trained cells (same
    * integer distances, d2), and candidates rank by cosine — the full
    * train → index → probe → rank lifecycle, engine-exact. */
  private lazy val trainedIvfSql: String =
    s"""WITH $kmeansCtes,
       |probe AS (SELECT vec_id AS query_id, c AS cell FROM (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM d2 WHERE vec_id < 10) WHERE rn <= 2),
       |corp AS (SELECT vec_id AS neighbor_id, c2 AS cell FROM a2),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |        WHERE len(embedding) = 64)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT p.query_id, c.neighbor_id,
       |    list_cosine_similarity(qe.e, ne.e) AS sim,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(qe.e, ne.e) DESC,
       |               c.neighbor_id ASC) AS rank
       |  FROM corp c JOIN probe p ON c.cell = p.cell
       |  JOIN emb qe ON qe.vec_id = p.query_id
       |  JOIN emb ne ON ne.vec_id = c.neighbor_id
       |  WHERE c.neighbor_id <> p.query_id)
       |WHERE rank <= 5""".stripMargin

  /** PageRank oracle: the same exact-integer rounds, unrolled. Every
    * floor division is (a − a % b) / b on non-negative BIGINTs — the
    * double divide cannot round (numerator divisible, < 2⁵³). */
  /** Span-edge construction CTEs (the [[graft.ops.GraphOps.spanEdges]]
    * replay) — shared by the pagerank and label-propagation oracles. */
  private lazy val spanEdgeCtes: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+15],' ') AS shingle
      |       FROM (SELECT doc_id, t,
      |             unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
      |ok AS (SELECT shingle FROM sh GROUP BY shingle
      |       HAVING count(*) BETWEEN 2 AND 100),
      |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |  JOIN ok ON l.shingle = ok.shingle),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL SELECT b, a FROM pairs),
      |n AS (SELECT doc_id AS id FROM documents)""".stripMargin

  /** (candidate, reference) pair + clipped n-gram overlap CTEs — the
    * [[graft.ops.TextAnalysis.pairNgramOverlap]] replay; shared by the
    * eval_bleu / eval_rouge2 oracles. DuckDB `range(1, n)` is
    * stop-exclusive and empty when n ≤ 1, list indexing is 1-based. */
  private[queries] lazy val genPairCtes: String =
    """a AS (SELECT doc_id, text AS cand FROM documents),
      |b AS (SELECT doc_id - 1 AS doc_id, text AS rtext
      |      FROM documents),
      |p AS (SELECT a.doc_id, string_split(a.cand, ' ') AS ct,
      |        string_split(b.rtext, ' ') AS rt
      |      FROM a JOIN b USING (doc_id)),
      |lens AS (SELECT doc_id, CAST(len(ct) AS BIGINT) AS c1,
      |    CAST(len(rt) AS BIGINT) AS r1,
      |    CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS c2,
      |    CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS r2 FROM p),
      |cu1 AS (SELECT doc_id, unnest(ct) AS g FROM p),
      |ru1 AS (SELECT doc_id, unnest(rt) AS g FROM p),
      |cu2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ct)),
      |          i -> ct[i] || ' ' || ct[i+1])) AS g FROM p),
      |ru2 AS (SELECT doc_id, unnest(list_transform(range(1, len(rt)),
      |          i -> rt[i] || ' ' || rt[i+1])) AS g FROM p),
      |cl1 AS (SELECT doc_id, CAST(sum(least(cc.n, rc.n)) AS BIGINT) AS clip1
      |  FROM (SELECT doc_id, g, count(*) AS n FROM cu1 GROUP BY 1, 2) cc
      |  JOIN (SELECT doc_id, g, count(*) AS n FROM ru1 GROUP BY 1, 2) rc
      |  USING (doc_id, g) GROUP BY doc_id),
      |cl2 AS (SELECT doc_id, CAST(sum(least(cc.n, rc.n)) AS BIGINT) AS clip2
      |  FROM (SELECT doc_id, g, count(*) AS n FROM cu2 GROUP BY 1, 2) cc
      |  JOIN (SELECT doc_id, g, count(*) AS n FROM ru2 GROUP BY 1, 2) rc
      |  USING (doc_id, g) GROUP BY doc_id),
      |ov AS (SELECT lens.doc_id, c1, r1, c2, r2,
      |    coalesce(cl1.clip1, 0) AS clip1, coalesce(cl2.clip2, 0) AS clip2
      |  FROM lens LEFT JOIN cl1 USING (doc_id) LEFT JOIN cl2 USING (doc_id))"""
      .stripMargin

  private lazy val pagerankSql: String = {
    def iter(prev: String, name: String) =
      s"""$name AS (SELECT n.id,
         |    CAST(150000 + (85 * coalesce(c.s, 0)
         |      - (85 * coalesce(c.s, 0)) % 100) / 100 AS BIGINT) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id,
         |      sum(CAST((p.pr - p.pr % d.d) / d.d AS BIGINT)) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |      JOIN $prev p ON e.src = p.id
         |    GROUP BY e.dst) c ON n.id = c.id)"""
    s"""WITH $spanEdgeCtes,
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
       |        FROM edges GROUP BY src),
       |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n),
       |${iter("p0", "i1")},
       |${iter("i1", "i2")},
       |${iter("i2", "i3")}
       |SELECT id AS doc_id, pr AS pr_scaled, pr / 1000000.0 AS pr
       |FROM i3""".stripMargin
  }

  /** HITS oracle: containment digraph (container → contained, both
    * directions of a mutual pair), then 3 unrolled a←Aᵀh / h←Aa rounds
    * with a max-rescale after EACH matvec (the Spark plan's overflow
    * discipline). HUGEINT accumulators ≡ Spark's DECIMAL(38,0); every
    * round CTE is MATERIALIZED (max + rescale both reference it — the
    * secondPcSql inlining-blowup lesson). */
  private lazy val hitsSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""za$r AS MATERIALIZED (SELECT n.id, coalesce(x.s, CAST(0 AS HUGEINT)) AS a
         |  FROM n LEFT JOIN (SELECT de.dst AS id, sum(p.h) AS s
         |    FROM de JOIN hh${r - 1} p ON de.src = p.id GROUP BY de.dst) x USING (id)),
         |ma$r AS MATERIALIZED (SELECT greatest(max(a), 1) AS m FROM za$r),
         |aa$r AS MATERIALIZED (SELECT id, ((a*1000000) - ((a*1000000) % m)) // m AS a
         |  FROM za$r, ma$r),
         |zh$r AS MATERIALIZED (SELECT n.id, coalesce(x.s, CAST(0 AS HUGEINT)) AS h
         |  FROM n LEFT JOIN (SELECT de.src AS id, sum(p.a) AS s
         |    FROM de JOIN aa$r p ON de.dst = p.id GROUP BY de.src) x USING (id)),
         |mh$r AS MATERIALIZED (SELECT greatest(max(h), 1) AS m FROM zh$r),
         |hh$r AS MATERIALIZED (SELECT id, ((h*1000000) - ((h*1000000) % m)) // m AS h
         |  FROM zh$r, mh$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3],' ') AS shingle
       |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
       |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
       |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |cont AS MATERIALIZED (SELECT a, b,
       |    CAST(c AS DOUBLE)/sa.n AS ca, CAST(c AS DOUBLE)/sb.n AS cb
       |  FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |  WHERE greatest(CAST(c AS DOUBLE)/sa.n, CAST(c AS DOUBLE)/sb.n) >= 0.8),
       |de AS MATERIALIZED (SELECT b AS src, a AS dst FROM cont WHERE ca >= 0.8
       |  UNION ALL SELECT a AS src, b AS dst FROM cont WHERE cb >= 0.8),
       |n AS MATERIALIZED (SELECT DISTINCT id
       |  FROM (SELECT src AS id FROM de UNION ALL SELECT dst AS id FROM de)),
       |hh0 AS (SELECT id, CAST(1000000 AS HUGEINT) AS h FROM n),
       |$rounds
       |SELECT CAST(id AS BIGINT) AS doc_id, CAST(hh3.h AS BIGINT) AS hub_scaled,
       |  CAST(aa3.a AS BIGINT) AS auth_scaled
       |FROM hh3 JOIN aa3 USING (id)""".stripMargin
  }

  /** LPA CTE chain ending in `j3`(id, label) — shared by the lpa and
    * modularity oracles. */
  private lazy val lpaCtes: String = {
    def iter(prev: String, name: String) =
      s"""$name AS (SELECT p.id, coalesce(b.nl, p.label) AS label
         |  FROM $prev p LEFT JOIN (
         |    SELECT dst AS id, label AS nl FROM (
         |      SELECT e.dst, q.label,
         |        row_number() OVER (PARTITION BY e.dst
         |          ORDER BY count(*) DESC, q.label) AS rn
         |      FROM edges e JOIN $prev q ON e.src = q.id
         |      GROUP BY e.dst, q.label) WHERE rn = 1) b ON p.id = b.id)"""
    s"""$spanEdgeCtes,
       |l0 AS (SELECT id, id AS label FROM n),
       |${iter("l0", "j1")},
       |${iter("j1", "j2")},
       |${iter("j2", "j3")}""".stripMargin
  }

  private lazy val lpaSql: String =
    s"""WITH $lpaCtes
       |SELECT id AS doc_id, label AS community FROM j3""".stripMargin

  /** Modularity of the LPA communities: intra-edge counts over the
    * undirected `pairs`, degrees from the symmetrized `edges`, the one
    * rational [Σ(4·m·e_c − deg_c²)]/(4m²). */
  private lazy val modularitySql: String =
    s"""WITH $lpaCtes,
       |lb AS (SELECT id, label AS community FROM j3),
       |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
       |        FROM edges GROUP BY src),
       |iw AS (SELECT la.community, CAST(count(*) AS BIGINT) AS ec
       |  FROM pairs p JOIN lb la ON p.a = la.id JOIN lb rb ON p.b = rb.id
       |  WHERE la.community = rb.community GROUP BY 1),
       |dc AS (SELECT lb.community, CAST(sum(deg.d) AS BIGINT) AS degc
       |  FROM lb JOIN deg USING (id) GROUP BY 1),
       |per AS (SELECT dc.community, coalesce(iw.ec, 0) AS ec, dc.degc
       |  FROM dc LEFT JOIN iw USING (community)),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
       |nc AS (SELECT CAST(count(DISTINCT community) AS BIGINT) AS n_comms
       |       FROM lb),
       |sm AS (SELECT CAST(coalesce(sum(ec), 0) AS BIGINT) AS intra_edges,
       |    CAST(coalesce(sum(CAST(degc AS HUGEINT) * degc), 0) AS HUGEINT)
       |      AS sumdeg2
       |  FROM per)
       |SELECT m AS n_edges, n_comms, intra_edges,
       |  CASE WHEN m > 0 THEN
       |    round(CAST(4 * CAST(m AS HUGEINT) * intra_edges - sumdeg2
       |        AS DOUBLE)
       |      / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) * 10000) / 10000
       |  END AS modularity,
       |  CASE WHEN m > 0 THEN
       |    round(CAST(intra_edges AS DOUBLE) / m * 10000) / 10000
       |  END AS coverage
       |FROM sm, mm, nc""".stripMargin

  /** k-core oracle: the fixed-round peel unrolled — round i keeps nodes
    * with degree ≥ 2 in the subgraph induced by round i−1's survivors;
    * the final SELECT reports induced degrees among round-3 survivors. */
  private lazy val kcoreSql: String = {
    def round(prev: String, e: String, c: String) =
      s"""$e AS (SELECT p.a, p.b FROM pairs p
         |  JOIN $prev x ON p.a = x.id JOIN $prev y ON p.b = y.id),
         |$c AS (SELECT id FROM (
         |    SELECT id, count(*) AS deg FROM (
         |      SELECT a AS id FROM $e UNION ALL SELECT b FROM $e)
         |    GROUP BY id) WHERE deg >= 2)"""
    s"""WITH $spanEdgeCtes,
       |c0 AS (SELECT DISTINCT id FROM (
       |  SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)),
       |${round("c0", "e1", "c1")},
       |${round("c1", "e2", "c2")},
       |${round("c2", "e3", "c3")},
       |ef AS (SELECT p.a, p.b FROM pairs p
       |  JOIN c3 x ON p.a = x.id JOIN c3 y ON p.b = y.id)
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM (SELECT a AS id FROM ef UNION ALL SELECT b FROM ef)
       |GROUP BY id""".stripMargin
  }

  /** kNN label-prediction CTE (k=5, vote ties → higher count then
    * smaller label — the knnLabel contract): yields `pred`(query_id,
    * label, predicted). Shared by sim_knn_label and eval_confusion. */
  private lazy val knnPredCtes: String =
    """q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
      |           label AS ql FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
      |      label AS nl FROM embeddings),
      |nn AS (SELECT query_id, nl FROM (
      |    SELECT q.query_id, c.nl,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY list_cosine_similarity(qv, cv) DESC,
      |                 c.neighbor_id ASC) AS rank
      |    FROM q JOIN c ON q.query_id <> c.neighbor_id)
      |  WHERE rank <= 5),
      |v AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes
      |      FROM nn GROUP BY 1, 2),
      |p AS (SELECT query_id, nl AS predicted FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY votes DESC, nl ASC) AS rn FROM v) WHERE rn = 1),
      |pred AS (SELECT p.query_id, q.ql AS label, p.predicted
      |         FROM p JOIN q ON p.query_id = q.query_id)""".stripMargin

  /** Content-defined-chunking CTE (w=3 rolling window, modulus 32 —
    * the pack_cdc parameters): yields `chunks`(doc_id, chunk_idx,
    * start_tok, n_tokens, chunk_hash). Shared by pack_cdc and
    * dedup_chunk. */
  private lazy val cdcChunkCtes: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |bnd AS (SELECT doc_id, t, len(t) AS n,
      |  list_filter(range(3, len(t)+1), i ->
      |    CAST(('0x'||substr(md5(array_to_string(t[CAST(i-2 AS INT):CAST(i AS INT)],' ')),1,8)) AS BIGINT)
      |      % 32 = 0) AS bs
      |  FROM toks),
      |st AS (SELECT doc_id, t, n,
      |  list_filter(list_prepend(CAST(1 AS BIGINT), [i+1 FOR i IN bs]),
      |              x -> x <= n) AS starts
      |  FROM bnd),
      |ch AS (SELECT doc_id, t, n, starts, unnest(range(len(starts))) AS j FROM st),
      |chunks AS (SELECT doc_id, CAST(j AS INT) AS chunk_idx,
      |  CAST(starts[CAST(j+1 AS INT)] AS BIGINT) AS start_tok,
      |  CAST(coalesce(starts[CAST(j+2 AS INT)], n+1) - starts[CAST(j+1 AS INT)] AS BIGINT)
      |    AS n_tokens,
      |  md5(array_to_string(
      |    t[CAST(starts[CAST(j+1 AS INT)] AS INT):
      |      CAST(coalesce(starts[CAST(j+2 AS INT)], n+1) - 1 AS INT)], ' ')) AS chunk_hash
      |FROM ch)""".stripMargin

  /** Interpolated-bigram-LM per-doc score CTE (λ=0.7 conditional bigram
    * backed off to unigrams, 4dp round) — shared by the text_lm_interp
    * and text_ppl_bucket oracles. */
  private lazy val lmInterpCtes: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |bg AS (SELECT doc_id, array_to_string(t[i+1:i+2],' ') AS shingle
      |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks)),
      |perdoc AS (SELECT doc_id, shingle, count(*) AS c FROM bg GROUP BY 1, 2),
      |bgc AS (SELECT shingle, CAST(sum(c) AS BIGINT) AS n_bg FROM perdoc GROUP BY 1),
      |w1c AS (SELECT split_part(shingle, ' ', 1) AS w1,
      |          CAST(sum(n_bg) AS BIGINT) AS n_w1 FROM bgc GROUP BY 1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_u
      |        FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
      |        GROUP BY w),
      |tot AS (SELECT CAST(sum(n_u) AS BIGINT) AS t_tok FROM uni),
      |lmscore AS (SELECT doc_id,
      |  round(sum(c * ln(0.7 * CAST(n_bg AS DOUBLE) / CAST(n_w1 AS DOUBLE)
      |    + 0.3 * CAST(n_u AS DOUBLE) / CAST(t_tok AS DOUBLE))) / sum(c), 4)
      |    AS lm_score
      |FROM perdoc
      |JOIN bgc USING (shingle)
      |JOIN w1c ON w1c.w1 = split_part(shingle, ' ', 1)
      |JOIN uni ON uni.w = split_part(shingle, ' ', 2), tot
      |GROUP BY doc_id)""".stripMargin

  /** Gram-matrix CTE (0-based upper triangle, HUGEINT sums over the
    * same round(x·2²⁰) scaling as the Spark plan); shared by the gram
    * and power-iteration oracles. */
  private lazy val gramCtes: String =
    """xs0 AS (SELECT [CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) FOR x IN embedding] AS xs
      |        FROM embeddings WHERE len(embedding) = 64),
      |p1 AS (SELECT xs, unnest(range(64)) AS i FROM xs0),
      |p2 AS (SELECT xs, i, unnest(range(64)) AS j FROM p1),
      |gr AS (SELECT i, j,
      |    sum(CAST(xs[CAST(i+1 AS INT)] AS HUGEINT) * xs[CAST(j+1 AS INT)]) AS g
      |  FROM p2 WHERE j >= i GROUP BY i, j)""".stripMargin

  /** Power-iteration oracle: symmetric Gram, v₀ = 1⃗·2²⁰, three rounds
    * of matvec + trunc-division rescale (a − a % m, both engines'
    * dividend-signed %). */
  private lazy val topPcCtes: String = {
    val iters = (1 to 3).map { r =>
      s"""y$r AS (SELECT g2.i, sum(g2.g * v.v) AS y FROM g2 JOIN v${r - 1} v ON g2.j = v.j GROUP BY g2.i),
         |m$r AS (SELECT max(abs(y)) AS m FROM y$r),
         |v$r AS (SELECT y$r.i AS j, ((y*1048576) - ((y*1048576) % m)) // m AS v
         |  FROM y$r, m$r)""".stripMargin
    }.mkString(",\n")
    s"""$gramCtes,
       |g2 AS (SELECT i, j, g FROM gr
       |  UNION ALL SELECT j AS i, i AS j, g FROM gr WHERE i <> j),
       |v0 AS (SELECT unnest(range(64)) AS j, CAST(1048576 AS HUGEINT) AS v),
       |$iters""".stripMargin
  }

  private lazy val topPcSql: String =
    s"""WITH $topPcCtes
       |SELECT CAST(j AS INT) AS i, CAST(v AS BIGINT) AS v_scaled FROM v3""".stripMargin

  /** Deflated second-PC oracle: w = v₁ (the v3 chain), then three
    * rounds of matvec + orthogonalize (trunc-division projection
    * coefficient, like the Spark plan) + max-abs rescale. Every CTE
    * here is MATERIALIZED: each round references z/o twice (projection
    * + output, max-abs + rescale), so plain inlining re-expands the
    * previous round 4× — the 3-round chain re-evaluates the v₁ tree
    * hundreds of times (measured: >12 min vs 0.3 s at sf0.01). */
  private lazy val secondPcSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""z$r AS MATERIALIZED (SELECT g2.i, sum(g2.g * x.v) AS y
         |  FROM g2 JOIN x${r - 1} x ON g2.j = x.j GROUP BY g2.i),
         |zd$r AS MATERIALIZED (SELECT sum(z.y * w.wv) AS d FROM z$r z JOIN w ON z.i = w.j),
         |o$r AS MATERIALIZED (SELECT z.i AS j, z.y - ((d - d % q) // q) * w.wv AS v
         |  FROM z$r z JOIN w ON z.i = w.j, zd$r, qq),
         |om$r AS MATERIALIZED (SELECT max(abs(v)) AS m FROM o$r),
         |x$r AS MATERIALIZED (SELECT j, ((v*1048576) - ((v*1048576) % m)) // m AS v
         |  FROM o$r, om$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $topPcCtes,
       |w AS MATERIALIZED (SELECT j, v AS wv FROM v3),
       |qq AS MATERIALIZED (SELECT sum(wv * wv) AS q FROM w),
       |u0 AS MATERIALIZED (SELECT unnest(range(64)) AS j, CAST(1048576 AS HUGEINT) AS v),
       |ud AS MATERIALIZED (SELECT sum(u0.v * w.wv) AS d FROM u0 JOIN w USING (j)),
       |x0 AS MATERIALIZED (SELECT u0.j, u0.v - ((d - d % q) // q) * w.wv AS v
       |  FROM u0 JOIN w USING (j), ud, qq),
       |$rounds
       |SELECT CAST(j AS INT) AS i, CAST(v AS BIGINT) AS v_scaled
       |FROM x3""".stripMargin
  }

  /** SRP-bucketed verified pair CTEs (shared by the near-dup and
    * threshold-sweep oracles): identical plane literals as the Spark
    * plan, cosine from DuckDB's index-ordered list kernel. */
  private lazy val lshPairCtes: String = {
    val planes = graft.ops.Similarity.srpPlanes(nBits = 6, dim = 64)
    def planeLit(b: Int) = planes(b).mkString("[", ",", "]") + "::DOUBLE[]"
    val bucket = (0 until 6).map(b =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeLit(b)}) >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""bucketed AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |lshpairs AS (SELECT a, b, sim FROM (
       |  SELECT l.vec_id AS a, r.vec_id AS b,
       |    list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) AS sim
       |  FROM bucketed l JOIN bucketed r
       |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
       |WHERE sim >= 0.2)""".stripMargin
  }

  /** Average-hash replay: pixel (x, y) of the 4x4 BMP sits at payload
    * offset (3-y)*12 + 3x (bottom-up rows, rowSize 12); gray = sum of
    * its 3 channel bytes ('A'=65 padding past the text); bit p set iff
    * 16*gray > total, packed LSB-first in row-major order. */
  private lazy val phashSql: String =
    """WITH pg AS (
      |  SELECT doc_id, CAST(p AS INT) AS p, text,
      |    (3 - p // 4) * 12 + 3 * (p % 4) AS b
      |  FROM documents, (SELECT unnest(range(16)) AS p)),
      |g AS (
      |  SELECT doc_id, p,
      |    (CASE WHEN b < length(text) THEN ord(substr(text, CAST(b+1 AS INT), 1)) ELSE 65 END
      |   + CASE WHEN b+1 < length(text) THEN ord(substr(text, CAST(b+2 AS INT), 1)) ELSE 65 END
      |   + CASE WHEN b+2 < length(text) THEN ord(substr(text, CAST(b+3 AS INT), 1)) ELSE 65 END) AS gray
      |  FROM pg),
      |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id)
      |SELECT g.doc_id AS id,
      |  CAST(sum(CASE WHEN 16 * g.gray > t.total
      |                THEN (1::BIGINT) << g.p ELSE 0 END) AS BIGINT) AS phash
      |FROM g JOIN t USING (doc_id) GROUP BY g.doc_id""".stripMargin

  /** Triangle-census oracle: same span-pair graph as pagerankSql, then
    * (degree, id)-ordered orientation and the wedge-close join — each
    * triangle counted once at its lowest-ranked vertex. */
  private lazy val trianglesSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+15],' ') AS shingle
       |       FROM (SELECT doc_id, t,
       |             unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
       |ok AS (SELECT shingle FROM sh GROUP BY shingle
       |       HAVING count(*) BETWEEN 2 AND 100),
       |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
       |  JOIN ok ON l.shingle = ok.shingle),
       |dg AS (SELECT v, count(*) AS deg
       |  FROM (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs)
       |  GROUP BY v),
       |o AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
       |             CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
       |  FROM (SELECT p.a, p.b, d1.deg AS da, d2.deg AS db
       |        FROM pairs p JOIN dg d1 ON p.a = d1.v JOIN dg d2 ON p.b = d2.v))
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT)
       |   FROM o e1 JOIN o e2 ON e1.v = e2.u
       |     JOIN o e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges""".stripMargin

  /** Shared minhash-LSH CTE prefix (identical affine family as
    * Dedup.minhash — constants injected from the same arrays). */
  private lazy val minhashCtes: String = {
    val seedRows = (0 until 12).map(i =>
      s"(${i}, ${Dedup.MinhashA(i)}, ${Dedup.MinhashB(i)})").mkString(", ")
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3],' ') AS shingle
       |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
       |base AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle),1,8)) AS BIGINT) AS x FROM sh),
       |seeds(seed, a, b) AS (VALUES ${seedRows}),
       |mh AS (SELECT doc_id, seed, min((a * x + b) % ${Dedup.MinhashP}) AS minhash
       |       FROM base, seeds GROUP BY doc_id, seed),
       |banded AS (SELECT doc_id, CAST(seed // 3 AS INT) AS band,
       |             string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed) AS bucket
       |           FROM mh GROUP BY doc_id, band)""".stripMargin
  }

  /** The stopword-scored language-guess expression — shared by the
    * text_langid and eval_langid oracles. */
  private lazy val langGuessSql: String = {
    val entries = stop.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"{'hits': CAST(${hitsSql(words)} AS BIGINT), 'lang': '$lang'}"
    }
    s"(list_max([${entries.mkString(", ")}])).lang"
  }

  /** The hashed-logistic z-score subquery (classifier weights inlined as
    * a literal array) — shared by the text_classify and eval_pr_curve
    * oracles so both replay the identical scoring chain. */
  private[queries] def clfZSql(extraCols: String = ""): String = {
    val wl = TextAnalysis.clfWeights.mkString("[", ",", "]") + "::DOUBLE[]"
    s"""SELECT doc_id$extraCols, ${TextAnalysis.ClfBias} + list_reduce(
       |    list_prepend(CAST(0.0 AS DOUBLE),
       |      [wl[CAST(CAST(('0x'||substr(md5(t),1,8)) AS BIGINT)
       |            % ${TextAnalysis.ClfDim} AS INT) + 1]
       |       FOR t IN string_split(text,' ')]),
       |    (a, x) -> a + x) / CAST(len(string_split(text,' ')) AS DOUBLE) AS z
       |  FROM documents, (SELECT $wl AS wl)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // BM25 replayed in SQL: same left-assoc double expression tree, same
    // sorted-term fold (list_reduce's first element ≡ Spark's 0.0 + x₀),
    // same multiply-round-divide, rank on the ROUNDED score in both.
    "text_search_topk" -> {
      val terms = SearchSet.flatMap(_._2).distinct
        .map(t => s"'$t'").mkString(", ")
      val vals = SearchSet.flatMap { case (q, ts) =>
        ts.distinct.map(t => s"('$q','$t')")
      }.mkString(", ")
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS toks,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM base),
        |q(qid, term) AS (VALUES $vals),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM base),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE term IN ($terms) GROUP BY 1, 2, 3),
        |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        |        GROUP BY term),
        |c AS (SELECT q.qid, tf.doc_id, tf.term,
        |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |        / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |      AS contrib
        |  FROM tf JOIN q USING (term) JOIN dfx USING (term), stats),
        |s AS (SELECT qid, doc_id,
        |    round(list_reduce(list(contrib ORDER BY term), (a, x) -> a + x)
        |      * 10000) / 10000 AS score
        |  FROM c GROUP BY qid, doc_id)
        |SELECT qid, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS INT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin
    },
    "text_langid" ->
      s"""SELECT doc_id, $langGuessSql AS lang_guess
         |FROM documents""".stripMargin,
    // confusion matrix of the n-gram language identifier against the
    // labeled lang column — same guess expression, grouped.
    "eval_langid" ->
      s"""SELECT lang, $langGuessSql AS lang_guess,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "text_quality" -> {
      s"""SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
         |    / len(string_split(text,' ')) AS mean_token_len,
         |  CAST(${hitsSql(stop("en"))} AS DOUBLE)
         |    / len(string_split(text,' ')) AS stopword_ratio
         |FROM documents""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    "text_entropy" ->
      """WITH uc0 AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, '')) AS g
        |        FROM documents)
        |  GROUP BY 1, 2),
        |uc AS (SELECT source, g, CAST(sum(c) AS BIGINT) AS c FROM (
        |    SELECT source, CASE WHEN row_number() OVER (
        |        PARTITION BY source ORDER BY c DESC, g) <= 65536
        |      THEN g ELSE '___' END AS g, c FROM uc0)
        |  GROUP BY 1, 2),
        |ut AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM uc GROUP BY 1),
        |uq AS (SELECT uc.source, ut.n,
        |    CAST(round(CAST(uc.c AS DOUBLE) / CAST(ut.n AS DOUBLE)
        |      * log2(CAST(uc.c AS DOUBLE) / CAST(ut.n AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT) AS q
        |  FROM uc JOIN ut USING (source)),
        |uh AS (SELECT source, max(n) AS n,
        |    -(CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE)) / 1000000000000.0
        |      AS h
        |  FROM uq GROUP BY 1),
        |bc0 AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |      unnest(list_transform(range(1, length(text)),
        |        i -> substr(text, CAST(i AS INT), 2))) AS g
        |    FROM documents WHERE length(text) >= 2)
        |  GROUP BY 1, 2),
        |bc AS (SELECT source, g, CAST(sum(c) AS BIGINT) AS c FROM (
        |    SELECT source, CASE WHEN row_number() OVER (
        |        PARTITION BY source ORDER BY c DESC, g) <= 65536
        |      THEN g ELSE '___' END AS g, c FROM bc0)
        |  GROUP BY 1, 2),
        |bt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        |bq AS (SELECT bc.source, bt.n,
        |    CAST(round(CAST(bc.c AS DOUBLE) / CAST(bt.n AS DOUBLE)
        |      * log2(CAST(bc.c AS DOUBLE) / CAST(bt.n AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT) AS q
        |  FROM bc JOIN bt USING (source)),
        |bh AS (SELECT source,
        |    -(CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE)) / 1000000000000.0
        |      AS h
        |  FROM bq GROUP BY 1)
        |SELECT uh.source, uh.n AS n_chars,
        |  round(uh.h * 10000) / 10000 AS h_char,
        |  round((bh.h - uh.h) * 10000) / 10000 AS h_cond
        |FROM uh JOIN bh USING (source)""".stripMargin,

    "text_readability" ->
      """WITH d AS (SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> len(w) > 0)) AS BIGINT) AS w,
        |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]'))
        |      AS BIGINT)) AS sent,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS syl
        |  FROM documents),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS words,
        |    CAST(sum(sent) AS BIGINT) AS sentences,
        |    CAST(sum(syl) AS BIGINT) AS syllables
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs, words, sentences, syllables,
        |  round(CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE) * 10000)
        |    / 10000 AS words_per_sentence,
        |  round(CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE) * 10000)
        |    / 10000 AS syllables_per_word,
        |  round((206.835
        |      - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |      - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))
        |    * 10000) / 10000 AS flesch
        |FROM m""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,
    "text_rollhash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ord(c) AS BIGINT) FOR c IN string_split(text, '')]),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rh,
        |  1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS rep
        |FROM documents""".stripMargin,
    "text_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, array_to_string(t[i+1:i+2],' ') AS shingle
        |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks)),
        |counts AS (SELECT shingle, count(*) AS n FROM bg GROUP BY shingle),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        |SELECT doc_id,
        |  round(avg(ln(CAST(n AS DOUBLE) / total)), 4) AS lm_score
        |FROM bg JOIN counts USING (shingle), tot
        |GROUP BY doc_id""".stripMargin,
    "text_lm_interp" ->
      s"""WITH $lmInterpCtes
         |SELECT doc_id, lm_score FROM lmscore""".stripMargin,
    // per-source mean of the SAME per-doc scores: 4dp scores sum as
    // DECIMAL(18,4) (order-free), one final division + round.
    "eval_ppl_by_source" ->
      s"""WITH $lmInterpCtes
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(lm_score AS DECIMAL(18,4))) AS DOUBLE)
         |    / count(*) * 10000) / 10000 AS mean_lm_score
         |FROM lmscore l JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin,
    // CCNet-style terciles over the SAME per-doc LM score: exact ntile
    // on the 4dp-rounded score (engine-stable), doc_id tiebreak.
    "text_ppl_bucket" ->
      s"""WITH $lmInterpCtes
         |SELECT doc_id, lm_score,
         |  CAST(ntile(3) OVER (ORDER BY lm_score DESC, doc_id) AS INT)
         |    AS ppl_bucket
         |FROM lmscore""".stripMargin,
    "vocab_top" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 100""".stripMargin,
    "vocab_oov" ->
      """WITH top AS (SELECT word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word ORDER BY count(*) DESC, word ASC LIMIT 1000),
        |tok AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN top.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN top.word IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) * 1000000) / 1000000 AS oov_frac
        |FROM tok LEFT JOIN top ON tok.word = top.word
        |GROUP BY source""".stripMargin,
    // ln(rank) terms and their sums are the SAME Scala-computed
    // literals as the Spark plan; Σy and Σxy fold in rank order via
    // list(... ORDER BY) + list_reduce (first element as seed ≡
    // Spark's 0.0 + y1), so both engines add identical doubles in an
    // identical sequence up to ln(freq)'s last ulp — absorbed at 4dp.
    "text_zipf" -> {
      val k = 100
      val lnArr = TextAnalysis.zipfLnRank(k).map(_.toString)
        .mkString("[", ",", "]")
      val sx = TextAnalysis.zipfLnRank(k).sum.toString
      val sxx = TextAnalysis.zipfLnRank(k).map(x => x * x).sum.toString
      val slope = s"(CAST(cnt AS DOUBLE) * sxy - ($sx) * sy)" +
        s" / (CAST(cnt AS DOUBLE) * ($sxx) - ($sx) * ($sx))"
      s"""WITH top AS (SELECT word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word ORDER BY n DESC, word ASC LIMIT $k),
         |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, word ASC)
         |         AS rank FROM top),
         |l AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
         |    list(ln(CAST(n AS DOUBLE)) ORDER BY rank) AS ys,
         |    list(($lnArr::DOUBLE[])[CAST(rank AS INT)]
         |         * ln(CAST(n AS DOUBLE)) ORDER BY rank) AS xys
         |  FROM rk),
         |s AS (SELECT cnt, list_reduce(ys, (a, b) -> a + b) AS sy,
         |    list_reduce(xys, (a, b) -> a + b) AS sxy FROM l)
         |SELECT cnt AS n_terms,
         |  round(($slope) * 10000) / 10000 AS slope,
         |  round((sy - ($slope) * ($sx)) / CAST(cnt AS DOUBLE) * 10000)
         |    / 10000 AS intercept
         |FROM s""".stripMargin
    },
    // within-doc repetition: same n-gram enumeration (list-comprehension
    // slices), window count for the dup-coverage branch, distinct covered
    // positions; left joins + coalesce mirror the short-doc guards.
    "text_gopher" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[CAST(i AS INT):CAST(i+1 AS INT)], ' ')
        |      FOR i IN range(1, CAST(len(toks) AS BIGINT))]) AS g FROM t)
        |  GROUP BY doc_id, g),
        |bf AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f2 FROM b GROUP BY doc_id),
        |tr AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[CAST(i AS INT):CAST(i+2 AS INT)], ' ')
        |      FOR i IN range(1, CAST(len(toks) AS BIGINT) - 1)]) AS g FROM t)
        |  GROUP BY doc_id, g),
        |tf3 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f3 FROM tr GROUP BY doc_id),
        |ps AS (SELECT doc_id, n, i, array_to_string(toks[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
        |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, toks,
        |          unnest(range(1, CAST(len(toks) AS BIGINT) - 3)) AS i FROM t)),
        |d1 AS (SELECT doc_id, n, i, count(*) OVER (PARTITION BY doc_id, g) AS c FROM ps),
        |d2 AS (SELECT doc_id, n, unnest(range(i, i + 5)) AS p FROM d1 WHERE c >= 2),
        |dup AS (SELECT doc_id, max(n) AS n, count(DISTINCT p) AS ndup FROM d2 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  round(coalesce(bf.f2, 0), 6) AS top_bigram_frac,
        |  round(coalesce(tf3.f3, 0), 6) AS top_trigram_frac,
        |  round(coalesce(CAST(dup.ndup AS DOUBLE) / dup.n, 0), 6) AS dup_ngram_frac
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN bf USING (doc_id) LEFT JOIN tf3 USING (doc_id)
        |LEFT JOIN dup USING (doc_id)""".stripMargin,
    // Kneser-Ney: model tables all derive from the distinct-bigram count
    // CTE; the scoring expression mirrors the Spark operand order
    // term for term (the sum order difference is absorbed by round 4).
    "text_lm_kn" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, array_to_string(t[i+1:i+2],' ') AS shingle
        |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks)),
        |perdoc AS (SELECT doc_id, shingle, count(*) AS c FROM bg GROUP BY 1, 2),
        |bgc AS (SELECT shingle, CAST(sum(c) AS BIGINT) AS n_bg FROM perdoc GROUP BY 1),
        |w1s AS (SELECT split_part(shingle, ' ', 1) AS w1,
        |          CAST(sum(n_bg) AS BIGINT) AS n_w1,
        |          CAST(count(*) AS BIGINT) AS fanout FROM bgc GROUP BY 1),
        |contc AS (SELECT split_part(shingle, ' ', -1) AS w2,
        |          CAST(count(*) AS BIGINT) AS n_cont FROM bgc GROUP BY 1),
        |typ AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bgc)
        |SELECT doc_id,
        |  round(sum(c * ln(
        |    greatest(CAST(n_bg AS DOUBLE) - 0.75, 0.0) / CAST(n_w1 AS DOUBLE)
        |    + 0.75 * CAST(fanout AS DOUBLE) / CAST(n_w1 AS DOUBLE)
        |      * CAST(n_cont AS DOUBLE) / CAST(n_types AS DOUBLE)))
        |    / sum(c), 4) AS kn_score
        |FROM perdoc
        |JOIN bgc USING (shingle)
        |JOIN w1s ON w1s.w1 = split_part(shingle, ' ', 1)
        |JOIN contc ON contc.w2 = split_part(shingle, ' ', -1), typ
        |GROUP BY doc_id""".stripMargin,
    // composed curation pass: each signal reuses its standalone oracle's
    // formulation verbatim (langid list_max, quality ratios, distinct-
    // token repetition, classifier fold), so agreement here certifies the
    // COMPOSITION, not new math.
    "curate_filter" -> {
      val entries = stop.toSeq.sortBy(_._1).map { case (lang, words) =>
        s"{'hits': CAST(${hitsSql(words)} AS BIGINT), 'lang': '$lang'}"
      }
      val wl = TextAnalysis.clfWeights.mkString("[", ",", "]") + "::DOUBLE[]"
      s"""SELECT doc_id,
         |  (list_max([${entries.mkString(", ")}])).lang AS lang_guess,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
         |    / len(string_split(text,' ')) AS mean_token_len,
         |  CAST(${hitsSql(stop("en"))} AS DOUBLE)
         |    / len(string_split(text,' ')) AS stopword_ratio,
         |  1.0 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS rep,
         |  round(1.0/(1.0 + exp(-z)), 4) AS clf_score,
         |  len(string_split(text,' ')) >= 30
         |    AND (1.0 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |           / len(string_split(text,' '))) < 0.6
         |    AND z > 0 AS keep
         |FROM (SELECT doc_id, text, ${TextAnalysis.ClfBias} + list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE),
         |      [wl[CAST(CAST(('0x'||substr(md5(t),1,8)) AS BIGINT)
         |            % ${TextAnalysis.ClfDim} AS INT) + 1]
         |       FOR t IN string_split(text,' ')]),
         |    (a, x) -> a + x) / CAST(len(string_split(text,' ')) AS DOUBLE) AS z
         |  FROM documents, (SELECT $wl AS wl))""".stripMargin
    },
    // winnowing: identical md5-per-shingle hashes; the rightmost-min
    // tie-break rides inside the string min (hash || '|' || reversed
    // zero-padded position), so no min_by ambiguity in either engine.
    "text_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i+3 AS INT)], ' ')) AS h
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, CAST(len(toks) AS BIGINT) - 2)) AS i FROM t)),
        |sk AS (SELECT doc_id, pos,
        |    h || '|' || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS sortkey FROM sh),
        |w AS (SELECT doc_id, pos,
        |    min(sortkey) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        |    count(*) OVER (PARTITION BY doc_id) AS n_sh
        |  FROM sk)
        |SELECT DISTINCT doc_id,
        |  9999999 - CAST(substring(sel, 34, 7) AS INT) AS sel_pos,
        |  substring(sel, 1, 32) AS fp
        |FROM w WHERE pos <= n_sh - 4""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
        |  GROUP BY doc_id, word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, word,
        |    round(tf * ln(n_docs / df), 4) AS score
        |  FROM tf JOIN df USING (word), n)
        |SELECT doc_id, word, score, CAST(rnk AS INT) AS rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rnk
        |  FROM scored) WHERE rnk <= 3""".stripMargin,
    "text_bm25" -> {
      val (k1, b) = (1.2, 0.75)
      val dfAggs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1.0 ELSE 0.0 END) AS df_$i"
      }.mkString(",\n        |  ")
      val termSql = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"""(ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
           | * (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * (${k1} + 1.0))
           | / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
           |    + ${k1} * (1.0 - ${b} + ${b} * dl / avgdl)))""".stripMargin
      }.mkString(" + ")
      s"""WITH base AS (SELECT doc_id, string_split(text,' ') AS toks,
        |    CAST(len(string_split(text,' ')) AS DOUBLE) AS dl FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
        |  $dfAggs
        |  FROM base)
        |SELECT doc_id, round($termSql, 4) AS bm25 FROM base, stats""".stripMargin
    },
    "dedup_dupfrac" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |occ AS (SELECT doc_id, i AS p, array_to_string(t[i+1:i+15],' ') AS shingle
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |dup AS (SELECT shingle FROM occ GROUP BY shingle
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, CAST(count(DISTINCT tokpos) AS BIGINT) AS n_dup_tokens
        |        FROM (SELECT doc_id, unnest(range(p, p+15)) AS tokpos
        |              FROM occ JOIN dup USING (shingle))
        |        GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
        |  coalesce(cov.n_dup_tokens, 0) AS n_dup_tokens,
        |  round(CAST(coalesce(cov.n_dup_tokens, 0) AS DOUBLE)
        |    / len(string_split(d.text,' ')), 4) AS dup_frac
        |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id""".stripMargin,
    // within-doc repetition removal: first occurrence per (doc, gram)
    // via a window min; remove-cover EXCEPT keep-cover, then the same
    // indexed-comprehension rebuild as dedup_span_removal.
    "text_derep" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |occ AS (SELECT doc_id, i AS p, array_to_string(t[i+1:i+3],' ') AS g
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
        |f AS (SELECT doc_id, p, g,
        |        min(p) OVER (PARTITION BY doc_id, g) AS firstp,
        |        count(*) OVER (PARTITION BY doc_id, g) AS cnt FROM occ),
        |rm AS (SELECT doc_id, unnest(range(p, p+3)) AS q FROM f WHERE p > firstp),
        |kp AS (SELECT doc_id, unnest(range(p, p+3)) AS q FROM f
        |       WHERE p = firstp AND cnt >= 2),
        |rs AS (SELECT doc_id, q FROM rm EXCEPT SELECT doc_id, q FROM kp),
        |cov AS (SELECT doc_id, list(DISTINCT q) AS rset FROM rs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(array_to_string([d.t[CAST(i+1 AS INT)] FOR i IN range(0, len(d.t))
        |    IF NOT list_contains(coalesce(cov.rset, []), i)], ' '), '') AS clean_text,
        |  CAST(coalesce(len(cov.rset), 0) AS INT) AS n_removed
        |FROM toks d LEFT JOIN cov USING (doc_id)""".stripMargin,
    // watermark scan: identical md5-nibble green rule, exact integer
    // (g, n), one sqrt + one division; n=0 docs pin z=0/unflagged.
    "text_watermark" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_pairs,
        |    CAST(coalesce(list_sum([CASE WHEN
        |      CAST(('0x' || substr(md5(t[CAST(i+1 AS INT)] || '|' ||
        |        t[CAST(i+2 AS INT)]), 1, 1)) AS BIGINT) < 8
        |      THEN 1 ELSE 0 END FOR i IN range(len(t) - 1)]), 0)
        |      AS BIGINT) AS n_green
        |  FROM toks)
        |SELECT doc_id, n_pairs, n_green,
        |  CASE WHEN n_pairs > 0 THEN
        |    round(CAST(n_green * 2 - n_pairs AS DOUBLE)
        |      / sqrt(CAST(n_pairs AS DOUBLE)) * 1000000) / 1000000
        |  ELSE 0.0 END AS z,
        |  n_pairs > 0 AND CAST(n_green * 2 - n_pairs AS DOUBLE)
        |    >= 4.0 * sqrt(CAST(n_pairs AS DOUBLE)) AS flagged
        |FROM g""".stripMargin,
    // boilerplate: same non-overlapping 8-token segmentation, distinct
    // doc counts, the (nd desc, seg)-capped frequent list, and a
    // list_filter rebuild in original segment order.
    "text_boilerplate" ->
      """WITH segs AS (
        |  SELECT doc_id, i,
        |    array_to_string(toks[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)],
        |      ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents),
        |       LATERAL unnest(range(greatest(
        |         CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS t(i)),
        |cnt AS (SELECT seg, count(DISTINCT doc_id) AS nd
        |        FROM segs GROUP BY 1),
        |b AS (SELECT coalesce(list(seg ORDER BY seg), CAST([] AS VARCHAR[]))
        |        AS boiler
        |      FROM (SELECT seg, nd FROM cnt WHERE nd >= 2
        |            ORDER BY nd DESC, seg LIMIT 100000)),
        |d AS (SELECT doc_id, list(seg ORDER BY i) AS segl
        |      FROM segs GROUP BY 1)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_filter(segl,
        |    s -> NOT list_contains(boiler, s)), ' '), '') AS clean_text,
        |  CAST(len(list_filter(segl,
        |    s -> list_contains(boiler, s))) AS INT) AS n_removed
        |FROM d CROSS JOIN b""".stripMargin,
    // removal half: same span universe as dedup_dupfrac; the cleaned
    // text is an indexed comprehension skipping covered positions.
    "dedup_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |occ AS (SELECT doc_id, i AS p, array_to_string(t[i+1:i+15],' ') AS shingle
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |dup AS (SELECT shingle FROM occ GROUP BY shingle
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, list(DISTINCT tokpos) AS cov
        |        FROM (SELECT doc_id, unnest(range(p, p+15)) AS tokpos
        |              FROM occ JOIN dup USING (shingle))
        |        GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(array_to_string([d.t[CAST(i+1 AS INT)] FOR i IN range(0, len(d.t))
        |    IF NOT list_contains(coalesce(cov.cov, []), i)], ' '), '') AS clean_text,
        |  CAST(coalesce(len(cov.cov), 0) AS INT) AS n_removed
        |FROM toks d LEFT JOIN cov USING (doc_id)""".stripMargin,
    "dedup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, array_to_string(t[i+1:i+15],' ') AS shingle
        |       FROM (SELECT doc_id, t,
        |             unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |g AS (SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |      FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2)
        |SELECT md5(shingle) AS span_id, n_docs, first_doc, last_doc FROM g""".stripMargin,
    // literal weight vector from the SAME array the Spark plan embeds;
    // list_reduce's left fold matches Spark's ordered aggregate() fold, so
    // the logit is bit-identical before the 4-decimal round.
    "text_classify" ->
      s"""SELECT doc_id, round(1.0/(1.0 + exp(-z)), 4) AS score, z > 0 AS keep
         |FROM (${clfZSql()})""".stripMargin,
    "text_phrase" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT doc_id, array_to_string(t[i+1:i+2],' ') AS g
        |      FROM (SELECT doc_id, t,
        |            unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_matches
        |FROM g WHERE g = 'table scan' GROUP BY doc_id""".stripMargin,
    // same scoring subquery as text_classify; exact confusion counts per
    // literal cutoff, ratio doubles rounded the portable way.
    "eval_pr_curve" ->
      s"""WITH scored AS (SELECT doc_id,
         |    round(1.0/(1.0 + exp(-z)), 4) AS score, lang = 'en' AS pos
         |  FROM (${clfZSql(", lang")})),
         |t AS (SELECT unnest([0.5, 0.52, 0.54, 0.56, 0.58]::DOUBLE[])
         |        AS threshold),
         |a AS (SELECT threshold,
         |    CAST(sum(CASE WHEN score >= threshold AND pos
         |             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN score >= threshold AND NOT pos
         |             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN score < threshold AND pos
         |             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN score < threshold AND NOT pos
         |             THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored, t GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn,
         |  round(CAST(tp AS DOUBLE)/nullif(tp+fp, 0) * 1000000)/1000000 AS prec,
         |  round(CAST(tp AS DOUBLE)/nullif(tp+fn, 0) * 1000000)/1000000 AS rec
         |FROM a""".stripMargin,
    // same scoring subquery; yield counts are exact integers, the two
    // fractions single double divisions.
    "curate_yield_curve" ->
      s"""WITH scored AS (SELECT doc_id,
         |    round(1.0/(1.0 + exp(-z)), 4) AS score,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM (${clfZSql(", text")})),
         |t AS (SELECT unnest([0.5, 0.52, 0.54, 0.56, 0.58]::DOUBLE[])
         |        AS threshold),
         |a AS (SELECT threshold,
         |    CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_docs_kept,
         |    CAST(sum(CASE WHEN score >= threshold THEN nt ELSE 0 END)
         |      AS BIGINT) AS n_tokens_kept,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens
         |  FROM scored, t GROUP BY threshold)
         |SELECT threshold, n_docs_kept, n_tokens_kept,
         |  round(CAST(n_tokens_kept AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    * 1000000) / 1000000 AS token_frac,
         |  round(CAST(n_docs_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    * 1000000) / 1000000 AS doc_frac
         |FROM a""".stripMargin,
    // same scoring subquery; midrank AUC from exact integer rank sums.
    // NDCG@10 replay: identical neighbor ranking as sim_topk's proven
    // oracle (pinned cosine, vec_id tiebreak); discount weights and
    // ideal-DCG prefix sums are the SAME Scala-computed literals the
    // Spark plan carries — neither engine calls its own log.
    "eval_ndcg" -> {
      val wl = NdcgWeights.map(_.toString).mkString("[", ",", "]")
      val il = NdcgIdcg.map(_.toString).mkString("[", ",", "]")
      s"""WITH nn AS (
         |  SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |                 c.vec_id ASC) AS rank
         |    FROM embeddings q, embeddings c
         |    WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 10),
         |j AS (SELECT nn.query_id, nn.rank,
         |    ql.label AS ql, nl.label AS nl
         |  FROM nn JOIN embeddings ql ON ql.vec_id = nn.query_id
         |  JOIN embeddings nl ON nl.vec_id = nn.neighbor_id),
         |per AS (SELECT query_id,
         |    sum(CASE WHEN ql = nl THEN ($wl::DOUBLE[])[rank] ELSE 0 END) AS dcg,
         |    CAST(sum(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
         |  FROM j GROUP BY 1)
         |SELECT query_id, n_rel,
         |  CASE WHEN n_rel > 0 THEN
         |    round(dcg / ($il::DOUBLE[])[CAST(n_rel AS INT)] * 1000000) / 1000000
         |  ELSE 0.0 END AS ndcg
         |FROM per""".stripMargin
    },
    // same nn ranking as eval_ndcg; reciprocal rank as the exact
    // integer 2520/rank (2520 = lcm(1..10) — always divisible).
    "eval_mrr" ->
      """WITH nn AS (
        |  SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                 c.vec_id ASC) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 10),
        |j AS (SELECT nn.query_id, nn.rank, ql.label AS ql, nl.label AS nl
        |  FROM nn JOIN embeddings ql ON ql.vec_id = nn.query_id
        |  JOIN embeddings nl ON nl.vec_id = nn.neighbor_id),
        |per AS (SELECT query_id,
        |    min(CASE WHEN ql = nl THEN rank END) AS first_rel_rank
        |  FROM j GROUP BY 1)
        |SELECT query_id, first_rel_rank,
        |  coalesce(CAST(2520 // first_rel_rank AS BIGINT), 0) AS rr_x2520
        |FROM per""".stripMargin,
    // two raters = kNN label at k=5 vs k=3 (one shared rank<=5 pass;
    // the k=3 vote reads the rank prefix). kappa is one exact rational.
    "eval_kappa" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |           label AS ql FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
        |      label AS nl FROM embeddings),
        |nr AS MATERIALIZED (SELECT query_id, nl, rank FROM (
        |    SELECT q.query_id, c.nl,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(qv, cv) DESC,
        |                 c.neighbor_id ASC) AS rank
        |    FROM q JOIN c ON q.query_id <> c.neighbor_id)
        |  WHERE rank <= 5),
        |v5 AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes
        |       FROM nr GROUP BY 1, 2),
        |p5 AS (SELECT query_id, nl AS r1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v5) WHERE rn = 1),
        |v3 AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes
        |       FROM nr WHERE rank <= 3 GROUP BY 1, 2),
        |p3 AS (SELECT query_id, nl AS r2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v3) WHERE rn = 1),
        |b AS MATERIALIZED (SELECT p5.query_id, r1, r2
        |                   FROM p5 JOIN p3 USING (query_id)),
        |m1 AS (SELECT r1 AS cls, CAST(count(*) AS BIGINT) AS n1 FROM b GROUP BY 1),
        |m2 AS (SELECT r2 AS cls, CAST(count(*) AS BIGINT) AS n2 FROM b GROUP BY 1),
        |cr AS (SELECT CAST(coalesce(sum(n1 * n2), 0) AS BIGINT) AS pe_cross
        |       FROM m1 JOIN m2 USING (cls)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM b)
        |SELECT n, n_agree, pe_cross,
        |  round(CAST(n * n_agree - pe_cross AS DOUBLE)
        |    / nullif(CAST(n * n - pe_cross AS DOUBLE), 0) * 1000000) / 1000000
        |    AS kappa
        |FROM ag, cr""".stripMargin,
    // same rater CTEs as eval_kappa; pooled-distribution correction.
    "eval_krippendorff" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |           label AS ql FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
        |      label AS nl FROM embeddings),
        |nr AS MATERIALIZED (SELECT query_id, nl, rank FROM (
        |    SELECT q.query_id, c.nl,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(qv, cv) DESC,
        |                 c.neighbor_id ASC) AS rank
        |    FROM q JOIN c ON q.query_id <> c.neighbor_id)
        |  WHERE rank <= 5),
        |v5 AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes
        |       FROM nr GROUP BY 1, 2),
        |p5 AS (SELECT query_id, nl AS r1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v5) WHERE rn = 1),
        |v3 AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes
        |       FROM nr WHERE rank <= 3 GROUP BY 1, 2),
        |p3 AS (SELECT query_id, nl AS r2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v3) WHERE rn = 1),
        |b AS MATERIALIZED (SELECT p5.query_id, r1, r2
        |                   FROM p5 JOIN p3 USING (query_id)),
        |pooled AS (SELECT CAST(coalesce(sum(nc * (nc - 1)), 0) AS BIGINT)
        |    AS pe_pairs
        |  FROM (SELECT c, CAST(count(*) AS BIGINT) AS nc FROM (
        |      SELECT r1 AS c FROM b UNION ALL SELECT r2 AS c FROM b)
        |    GROUP BY c)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r1 <> r2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_disagree
        |  FROM b)
        |SELECT n, n_disagree, pe_pairs,
        |  round((1.0 - CAST(n_disagree * 2 * n * (2 * n - 1) AS DOUBLE)
        |    / nullif(CAST(n * (2 * n * (2 * n - 1) - pe_pairs) AS DOUBLE),
        |             0)) * 1000000) / 1000000 AS alpha
        |FROM ag, pooled""".stripMargin,
    "eval_auc" ->
      s"""WITH scored AS (SELECT round(1.0/(1.0 + exp(-z)), 4) AS score,
         |    lang = 'en' AS pos FROM (${clfZSql(", lang")})),
         |g AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp
         |  FROM scored GROUP BY score),
         |r AS (SELECT *, coalesce(sum(c) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before FROM g),
         |a AS (SELECT CAST(sum(cp * (2 * cum_before + c + 1)) AS BIGINT) AS r2,
         |    CAST(sum(cp) AS BIGINT) AS p, CAST(sum(c) AS BIGINT) AS tot
         |  FROM r)
         |SELECT p, tot - p AS n,
         |  round(CAST(r2 - p * (p + 1) AS DOUBLE)
         |    / nullif(2 * p * (tot - p), 0) * 1000000) / 1000000 AS auc
         |FROM a""".stripMargin,
    "eval_calibration" ->
      s"""WITH scored AS (SELECT round(1.0/(1.0 + exp(-z)), 4) AS score,
         |    lang = 'en' AS pos FROM (${clfZSql(", lang")}))
         |SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
         |  round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 10000) * 1000000) / 1000000 AS mean_score,
         |  round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) * 1000000) / 1000000 AS frac_pos
         |FROM scored GROUP BY 1""".stripMargin,
    // ECE on the same per-bin table: the weighted |frac_pos − mean_score|
    // terms fold in bin order (list ORDER BY bin — both engines add the
    // same doubles in the same sequence), one division by N.
    "eval_ece" ->
      s"""WITH scored AS (SELECT round(1.0/(1.0 + exp(-z)), 4) AS score,
         |    lang = 'en' AS pos FROM (${clfZSql(", lang")})),
         |cal AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * 10000) * 1000000) / 1000000 AS mean_score,
         |    round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) * 1000000) / 1000000 AS frac_pos
         |  FROM scored GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |  round(list_aggregate(
         |      list(abs(frac_pos - mean_score) * CAST(n AS DOUBLE)
         |        ORDER BY bin), 'sum')
         |    / CAST(sum(n) AS DOUBLE) * 1000000) / 1000000 AS ece
         |FROM cal""".stripMargin,
    // Murphy decomposition on the same per-bin table: weighted squared
    // terms fold in bin order; the base rate is one exact-count
    // division; REL − RES + UNC composes unrounded, 6dp at the end
    "eval_brier" ->
      s"""WITH scored AS (SELECT round(1.0/(1.0 + exp(-z)), 4) AS score,
         |    lang = 'en' AS pos FROM (${clfZSql(", lang")})),
         |cal AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
         |    round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * 10000) * 1000000) / 1000000 AS mean_score,
         |    round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) * 1000000) / 1000000 AS frac_pos
         |  FROM scored GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(sum(pos_n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS obar
         |  FROM cal),
         |sums AS (SELECT t.n_docs, t.obar,
         |    list_aggregate(list((mean_score - frac_pos)
         |        * (mean_score - frac_pos) * CAST(n AS DOUBLE)
         |      ORDER BY bin), 'sum') / CAST(t.n_docs AS DOUBLE) AS rel,
         |    list_aggregate(list((frac_pos - t.obar) * (frac_pos - t.obar)
         |        * CAST(n AS DOUBLE)
         |      ORDER BY bin), 'sum') / CAST(t.n_docs AS DOUBLE) AS res
         |  FROM cal, t GROUP BY t.n_docs, t.obar)
         |SELECT n_docs,
         |  round(obar * 1000000) / 1000000 AS base_rate,
         |  round(rel * 1000000) / 1000000 AS reliability,
         |  round(res * 1000000) / 1000000 AS resolution,
         |  round(obar * (1.0 - obar) * 1000000) / 1000000 AS uncertainty,
         |  round((rel - res + obar * (1.0 - obar)) * 1000000) / 1000000
         |    AS brier
         |FROM sums""".stripMargin,
    "gov_kanon" ->
      """SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT)
        |    AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  count(*) >= 5 AS anonymous,
        |  round(CAST(1.0 AS DOUBLE) / count(*) * 1000000) / 1000000 AS risk
        |FROM documents GROUP BY 1, 2, 3""".stripMargin,
    "gov_contrib_bound" ->
      """WITH r AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS x,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(x) AS BIGINT) AS raw_cents,
        |  CAST(sum(CASE WHEN rn <= 8 THEN x
        |           ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT)
        |    AS bounded_cents,
        |  CAST(sum(CASE WHEN rn > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN rn = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_capped,
        |  round(CAST(sum(CASE WHEN rn <= 8 THEN x
        |             ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / nullif(CAST(sum(x) AS DOUBLE), 0) * 1000000) / 1000000
        |    AS kept_frac
        |FROM r GROUP BY 1""".stripMargin,
    "gov_ldiv" ->
      """SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT lang) >= 3 AS diverse
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "gov_tclose" ->
      """WITH docs AS (SELECT source,
        |    CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket, lang
        |  FROM documents),
        |tot AS (SELECT count(*) AS nn FROM docs),
        |g AS (SELECT lang, count(*) AS g FROM docs GROUP BY 1),
        |cls AS (SELECT source, size_bucket, count(*) AS n
        |  FROM docs GROUP BY 1, 2),
        |cv AS (SELECT source, size_bucket, lang, count(*) AS c
        |  FROM docs GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.source, cls.size_bucket, cls.n, tot.nn,
        |    abs(coalesce(cv.c, 0) * tot.nn - g.g * cls.n) AS term
        |  FROM cls CROSS JOIN g CROSS JOIN tot
        |    LEFT JOIN cv ON cv.source = cls.source
        |      AND cv.size_bucket = cls.size_bucket AND cv.lang = g.lang),
        |tv AS (SELECT source, size_bucket, CAST(max(n) AS BIGINT) AS n,
        |    round(CAST(sum(term) AS DOUBLE)
        |      / (2.0 * max(n) * max(nn)) * 1000000) / 1000000 AS tv
        |  FROM grid GROUP BY 1, 2)
        |SELECT source, size_bucket, n, tv, tv <= 0.5 AS close
        |FROM tv""".stripMargin,
    "sample_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, n_chars,
        |  round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8))
        |      AS BIGINT) / 4294967296.0)
        |    / CAST(n_chars AS DOUBLE) * 1000000) / 1000000 AS skey
        |FROM documents WHERE n_chars > 0
        |ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin,
    "mix_dsir" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, source, array_to_string(t[i+1:i+2],' ') AS shingle
        |       FROM (SELECT doc_id, source, t,
        |             unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks)),
        |perdoc AS (SELECT doc_id, shingle, count(*) AS c FROM bg GROUP BY 1, 2),
        |general AS (SELECT shingle, CAST(sum(c) AS BIGINT) AS ng FROM perdoc GROUP BY 1),
        |target AS (SELECT shingle, count(*) AS nt FROM bg WHERE source = 'src0' GROUP BY 1),
        |stats AS (SELECT
        |  (SELECT CAST(sum(ng) AS BIGINT) FROM general) AS tg,
        |  (SELECT CAST(count(*) AS BIGINT) FROM general) AS v,
        |  (SELECT CAST(sum(nt) AS BIGINT) FROM target) AS tt)
        |SELECT doc_id,
        |  round(sum(c * (ln(CAST(coalesce(nt, 0) + 1 AS DOUBLE) / (tt + v))
        |               - ln(CAST(ng + 1 AS DOUBLE) / (tg + v)))) / sum(c), 4)
        |    + 0.0 AS log_ratio
        |FROM perdoc JOIN general USING (shingle)
        |  LEFT JOIN target USING (shingle), stats
        |GROUP BY doc_id""".stripMargin,
    // (+ 0.0: DuckDB's round keeps -0.0, Spark's BigDecimal round does
    // not — the ts_holt negative-zero normalization, hit at sf0.1.)
    "emb_semdedup" -> {
      // same centroid/distance/argmin recipe as the _ref form, plus the
      // adaptive sub-bucket: q = ceil-div(n_cell, maxCell), subBits =
      // len(bin(q-1)) capped — integer-exact on both engines — and the
      // SRP bucket from the SAME srpPlanes literals as emb_neardup_lsh.
      val (k, dim, thr, maxCell, maxSubBits) = (8, 64, 0.2, 32, 4)
      val cents = graft.ops.Similarity.semCentroids(k, dim)
      def distSql(ki: Int): String =
        (0 until dim).map { j =>
          val c = cents(ki)(j)
          s"((CAST(embedding[${j + 1}] AS DOUBLE) - ($c)) * " +
            s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($c)))"
        }.mkString("(", " + ", ")")
      val dCols = (0 until k).map(ki => s"${distSql(ki)} AS d_$ki").mkString(",\n  ")
      val leastAll = (0 until k).map(ki => s"d_$ki").mkString("least(", ", ", ")")
      val cellCase = (0 until k).map(ki => s"WHEN d_$ki = dist THEN $ki")
        .mkString("CASE ", " ", "END")
      val planes = graft.ops.Similarity.srpPlanes(maxSubBits, dim)
      def planeLit(b: Int) = planes(b).mkString("[", ",", "]") + "::DOUBLE[]"
      val bucket = (0 until maxSubBits).map(b =>
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeLit(b)}) >= 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT vec_id, embedding,
         |  $dCols
         |  FROM embeddings),
         |m AS (SELECT *, $leastAll AS dist FROM d),
         |a AS (SELECT vec_id, embedding, dist, $cellCase AS cell,
         |        $bucket AS bucket FROM m),
         |cz AS (SELECT cell, count(*) AS n_cell FROM a GROUP BY cell),
         |sb AS (SELECT cell,
         |        CASE WHEN (n_cell + ${maxCell - 1}) // $maxCell <= 1 THEN 0
         |             ELSE least($maxSubBits,
         |               length(bin((n_cell + ${maxCell - 1}) // $maxCell - 1))) END
         |          AS sub_bits FROM cz),
         |s AS (SELECT a.*, a.bucket % ((1::BIGINT) << sb.sub_bits) AS sub
         |      FROM a JOIN sb USING (cell)),
         |drops AS (SELECT DISTINCT
         |    CASE WHEN l.dist < r.dist THEN l.vec_id
         |         WHEN r.dist < l.dist THEN r.vec_id
         |         ELSE greatest(l.vec_id, r.vec_id) END AS vec_id
         |  FROM s l JOIN s r ON l.cell = r.cell AND l.sub = r.sub
         |    AND l.vec_id < r.vec_id
         |  WHERE list_cosine_similarity(l.embedding::DOUBLE[],
         |                               r.embedding::DOUBLE[]) >= $thr)
         |SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
         |  round(a.dist, 4) AS dist, (dr.vec_id IS NULL) AS keep
         |FROM a LEFT JOIN drops dr ON a.vec_id = dr.vec_id""".stripMargin
    },
    "emb_semdedup_incr" -> {
      val (k, dim, thr) = (8, 64, 0.2)
      val cents = graft.ops.Similarity.semCentroids(k, dim)
      def distSql(ki: Int): String =
        (0 until dim).map { j =>
          val c = cents(ki)(j)
          s"((CAST(embedding[${j + 1}] AS DOUBLE) - ($c)) * " +
            s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($c)))"
        }.mkString("(", " + ", ")")
      val dCols = (0 until k).map(ki => s"${distSql(ki)} AS d_$ki").mkString(",\n  ")
      val leastAll = (0 until k).map(ki => s"d_$ki").mkString("least(", ", ", ")")
      val cellCase = (0 until k).map(ki => s"WHEN d_$ki = dist THEN $ki")
        .mkString("CASE ", " ", "END")
      s"""WITH d AS (SELECT vec_id, embedding,
         |  $dCols
         |  FROM embeddings),
         |m AS (SELECT *, $leastAll AS dist FROM d),
         |a AS (SELECT vec_id, embedding, $cellCase AS cell FROM m)
         |SELECT o.vec_id AS old_id, n.vec_id AS new_id,
         |  list_cosine_similarity(o.embedding::DOUBLE[],
         |                         n.embedding::DOUBLE[]) AS sim
         |FROM a o JOIN a n ON o.cell = n.cell
         |WHERE o.vec_id < 250 AND n.vec_id >= 250
         |  AND list_cosine_similarity(o.embedding::DOUBLE[],
         |                             n.embedding::DOUBLE[]) >= $thr""".stripMargin
    },
    "text_redact" -> {
      // identical regexes, interpolated from the same PiiPatterns list;
      // DuckDB needs the 'g' flag (Spark replaces all matches by default).
      val aug = """substr(text,1,40) || ' contact user' || doc_id ||
                  |'@example.com via https://ex.com/d/' || doc_id ||
                  |' or call +1 555-000-' || doc_id || ' now'""".stripMargin
      val clean = TextAnalysis.PiiPatterns.foldLeft(s"($aug)") {
        case (c, (re, tag)) => s"regexp_replace($c, '$re', '$tag', 'g')"
      }
      val hits = TextAnalysis.PiiPatterns.map { case (re, _) =>
        s"len(regexp_extract_all(($aug), '$re'))"
      }.mkString(" + ")
      s"""SELECT doc_id, $clean AS clean, CAST($hits AS BIGINT) AS n_pii
         |FROM documents""".stripMargin
    },
    // largest-remainder apportionment replay — all integer, Σquota = B
    // waterfilling replay: same saturation order (double ratio, source
    // tiebreak), same DECIMAL(38,0) cross-multiplied saturation test,
    // same largest-remainder residual split.
    "mix_epochs" ->
      """WITH avail AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, available,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS weight
        |  FROM avail),
        |s1 AS (SELECT source, available, weight, available * 4 AS cap,
        |    CAST(sum(available) OVER () AS BIGINT) * 3 AS b,
        |    coalesce(CAST(sum(available * 4) OVER (
        |      ORDER BY CAST(available * 4 AS DOUBLE) / CAST(weight AS DOUBLE)
        |        ASC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS cprev,
        |    CAST(sum(weight) OVER () AS BIGINT)
        |      - coalesce(CAST(sum(weight) OVER (
        |          ORDER BY CAST(available * 4 AS DOUBLE)
        |            / CAST(weight AS DOUBLE) ASC, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        AS BIGINT), 0) AS wsuff
        |  FROM w),
        |s2 AS (SELECT *,
        |    CAST(cap AS DECIMAL(38,0)) * CAST(wsuff AS DECIMAL(38,0))
        |      <= CAST(b - cprev AS DECIMAL(38,0))
        |         * CAST(weight AS DECIMAL(38,0)) AS sat
        |  FROM s1),
        |s3 AS (SELECT *,
        |    coalesce(CAST(sum(CASE WHEN sat THEN cap END) OVER ()
        |      AS BIGINT), 0) AS csat,
        |    coalesce(CAST(sum(CASE WHEN NOT sat THEN weight END) OVER ()
        |      AS BIGINT), 0) AS wunsat
        |  FROM s2),
        |s4 AS (SELECT *, b - csat AS residual FROM s3),
        |s5 AS (SELECT *,
        |    CASE WHEN sat THEN cap
        |         ELSE (residual * weight) // wunsat END AS base,
        |    CASE WHEN sat THEN -1
        |         ELSE (residual * weight) % wunsat END AS rem
        |  FROM s4),
        |s6 AS (SELECT *,
        |    residual - CAST(sum(CASE WHEN NOT sat THEN base END) OVER ()
        |      AS BIGINT) AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM s5)
        |SELECT source, available, cap,
        |  CAST(base + (CASE WHEN NOT sat AND rr <= leftover THEN 1
        |               ELSE 0 END) AS BIGINT) AS alloc,
        |  round(CAST(base + (CASE WHEN NOT sat AND rr <= leftover THEN 1
        |                     ELSE 0 END) AS DOUBLE)
        |    / CAST(available AS DOUBLE) * 1000000) / 1000000 AS epochs
        |FROM s6""".stripMargin,
    "mix_token_budget" ->
      """WITH avail AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, available,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS weight
        |  FROM avail),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot_w,
        |    (CAST(sum(available) AS BIGINT) * 6) // 10 AS budget FROM w),
        |b AS (SELECT source, available, weight, tot_w, budget,
        |    (budget * weight) // tot_w AS base,
        |    (budget * weight) % tot_w AS rem
        |  FROM w, t),
        |l AS (SELECT *,
        |    budget - CAST(sum(base) OVER () AS BIGINT) AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM b)
        |SELECT source, available, weight,
        |  CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota,
        |  round(CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
        |      AS DOUBLE) / CAST(available AS DOUBLE) * 1000000) / 1000000
        |    AS epochs
        |FROM l""".stripMargin,
    "mix_weights" -> {
      val rows = MixTargets.toSeq.sortBy(_._1)
        .map { case (s, v) => s"('$s', ${v}::DOUBLE)" }.mkString(", ")
      s"""WITH t(source, share) AS (VALUES $rows),
         |c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         |SELECT c.source, CAST(c.n AS BIGINT) AS n,
         |  coalesce(t.share, 0.0) * (SELECT total FROM tot) / c.n AS weight
         |FROM c LEFT JOIN t USING (source)""".stripMargin
    },
    // the same exponentiated-gradient step: DECIMAL-exact per-source
    // score sums, one double division per mean, 6dp-rounded exp, the
    // normalizer folded in source order
    "mix_doremi" ->
      s"""WITH $lmInterpCtes,
         |dper AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    sum(CAST(lm_score AS DECIMAL(18,4))) AS sum_score
         |  FROM lmscore l JOIN documents d USING (doc_id) GROUP BY 1),
         |dtot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
         |    sum(sum_score) AS sum_all FROM dper),
         |dscored AS (SELECT source, n_docs,
         |    CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE) AS w0,
         |    CAST(sum_all AS DOUBLE) / CAST(n_all AS DOUBLE)
         |      - CAST(sum_score AS DOUBLE) / CAST(n_docs AS DOUBLE) AS excess
         |  FROM dper, dtot),
         |draw AS (SELECT *, w0 * (round(exp(0.5 * excess) * 1000000) / 1000000)
         |    AS raw FROM dscored),
         |dw AS (SELECT list_aggregate(list(raw ORDER BY source), 'sum')
         |    AS wsum FROM draw)
         |SELECT source, n_docs,
         |  round(w0 * 1000000) / 1000000 AS w0,
         |  round(excess * 1000000) / 1000000 AS excess_nats,
         |  round(raw / wsum * 1000000) / 1000000 AS w_doremi
         |FROM draw, dw""".stripMargin,
    "corpus_curriculum" ->
      """SELECT doc_id, n_tokens,
        |  CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS INT) AS stage
        |FROM (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)""".stripMargin,
    "report_source" ->
      """WITH h AS (SELECT doc_id, source, text, md5(text) AS h FROM documents),
        |hc AS (SELECT h, count(*) AS hc FROM h GROUP BY h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(CASE WHEN hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
        |FROM h JOIN hc USING (h)
        |GROUP BY source""".stripMargin,
    "mix_apply" -> {
      val rows = MixTargets.toSeq.sortBy(_._1)
        .map { case (s, v) => s"('$s', ${v}::DOUBLE)" }.mkString(", ")
      s"""WITH t(source, share) AS (VALUES $rows),
         |c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         |w AS (SELECT c.source,
         |    coalesce(t.share, 0.0) * (SELECT total FROM tot) / c.n AS weight
         |  FROM c LEFT JOIN t USING (source)),
         |r AS (SELECT d.doc_id, d.source,
         |    CAST(floor(w.weight) + CASE WHEN
         |        CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |          / 4294967296.0 < w.weight - floor(w.weight)
         |      THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |  FROM documents d JOIN w USING (source))
         |SELECT doc_id, source, n_copies FROM r WHERE n_copies > 0""".stripMargin
    },
    "corpus_order" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |    doc_id) AS BIGINT) AS position
        |FROM documents""".stripMargin,
    // same deterministic order, consecutive-position source transitions
    "corpus_order_mix" ->
      """WITH o AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |      doc_id) AS BIGINT) AS position
        |  FROM documents)
        |SELECT a.source, b.source AS next_source,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM o a JOIN o b ON b.position = a.position + 1
        |GROUP BY 1, 2""".stripMargin,
    "corpus_epoch_order" ->
      """WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
        |k AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
        |      AS shuffle_key
        |  FROM documents, e)
        |SELECT epoch, doc_id, shuffle_key,
        |  CAST(row_number() OVER (PARTITION BY epoch
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS position
        |FROM k""".stripMargin,
    "mix_temperature" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_tokens,
        |  round(pow(CAST(n_tokens AS DOUBLE), 0.3) /
        |    sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) OVER (), 6) AS weight
        |FROM s""".stripMargin,
    // next-fit packing replayed row-for-row: the recursive CTE walks each
    // shard's id-ordered docs carrying (bin_idx, load) — the exact prefix
    // fold CorpusOps.packNextFit performs inside one task per shard.
    "pack_bins_nf" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |step AS (
        |  SELECT shard, rn, id, n, 0 AS bin_idx, n AS load FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.id, d.n,
        |    CASE WHEN s.load + d.n <= 256 THEN s.bin_idx ELSE s.bin_idx + 1 END,
        |    CASE WHEN s.load + d.n <= 256 THEN s.load + d.n ELSE d.n END
        |  FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1)
        |SELECT CAST(shard AS BIGINT) AS bin_key, bin_idx,
        |  string_agg(id, ',' ORDER BY id) AS ids,
        |  CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM step GROUP BY shard, bin_idx""".stripMargin,
    // FIRST-fit replayed row-for-row: the recursive CTE carries the whole
    // open-bin load LIST through the per-shard fold; each doc goes to the
    // first bin it fits (list_position over loads+n<=cap, 1-based; DuckDB
    // returns 0 for not-found) or appends a new bin — exactly
    // CorpusOps.packGreedy's indexWhere/append inside one task per shard.
    "pack_bins" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |step AS (
        |  SELECT shard, rn, id, n, 0 AS bin_idx, [n] AS loads FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.id, d.n,
        |    CAST(coalesce(nullif(list_position(list_transform(s.loads, l -> l + d.n <= 256), true), 0),
        |                  len(s.loads) + 1) - 1 AS INT) AS bin_idx,
        |    CASE WHEN coalesce(list_position(list_transform(s.loads, l -> l + d.n <= 256), true), 0) = 0
        |         THEN list_append(s.loads, d.n)
        |         ELSE s.loads[1:list_position(list_transform(s.loads, l -> l + d.n <= 256), true)-1]
        |              || [s.loads[list_position(list_transform(s.loads, l -> l + d.n <= 256), true)] + d.n]
        |              || s.loads[list_position(list_transform(s.loads, l -> l + d.n <= 256), true)+1:]
        |    END AS loads
        |  FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1)
        |SELECT CAST(shard AS BIGINT) AS bin_key, bin_idx,
        |  string_agg(id, ',' ORDER BY id) AS ids,
        |  CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM step GROUP BY shard, bin_idx""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // Oracle computes the IDENTICAL affine-mod-P minhash family as
    // Dedup.minhash (constants injected from the same Scala arrays), so
    // candidate-pair sets agree on any dataset — not just when no
    // borderline pairs exist. Bucket components '|'-separated on both
    // sides (variable-width decimals would alias otherwise).
    "dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |WHERE l.doc_id < r.doc_id""".stripMargin,
    // the raw symmetric edge set (src, dst) — the graph builder entry.
    "graph_edges" ->
      s"""WITH $spanEdgeCtes
         |SELECT src, dst FROM edges""".stripMargin,
    "graph_pagerank" -> pagerankSql,
    "graph_hits" -> hitsSql,
    // unrolled 3-level BFS: frontier⋈edges per level, LEFT-JOIN-IS-NULL
    // anti against everything reached — every level MATERIALIZED (each
    // is read by the next frontier AND the union).
    "graph_closeness" ->
      s"""WITH $spanEdgeCtes,
         |r1 AS MATERIALIZED (SELECT DISTINCT src AS v, dst AS u FROM edges),
         |f2 AS MATERIALIZED (SELECT DISTINCT r.v, e.dst AS u
         |  FROM r1 r JOIN edges e ON e.src = r.u WHERE e.dst <> r.v),
         |n2c AS MATERIALIZED (SELECT f2.v, f2.u FROM f2
         |  LEFT JOIN r1 ON r1.v = f2.v AND r1.u = f2.u WHERE r1.v IS NULL),
         |f3 AS MATERIALIZED (SELECT DISTINCT n.v, e.dst AS u
         |  FROM n2c n JOIN edges e ON e.src = n.u WHERE e.dst <> n.v),
         |r12 AS MATERIALIZED (SELECT v, u FROM r1
         |  UNION ALL SELECT v, u FROM n2c),
         |n3c AS MATERIALIZED (SELECT f3.v, f3.u FROM f3
         |  LEFT JOIN r12 ON r12.v = f3.v AND r12.u = f3.u
         |  WHERE r12.v IS NULL),
         |allr AS (SELECT v, u, 1 AS d FROM r1
         |  UNION ALL SELECT v, u, 2 AS d FROM n2c
         |  UNION ALL SELECT v, u, 3 AS d FROM n3c)
         |SELECT v AS doc_id,
         |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |  CAST(count(*) AS BIGINT) AS n_reach,
         |  CAST(sum(d) AS BIGINT) AS sum_dist,
         |  round(CAST(count(*) AS DOUBLE) / sum(d) * 1000000) / 1000000
         |    AS closeness
         |FROM allr GROUP BY v""".stripMargin,
    "graph_lpa" -> lpaSql,
    "graph_modularity" -> modularitySql,
    "graph_kcore" -> kcoreSql,
    "dedup_effective_size" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |occ AS (SELECT doc_id, i AS p, array_to_string(t[i+1:i+15],' ') AS shingle
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |dup AS (SELECT shingle FROM occ GROUP BY shingle
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, CAST(count(DISTINCT tokpos) AS BIGINT) AS nd
        |        FROM (SELECT doc_id, unnest(range(p, p+15)) AS tokpos
        |              FROM occ JOIN dup USING (shingle))
        |        GROUP BY doc_id),
        |per AS (SELECT d.source,
        |    CAST(len(string_split(d.text,' ')) AS BIGINT) AS nt,
        |    coalesce(cov.nd, 0) AS nd
        |  FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id)
        |SELECT source, CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(nd) AS BIGINT) AS dup_tokens,
        |  round((1.0 - CAST(sum(nd) AS DOUBLE) / CAST(sum(nt) AS DOUBLE))
        |    * 1000000) / 1000000 AS effective_frac
        |FROM per GROUP BY 1""".stripMargin,
    "text_heaps" ->
      """WITH f AS (SELECT tok, min(doc_id) AS fd FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS vocab_total,
        |  CAST(sum(CASE WHEN fd < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_100,
        |  CAST(sum(CASE WHEN fd < 200 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_200,
        |  CAST(sum(CASE WHEN fd < 500 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_500,
        |  CAST(sum(CASE WHEN fd < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_1000,
        |  CAST(sum(CASE WHEN fd < 5000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_5000
        |FROM f""".stripMargin,
    "graph_assortativity" ->
      s"""WITH $spanEdgeCtes,
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
         |        FROM edges GROUP BY 1),
         |j AS (SELECT dx.d AS dx, dy.d AS dy FROM edges e
         |  JOIN deg dx ON dx.src = e.src
         |  JOIN deg dy ON dy.src = e.dst),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
         |    CAST(sum(dx * dy) AS HUGEINT) AS sxy,
         |    CAST(sum(dx * dx) AS HUGEINT) AS sxx,
         |    CAST(sum(dy * dy) AS HUGEINT) AS syy
         |  FROM j),
         |v AS (SELECT *,
         |    CAST(CAST(m AS HUGEINT) * sxx - sx * sx AS DOUBLE)
         |      * CAST(CAST(m AS HUGEINT) * syy - sy * sy AS DOUBLE) AS den2
         |  FROM m)
         |SELECT m,
         |  CASE WHEN den2 > 0 THEN
         |    round(CAST(CAST(m AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |        / sqrt(den2) * 1000000) / 1000000
         |  END AS assortativity
         |FROM v""".stripMargin,

    "graph_jaccard" ->
      s"""WITH $spanEdgeCtes,
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
         |        FROM edges GROUP BY 1),
         |com AS (SELECT e1.dst AS a, e2.dst AS b,
         |    CAST(count(*) AS BIGINT) AS common
         |  FROM edges e1 JOIN edges e2
         |    ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2 HAVING count(*) >= 1)
         |SELECT com.a, com.b, com.common,
         |  round(CAST(common AS DOUBLE)
         |    / CAST(da.d + db.d - common AS DOUBLE) * 1000000) / 1000000
         |    AS jaccard
         |FROM com JOIN deg da ON da.src = com.a
         |  JOIN deg db ON db.src = com.b""".stripMargin,
    "dedup_source_matrix" ->
      s"""WITH $spanEdgeCtes,
         |lab AS (SELECT p.a, p.b, da.source AS sa, db.source AS sb
         |  FROM pairs p
         |    JOIN documents da ON da.doc_id = p.a
         |    JOIN documents db ON db.doc_id = p.b)
         |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_dup_pairs
         |FROM lab GROUP BY 1, 2""".stripMargin,
    "graph_triangles" -> trianglesSql,

    // per-node triangle credit over the same degree-oriented
    // enumeration as trianglesSql; C_v quantized to the 1e-8 grid
    // (round-then-cast) so the node average is an exact integer sum
    "graph_clustering" ->
      s"""WITH $spanEdgeCtes,
         |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs)
         |  GROUP BY v),
         |o AS (SELECT CASE WHEN da < db OR (da = db AND a < b)
         |               THEN a ELSE b END AS u,
         |             CASE WHEN da < db OR (da = db AND a < b)
         |               THEN b ELSE a END AS v
         |  FROM (SELECT p.a, p.b, d1.deg AS da, d2.deg AS db
         |        FROM pairs p JOIN dg d1 ON p.a = d1.v
         |        JOIN dg d2 ON p.b = d2.v)),
         |tri AS (SELECT e1.u AS x, e2.u AS y, e2.v AS z
         |  FROM o e1 JOIN o e2 ON e1.v = e2.u
         |  JOIN o e3 ON e1.u = e3.u AND e2.v = e3.v),
         |tn AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |       UNION ALL SELECT z FROM tri),
         |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM tn GROUP BY 1),
         |nc AS (SELECT dg.deg, coalesce(tc.t, 0) AS t
         |       FROM dg LEFT JOIN tc USING (v)),
         |qq AS (SELECT deg, t,
         |    CAST(round(CASE WHEN deg >= 2 THEN
         |        2.0 * CAST(t AS DOUBLE)
         |          / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0))
         |      ELSE 0.0 END * 100000000.0) AS BIGINT) AS q
         |  FROM nc),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(t) AS BIGINT) AS t3,
         |    sum(CAST(deg AS HUGEINT) * (CAST(deg AS HUGEINT) - 1)) AS w2,
         |    sum(CAST(q AS HUGEINT)) AS sq
         |  FROM qq)
         |SELECT n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
         |  CAST(t3 // 3 AS BIGINT) AS n_triangles,
         |  round(CASE WHEN w2 > 0 THEN
         |      2.0 * CAST(t3 AS DOUBLE) / CAST(w2 AS DOUBLE) END
         |    * 1000000) / 1000000 AS transitivity,
         |  round(CAST(sq AS DOUBLE) / 100000000.0
         |    / CAST(n_nodes AS DOUBLE) * 1000000) / 1000000
         |    AS avg_clustering
         |FROM m""".stripMargin,

    "graph_degree_hist" ->
      s"""WITH $spanEdgeCtes,
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src)
         |SELECT CAST(length(bin(deg)) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(deg) AS BIGINT) AS sum_deg,
         |  CAST(min(deg) AS BIGINT) AS min_deg,
         |  CAST(max(deg) AS BIGINT) AS max_deg
         |FROM deg GROUP BY 1""".stripMargin,

    // the deterministic partner schedule replayed, clips via the
    // grouped-join technique keyed by (doc_id, ref_id), per-pair 4dp
    // BLEU-2 summed as DECIMAL — order-free — one division per doc
    "eval_self_bleu" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |pr AS (SELECT d.doc_id, d.text, j,
        |    (d.doc_id + j * 2654435761) % n AS ref_id
        |  FROM documents d, nn, (SELECT unnest([1, 2, 3, 4]) AS j) js),
        |pp AS (SELECT p.doc_id, p.ref_id,
        |    string_split(p.text, ' ') AS ct, string_split(r.text, ' ') AS rt
        |  FROM pr p JOIN documents r ON r.doc_id = p.ref_id
        |  WHERE p.ref_id <> p.doc_id),
        |lens AS (SELECT doc_id, ref_id, CAST(len(ct) AS BIGINT) AS c1,
        |    CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS c2 FROM pp),
        |cu1 AS (SELECT doc_id, ref_id, unnest(ct) AS g FROM pp),
        |ru1 AS (SELECT doc_id, ref_id, unnest(rt) AS g FROM pp),
        |cu2 AS (SELECT doc_id, ref_id,
        |    unnest(list_transform(range(1, len(ct)),
        |      i -> ct[i] || ' ' || ct[i+1])) AS g FROM pp),
        |ru2 AS (SELECT doc_id, ref_id,
        |    unnest(list_transform(range(1, len(rt)),
        |      i -> rt[i] || ' ' || rt[i+1])) AS g FROM pp),
        |cl1 AS (SELECT doc_id, ref_id,
        |    CAST(sum(least(cc.n, rc.n)) AS BIGINT) AS clip1
        |  FROM (SELECT doc_id, ref_id, g, count(*) AS n FROM cu1 GROUP BY 1,2,3) cc
        |  JOIN (SELECT doc_id, ref_id, g, count(*) AS n FROM ru1 GROUP BY 1,2,3) rc
        |  USING (doc_id, ref_id, g) GROUP BY doc_id, ref_id),
        |cl2 AS (SELECT doc_id, ref_id,
        |    CAST(sum(least(cc.n, rc.n)) AS BIGINT) AS clip2
        |  FROM (SELECT doc_id, ref_id, g, count(*) AS n FROM cu2 GROUP BY 1,2,3) cc
        |  JOIN (SELECT doc_id, ref_id, g, count(*) AS n FROM ru2 GROUP BY 1,2,3) rc
        |  USING (doc_id, ref_id, g) GROUP BY doc_id, ref_id),
        |ov AS (SELECT lens.doc_id, lens.ref_id, c1, c2,
        |    coalesce(cl1.clip1, 0) AS clip1, coalesce(cl2.clip2, 0) AS clip2
        |  FROM lens LEFT JOIN cl1 USING (doc_id, ref_id)
        |    LEFT JOIN cl2 USING (doc_id, ref_id)),
        |scored AS (SELECT doc_id,
        |    CASE WHEN c1 > 0 AND c2 > 0 THEN
        |      round(sqrt((CAST(clip1 AS DOUBLE) / CAST(c1 AS DOUBLE))
        |               * (CAST(clip2 AS DOUBLE) / CAST(c2 AS DOUBLE)))
        |        * 10000) / 10000 END AS b
        |  FROM ov)
        |SELECT doc_id, CAST(count(b) AS BIGINT) AS k_refs,
        |  round(CAST(sum(CAST(b AS DECIMAL(9,4))) AS DOUBLE)
        |    / CAST(count(b) AS DOUBLE) * 1000000) / 1000000 AS self_bleu2
        |FROM scored GROUP BY 1""".stripMargin,

    "eval_bleu" ->
      s"""WITH $genPairCtes
         |SELECT doc_id, c1, r1,
         |  round(CAST(clip1 AS DOUBLE) / c1 * 10000) / 10000 AS p1,
         |  CASE WHEN c2 > 0 THEN
         |    round(CAST(clip2 AS DOUBLE) / c2 * 10000) / 10000 END AS p2,
         |  CASE WHEN c2 > 0 THEN
         |    round(sqrt((CAST(clip1 AS DOUBLE) / c1)
         |             * (CAST(clip2 AS DOUBLE) / c2)) * 10000) / 10000
         |    END AS bleu2,
         |  round(CAST(c1 AS DOUBLE) / r1 * 10000) / 10000 AS len_ratio
         |FROM ov""".stripMargin,

    "eval_bleu_corpus" ->
      s"""WITH $genPairCtes,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(c1) AS BIGINT) AS sc1, CAST(sum(r1) AS BIGINT) AS sr1,
         |    CAST(sum(c2) AS BIGINT) AS sc2,
         |    CAST(sum(clip1) AS BIGINT) AS sclip1,
         |    CAST(sum(clip2) AS BIGINT) AS sclip2
         |  FROM ov)
         |SELECT n_pairs,
         |  round(CAST(sclip1 AS DOUBLE) / sc1 * 10000) / 10000 AS p1,
         |  CASE WHEN sc2 > 0 THEN
         |    round(CAST(sclip2 AS DOUBLE) / sc2 * 10000) / 10000 END AS p2,
         |  CASE WHEN sc2 > 0 THEN
         |    round(sqrt((CAST(sclip1 AS DOUBLE) / sc1)
         |             * (CAST(sclip2 AS DOUBLE) / sc2)) * 10000) / 10000
         |    END AS bleu2,
         |  round(CAST(sc1 AS DOUBLE) / sr1 * 10000) / 10000 AS len_ratio
         |FROM m""".stripMargin,

    // The LCS DP re-expressed as an ANTI-DIAGONAL recursion so it fits a
    // recursive CTE: dp cells on diagonal d (= i + j) depend only on
    // diagonals d−1 and d−2 — no intra-row left-neighbor dependency, so
    // each step is one list_transform over the diagonal's row range. A
    // cell (i, j = d−i) reads dp[i−1][j] and dp[i][j−1] from the prev
    // diagonal and dp[i−1][j−1] from prev2; positions convert through
    // each diagonal's own row offset lo = greatest(1, d − lb). Bounds
    // checks are explicit CASEs (DuckDB's negative list index means
    // from-the-END — a bare coalesce would silently read the wrong
    // cell).
    "eval_rouge_l" ->
      """WITH RECURSIVE
        |a AS (SELECT doc_id, text AS cand FROM documents),
        |b AS (SELECT doc_id - 1 AS doc_id, text AS rtext FROM documents),
        |p AS (SELECT a.doc_id, string_split(a.cand, ' ') AS ct,
        |        string_split(b.rtext, ' ') AS rt
        |      FROM a JOIN b USING (doc_id)),
        |lens AS (SELECT doc_id, ct, rt, CAST(len(ct) AS BIGINT) AS la,
        |    CAST(len(rt) AS BIGINT) AS lb FROM p),
        |rec AS (
        |  SELECT doc_id, ct, rt, la, lb, CAST(1 AS BIGINT) AS d,
        |    CAST([] AS BIGINT[]) AS prev2, CAST([] AS BIGINT[]) AS prev
        |  FROM lens
        |  UNION ALL
        |  SELECT doc_id, ct, rt, la, lb, d + 1, prev,
        |    list_transform(range(greatest(1, d + 1 - lb), least(la, d) + 1),
        |      i -> CASE WHEN ct[i] = rt[d + 1 - i]
        |        THEN (CASE WHEN i - 1 BETWEEN greatest(1, d - 1 - lb)
        |                                  AND least(la, d - 2)
        |              THEN prev2[i - 1 - greatest(1, d - 1 - lb) + 1]
        |              ELSE 0 END) + 1
        |        ELSE greatest(
        |          CASE WHEN i - 1 BETWEEN greatest(1, d - lb)
        |                              AND least(la, d - 1)
        |               THEN prev[i - 1 - greatest(1, d - lb) + 1]
        |               ELSE 0 END,
        |          CASE WHEN i BETWEEN greatest(1, d - lb)
        |                          AND least(la, d - 1)
        |               THEN prev[i - greatest(1, d - lb) + 1]
        |               ELSE 0 END)
        |      END)
        |  FROM rec WHERE d < la + lb
        |),
        |res AS (SELECT doc_id, la, lb, CAST(prev[1] AS BIGINT) AS lcs
        |        FROM rec WHERE d = la + lb)
        |SELECT doc_id, la AS c_len, lb AS r_len, lcs,
        |  round(CAST(lcs AS DOUBLE) / CAST(la AS DOUBLE) * 10000) / 10000
        |    AS rouge_p,
        |  round(CAST(lcs AS DOUBLE) / CAST(lb AS DOUBLE) * 10000) / 10000
        |    AS rouge_r,
        |  round(2.0 * CAST(lcs AS DOUBLE) / CAST(la + lb AS DOUBLE) * 10000)
        |    / 10000 AS rouge_f
        |FROM res""".stripMargin,

    "eval_rouge_l_corpus" ->
      """WITH RECURSIVE
        |a AS (SELECT doc_id, text AS cand FROM documents),
        |b AS (SELECT doc_id - 1 AS doc_id, text AS rtext FROM documents),
        |p AS (SELECT a.doc_id, string_split(a.cand, ' ') AS ct,
        |        string_split(b.rtext, ' ') AS rt
        |      FROM a JOIN b USING (doc_id)),
        |lens AS (SELECT doc_id, ct, rt, CAST(len(ct) AS BIGINT) AS la,
        |    CAST(len(rt) AS BIGINT) AS lb FROM p),
        |rec AS (
        |  SELECT doc_id, ct, rt, la, lb, CAST(1 AS BIGINT) AS d,
        |    CAST([] AS BIGINT[]) AS prev2, CAST([] AS BIGINT[]) AS prev
        |  FROM lens
        |  UNION ALL
        |  SELECT doc_id, ct, rt, la, lb, d + 1, prev,
        |    list_transform(range(greatest(1, d + 1 - lb), least(la, d) + 1),
        |      i -> CASE WHEN ct[i] = rt[d + 1 - i]
        |        THEN (CASE WHEN i - 1 BETWEEN greatest(1, d - 1 - lb)
        |                                  AND least(la, d - 2)
        |              THEN prev2[i - 1 - greatest(1, d - 1 - lb) + 1]
        |              ELSE 0 END) + 1
        |        ELSE greatest(
        |          CASE WHEN i - 1 BETWEEN greatest(1, d - lb)
        |                              AND least(la, d - 1)
        |               THEN prev[i - 1 - greatest(1, d - lb) + 1]
        |               ELSE 0 END,
        |          CASE WHEN i BETWEEN greatest(1, d - lb)
        |                          AND least(la, d - 1)
        |               THEN prev[i - greatest(1, d - lb) + 1]
        |               ELSE 0 END)
        |      END)
        |  FROM rec WHERE d < la + lb
        |),
        |res AS (SELECT doc_id, la, lb, CAST(prev[1] AS BIGINT) AS lcs
        |        FROM rec WHERE d = la + lb),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(la) AS BIGINT) AS sc, CAST(sum(lb) AS BIGINT) AS sr,
        |    CAST(sum(lcs) AS BIGINT) AS slcs
        |  FROM res)
        |SELECT n_pairs,
        |  round(CAST(slcs AS DOUBLE) / CAST(sc AS DOUBLE) * 10000) / 10000
        |    AS rouge_p,
        |  round(CAST(slcs AS DOUBLE) / CAST(sr AS DOUBLE) * 10000) / 10000
        |    AS rouge_r,
        |  round(2.0 * CAST(slcs AS DOUBLE) / CAST(sc + sr AS DOUBLE) * 10000)
        |    / 10000 AS rouge_f
        |FROM m""".stripMargin,

    // Shared anti-diagonal recursion lives on werRecCtes (scaladoc
    // there) — both WER twins compose it, per-doc vs corpus tail.
    "eval_wer" ->
      s"""WITH RECURSIVE
        |$werRecCtes
        |SELECT doc_id, la AS c_len, lb AS r_len, edit,
        |  round(CAST(edit AS DOUBLE) / CAST(lb AS DOUBLE) * 10000) / 10000
        |    AS wer,
        |  round((1.0 - CAST(edit AS DOUBLE) / CAST(greatest(la, lb) AS DOUBLE))
        |    * 10000) / 10000 AS edit_sim
        |FROM res""".stripMargin,

    "eval_wer_corpus" ->
      s"""WITH RECURSIVE
        |$werRecCtes,
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(lb) AS BIGINT) AS s_ref,
        |    CAST(sum(edit) AS BIGINT) AS s_edit,
        |    CAST(sum(greatest(la, lb)) AS BIGINT) AS s_max
        |  FROM res)
        |SELECT n_pairs, s_ref, s_edit,
        |  round(CAST(s_edit AS DOUBLE) / CAST(s_ref AS DOUBLE) * 10000)
        |    / 10000 AS wer,
        |  round((1.0 - CAST(s_edit AS DOUBLE) / CAST(s_max AS DOUBLE))
        |    * 10000) / 10000 AS edit_sim
        |FROM m""".stripMargin,

    "eval_chrf" ->
      """WITH a AS (SELECT doc_id, replace(text, ' ', '') AS cs
        |           FROM documents),
        |b AS (SELECT doc_id - 1 AS doc_id, replace(text, ' ', '') AS rs
        |      FROM documents),
        |p AS (SELECT a.doc_id, cs, rs FROM a JOIN b USING (doc_id)),
        |lens AS (SELECT doc_id,
        |    CAST(greatest(length(cs) - 1, 0) AS BIGINT) AS c2,
        |    CAST(greatest(length(rs) - 1, 0) AS BIGINT) AS r2 FROM p),
        |cg AS (SELECT doc_id, unnest(list_transform(range(1, length(cs)),
        |          i -> cs[i:i+1])) AS g FROM p),
        |rg AS (SELECT doc_id, unnest(list_transform(range(1, length(rs)),
        |          i -> rs[i:i+1])) AS g FROM p),
        |cl AS (SELECT doc_id, CAST(sum(least(cc.n, rc.n)) AS BIGINT) AS clip2
        |  FROM (SELECT doc_id, g, count(*) AS n FROM cg GROUP BY 1, 2) cc
        |  JOIN (SELECT doc_id, g, count(*) AS n FROM rg GROUP BY 1, 2) rc
        |  USING (doc_id, g) GROUP BY doc_id),
        |ov AS (SELECT lens.doc_id, c2, r2, coalesce(cl.clip2, 0) AS clip2
        |  FROM lens LEFT JOIN cl USING (doc_id))
        |SELECT doc_id, clip2,
        |  CASE WHEN c2 > 0 THEN
        |    round(CAST(clip2 AS DOUBLE) / c2 * 10000) / 10000 END AS prec2,
        |  CASE WHEN r2 > 0 THEN
        |    round(CAST(clip2 AS DOUBLE) / r2 * 10000) / 10000 END AS rec2,
        |  CASE WHEN 4 * r2 + c2 > 0 THEN
        |    round(5.0 * clip2 / (4 * r2 + c2) * 10000) / 10000
        |    END AS chrf2
        |FROM ov""".stripMargin,

    "eval_rouge2" ->
      s"""WITH $genPairCtes
         |SELECT doc_id, clip2,
         |  CASE WHEN c2 > 0 THEN
         |    round(CAST(clip2 AS DOUBLE) / c2 * 10000) / 10000 END AS prec2,
         |  CASE WHEN r2 > 0 THEN
         |    round(CAST(clip2 AS DOUBLE) / r2 * 10000) / 10000 END AS rec2,
         |  CASE WHEN c2 + r2 > 0 THEN
         |    round(2.0 * clip2 / (c2 + r2) * 10000) / 10000 END AS f1
         |FROM ov""".stripMargin,
    "eval_token_f1" ->
      s"""WITH $genPairCtes
         |SELECT doc_id, clip1,
         |  CASE WHEN c1 > 0 THEN
         |    round(CAST(clip1 AS DOUBLE) / c1 * 10000) / 10000 END AS prec1,
         |  CASE WHEN r1 > 0 THEN
         |    round(CAST(clip1 AS DOUBLE) / r1 * 10000) / 10000 END AS rec1,
         |  CASE WHEN c1 + r1 > 0 THEN
         |    round(2.0 * clip1 / (c1 + r1) * 10000) / 10000 END AS f1
         |FROM ov""".stripMargin,

    "eval_pass_at_k" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM documents GROUP BY source)
        |SELECT source, n, c,
        |  round(CAST(c AS DOUBLE) / n * 10000) / 10000 AS pass_at_1,
        |  round(CASE WHEN n - c < 5 THEN 1.0 ELSE
        |    1.0 - (CAST(n - c AS DOUBLE) / n)
        |      * (CAST(n - c - 1 AS DOUBLE) / (n - 1))
        |      * (CAST(n - c - 2 AS DOUBLE) / (n - 2))
        |      * (CAST(n - c - 3 AS DOUBLE) / (n - 3))
        |      * (CAST(n - c - 4 AS DOUBLE) / (n - 4)) END
        |    * 10000) / 10000 AS pass_at_5
        |FROM g ORDER BY source""".stripMargin,

    "corpus_diversity" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS HUGEINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_langs,
        |    CAST(sum(c * c) AS HUGEINT) AS sq
        |  FROM c GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  round(CAST(CAST(n_docs AS HUGEINT) * n_docs - sq AS DOUBLE)
        |    / CAST(CAST(n_docs AS HUGEINT) * n_docs AS DOUBLE)
        |    * 10000) / 10000 AS simpson
        |FROM g""".stripMargin,

    // NULL heads never pair: Spark groups null blocks but the null
    // Levenshtein filters out; the SQL equi-join drops them earlier.
    "dedup_edit" ->
      """WITH k AS (SELECT doc_id AS id, substr(text, 1, 120) AS head,
        |    substr(text, 1, 20) AS block FROM documents),
        |ok AS (SELECT block FROM k GROUP BY block
        |       HAVING count(*) BETWEEN 2 AND 64)
        |SELECT l.id AS a, r.id AS b,
        |  CAST(levenshtein(l.head, r.head) AS INT) AS dist
        |FROM k l JOIN k r ON l.block = r.block AND l.id < r.id
        |JOIN ok ON l.block = ok.block
        |WHERE levenshtein(l.head, r.head) <= 10""".stripMargin,
    "dedup_lsh_verified" ->
      s"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cnt FROM cand c
         |  JOIN sh s1 ON s1.doc_id = c.a
         |  JOIN sh s2 ON s2.doc_id = c.b AND s1.shingle = s2.shingle
         |  GROUP BY c.a, c.b)
         |SELECT m.a, m.b, CAST(m.cnt AS DOUBLE)/(sa.n + sb.n - m.cnt) AS jaccard
         |FROM common m JOIN sizes sa ON sa.doc_id = m.a JOIN sizes sb ON sb.doc_id = m.b
         |WHERE CAST(m.cnt AS DOUBLE)/(sa.n + sb.n - m.cnt) >= 0.5""".stripMargin,

    // the anti-diagonal LCS recursion (the eval_rouge_l oracle's DP),
    // keyed by candidate pair instead of generation pair
    "dedup_lcs_verified" ->
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |pt AS (SELECT cand.a, cand.b, ta.t AS ct, tb.t AS rt,
         |    CAST(len(ta.t) AS BIGINT) AS la, CAST(len(tb.t) AS BIGINT) AS lb
         |  FROM cand JOIN toks ta ON ta.doc_id = cand.a
         |            JOIN toks tb ON tb.doc_id = cand.b),
         |rec AS (
         |  SELECT a, b, ct, rt, la, lb, CAST(1 AS BIGINT) AS d,
         |    CAST([] AS BIGINT[]) AS prev2, CAST([] AS BIGINT[]) AS prev
         |  FROM pt
         |  UNION ALL
         |  SELECT a, b, ct, rt, la, lb, d + 1, prev,
         |    list_transform(range(greatest(1, d + 1 - lb), least(la, d) + 1),
         |      i -> CASE WHEN ct[i] = rt[d + 1 - i]
         |        THEN (CASE WHEN i - 1 BETWEEN greatest(1, d - 1 - lb)
         |                                  AND least(la, d - 2)
         |              THEN prev2[i - 1 - greatest(1, d - 1 - lb) + 1]
         |              ELSE 0 END) + 1
         |        ELSE greatest(
         |          CASE WHEN i - 1 BETWEEN greatest(1, d - lb)
         |                              AND least(la, d - 1)
         |               THEN prev[i - 1 - greatest(1, d - lb) + 1]
         |               ELSE 0 END,
         |          CASE WHEN i BETWEEN greatest(1, d - lb)
         |                          AND least(la, d - 1)
         |               THEN prev[i - greatest(1, d - lb) + 1]
         |               ELSE 0 END)
         |      END)
         |  FROM rec WHERE d < la + lb
         |),
         |res AS (SELECT a, b, la, lb, CAST(prev[1] AS BIGINT) AS lcs
         |        FROM rec WHERE d = la + lb)
         |SELECT a, b, lcs,
         |  round(2.0 * CAST(lcs AS DOUBLE) / CAST(la + lb AS DOUBLE) * 10000)
         |    / 10000 AS lcs_sim
         |FROM res
         |WHERE 2.0 * CAST(lcs AS DOUBLE) / CAST(la + lb AS DOUBLE) >= 0.5""".stripMargin,
    // same candidate/verify chain at the 0.1 floor, every bar read off
    // the one pair table; n_pairs halves the doubled id explode.
    "dedup_threshold_sweep" ->
      s"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cnt FROM cand c
         |  JOIN sh s1 ON s1.doc_id = c.a
         |  JOIN sh s2 ON s2.doc_id = c.b AND s1.shingle = s2.shingle
         |  GROUP BY c.a, c.b),
         |pairs AS (SELECT m.a, m.b,
         |    CAST(m.cnt AS DOUBLE)/(sa.n + sb.n - m.cnt) AS jaccard
         |  FROM common m JOIN sizes sa ON sa.doc_id = m.a
         |  JOIN sizes sb ON sb.doc_id = m.b
         |  WHERE CAST(m.cnt AS DOUBLE)/(sa.n + sb.n - m.cnt) >= 0.1),
         |fan AS (SELECT t, d FROM pairs,
         |    (SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]::DOUBLE[]) AS t),
         |    LATERAL unnest([a, b]) AS u(d)
         |  WHERE jaccard >= t)
         |SELECT t, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
         |FROM fan GROUP BY t""".stripMargin,
    "dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id, w, count(*) AS cnt,
        |    CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY doc_id, w),
        |bits AS (
        |  SELECT doc_id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v
        |  FROM words, (SELECT unnest(range(32)) AS bit) b
        |  GROUP BY doc_id, b.bit)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      """WITH words AS (
        |  SELECT doc_id, w, count(*) AS cnt,
        |    CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY doc_id, w),
        |bits AS (
        |  SELECT doc_id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v
        |  FROM words, (SELECT unnest(range(32)) AS bit) b
        |  GROUP BY doc_id, b.bit),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, b.band, (simhash >> CAST(b.band*8 AS INT)) & 255 AS chunk
        |  FROM sh, (SELECT unnest(range(4)) AS band) b)
        |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
        |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
        |FROM bands l JOIN bands r ON l.band = r.band AND l.chunk = r.chunk
        |WHERE l.doc_id < r.doc_id
        |  AND bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin,
    // bigram universe per doc: count(*) vs count(DISTINCT) — exact
    // integers, one guarded division, same 1e6 rounding as the engine.
    "text_compress_proxy" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, array_to_string(t[i+1:i+2],' ') AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t)-1,0))) AS i FROM toks)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |        CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
        |  FROM bg GROUP BY doc_id)
        |SELECT toks.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(n_distinct, 0) AS n_distinct,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0 THEN
        |    round(CAST(n_distinct AS DOUBLE) / n_bigrams * 1000000) / 1000000
        |  END AS ratio
        |FROM toks LEFT JOIN agg USING (doc_id)""".stripMargin,
    "dedup_contain" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3],' ') AS shingle
        |       FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
        |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
        |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(c AS DOUBLE)/sa.n AS c_a, CAST(c AS DOUBLE)/sb.n AS c_b
        |FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE greatest(CAST(c AS DOUBLE)/sa.n, CAST(c AS DOUBLE)/sb.n) >= 0.8""".stripMargin,
    // candidates from the banded buckets; est = matching seeds / 12;
    // exact jaccard over the same distinct 3-gram universe.
    "dedup_minhash_calib" ->
      s"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |m AS (SELECT c.a, c.b,
         |    sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS nmatch
         |  FROM cand c JOIN mh ma ON ma.doc_id = c.a
         |    JOIN mh mb ON mb.doc_id = c.b AND mb.seed = ma.seed
         |  GROUP BY c.a, c.b),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |cm AS (SELECT c.a, c.b, count(*) AS ncommon
         |  FROM cand c JOIN sh l ON l.doc_id = c.a
         |    JOIN sh r ON r.doc_id = c.b AND r.shingle = l.shingle
         |  GROUP BY c.a, c.b)
         |SELECT m.a, m.b, CAST(nmatch AS DOUBLE) / 12 AS est,
         |  CAST(coalesce(cm.ncommon, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(cm.ncommon, 0)) AS jaccard
         |FROM m LEFT JOIN cm ON cm.a = m.a AND cm.b = m.b
         |  JOIN sz sa ON sa.doc_id = m.a JOIN sz sb ON sb.doc_id = m.b""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $minhashCtes
         |SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |FROM banded n JOIN banded o
         |  ON n.band = o.band AND n.bucket = o.bucket
         |WHERE n.doc_id >= 250 AND o.doc_id < 250""".stripMargin,
    // The bloom prefilter is exact end-to-end (no false negatives; the
    // verify join removes false positives), so the oracle is the PLAIN
    // cross-split span join — no bloom modeling needed.
    "dedup_bloom_incr" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, array_to_string(t[i+1:i+15],' ') AS shingle
        |       FROM (SELECT doc_id, t,
        |             unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks))
        |SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        |FROM sh n JOIN sh o USING (shingle)
        |WHERE n.doc_id >= 250 AND o.doc_id < 250""".stripMargin,
    // Transitive closure via recursive CTE — DuckDB walks the same
    // cluster-size census: the same transitive closure, then two aggs.
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
         |       FROM cl GROUP BY cluster_id)
         |SELECT n AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(n) AS BIGINT) AS n_docs
         |FROM sz GROUP BY n""".stripMargin,
    // candidate-edge graph the Spark label propagation converges on.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    // soft dedup = the same transitive closure + per-cluster counts;
    // weight is the one float (identical 1/n division both engines).
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_dups
         |       FROM cl GROUP BY 1)
         |SELECT doc_id, cl.cluster_id, n_dups,
         |  round(1.0 / CAST(n_dups AS DOUBLE) * 1000000) / 1000000 AS weight
         |FROM cl JOIN sz USING (cluster_id)""".stripMargin,
    // Same transitive closure; the purge set is every cluster touching a
    // seed id (doc_id % 97 = 0).
    "purge_closure" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |purge_roots AS (SELECT DISTINCT cluster_id FROM cl WHERE doc_id % 97 = 0)
         |SELECT c.doc_id, c.cluster_id FROM cl c JOIN purge_roots USING (cluster_id)""".stripMargin,
    // Star edges per (band, bucket): min member -> every other member,
    // deduped. Mirrors Dedup.bandedStarEdges exactly.
    "dedup_star_cc" ->
      s"""WITH $minhashCtes,
         |g AS (SELECT band, bucket, min(doc_id) AS a
         |      FROM banded GROUP BY band, bucket
         |      HAVING count(DISTINCT doc_id) >= 2)
         |SELECT DISTINCT g.a, m.doc_id AS b
         |FROM g JOIN banded m
         |  ON m.band = g.band AND m.bucket = g.bucket AND m.doc_id > g.a""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |scored AS (SELECT d.doc_id, cl.cluster_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY len(string_split(d.text, ' ')) DESC, d.doc_id ASC) AS rn
         |  FROM documents d JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, n_tokens
         |FROM scored WHERE rn = 1""".stripMargin,
    "contamination" ->
      s"""WITH $minhashCtes,
         |u AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |    / 4294967296.0 AS u FROM documents)
         |SELECT DISTINCT t.doc_id AS test_id, tr.doc_id AS train_id
         |FROM banded t
         |JOIN u ut ON ut.doc_id = t.doc_id
         |JOIN banded tr ON t.band = tr.band AND t.bucket = tr.bucket
         |JOIN u utr ON utr.doc_id = tr.doc_id
         |WHERE ut.u >= 0.9 AND utr.u < 0.8""".stripMargin,
    "split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
        |    / 4294967296.0 AS u FROM documents)""".stripMargin,
    // cluster split = dedup_clusters' transitive closure + the
    // split_assign CASE taken of the representative id.
    "split_assign_cluster" ->
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION ALL SELECT b, a FROM edges),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),1,8)) AS BIGINT)
         |    / 4294967296.0 AS u FROM cl)""".stripMargin,
    // leakage = dedup_lsh_verified's candidate/verify chain × the
    // split_assign hash — crossing pairs only.
    "split_leakage" ->
      s"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cnt FROM cand c
         |  JOIN sh s1 ON s1.doc_id = c.a
         |  JOIN sh s2 ON s2.doc_id = c.b AND s1.shingle = s2.shingle
         |  GROUP BY c.a, c.b),
         |ver AS (SELECT m.a, m.b,
         |    CAST(m.cnt AS DOUBLE) / (sa.n + sb.n - m.cnt) AS jaccard
         |  FROM common m JOIN sizes sa ON sa.doc_id = m.a
         |  JOIN sizes sb ON sb.doc_id = m.b
         |  WHERE CAST(m.cnt AS DOUBLE) / (sa.n + sb.n - m.cnt) >= 0.5),
         |sp AS (SELECT doc_id,
         |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |      / 4294967296.0 AS u FROM documents))
         |SELECT v.a, v.b, pa.split AS split_a, pb.split AS split_b, v.jaccard
         |FROM ver v JOIN sp pa ON pa.doc_id = v.a
         |  JOIN sp pb ON pb.doc_id = v.b
         |WHERE pa.split <> pb.split""".stripMargin,
    // exact integer counts; the double tail (shares, contributions)
    // uses one pinned operation order on both sides.
    "drift_tokens" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS v FROM documents),
        |r0 AS (SELECT CAST(least(floor(v / 20.0), 19) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n_ref
        |       FROM t WHERE doc_id < 250 GROUP BY 1),
        |rt AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM t WHERE doc_id < 250),
        |r AS (SELECT bin, n_ref, CAST(n_ref AS DOUBLE)/tot AS p_ref FROM r0, rt),
        |c0 AS (SELECT CAST(least(floor(v / 20.0), 19) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n_cur
        |       FROM t WHERE doc_id >= 250 GROUP BY 1),
        |ct AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM t WHERE doc_id >= 250),
        |c AS (SELECT bin, n_cur, CAST(n_cur AS DOUBLE)/tot AS p_cur FROM c0, ct)
        |SELECT bin,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
        |  coalesce(p_ref, 0.0) AS p_ref, coalesce(p_cur, 0.0) AS p_cur,
        |  CASE WHEN coalesce(p_ref, 0.0) = 0.0 THEN NULL
        |       ELSE (coalesce(p_cur, 0.0) - coalesce(p_ref, 0.0))
        |            * (coalesce(p_cur, 0.0) - coalesce(p_ref, 0.0))
        |            / coalesce(p_ref, 0.0) END AS contrib
        |FROM r FULL OUTER JOIN c USING (bin)""".stripMargin,
    // Oracle has no bloom to model: the prefilter is exact end-to-end
    // (no false negatives; the semi-join removes false positives).
    // any-hit 13-gram rule: exact distinct-gram counts, no floats.
    "contam_13gram" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+13],' ') AS gram
        |      FROM (SELECT doc_id, t,
        |            unnest(range(0, greatest(len(t)-12,0))) AS i FROM toks)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |hits AS (SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n
        |         FROM g JOIN ev USING (gram)
        |         WHERE doc_id % 50 <> 0 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n, 0) AS n_contam_grams,
        |  coalesce(h.n, 0) = 0 AS keep
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 50 <> 0""".stripMargin,
    "contam_frac" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |occ AS (SELECT doc_id, i AS p, array_to_string(t[i+1:i+15],' ') AS shingle
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |settled AS (SELECT DISTINCT shingle FROM occ WHERE doc_id < 250),
        |cov AS (SELECT doc_id, CAST(count(DISTINCT tokpos) AS BIGINT) AS n_contam_tokens
        |        FROM (SELECT doc_id, unnest(range(p, p+15)) AS tokpos
        |              FROM occ JOIN settled USING (shingle) WHERE doc_id >= 250)
        |        GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
        |  coalesce(cov.n_contam_tokens, 0) AS n_contam_tokens,
        |  round(CAST(coalesce(cov.n_contam_tokens, 0) AS DOUBLE)
        |    / len(string_split(d.text,' ')), 4) AS contam_frac,
        |  round(CAST(coalesce(cov.n_contam_tokens, 0) AS DOUBLE)
        |    / len(string_split(d.text,' ')), 4) < 0.2 AS keep
        |FROM documents d LEFT JOIN cov USING (doc_id)
        |WHERE d.doc_id >= 250""".stripMargin,
    // Digest concat skips NULLs on both sides (concat_ws ≡ duckdb concat).
    "corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(concat(text, lang, source)) AS d
        |  FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT doc_id, md5(concat(
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END,
        |    lang, source)) AS d
        |  FROM documents WHERE doc_id % 5 <> 2)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.d IS NULL THEN 'added'
        |       WHEN v2.d IS NULL THEN 'removed'
        |       WHEN v1.d <> v2.d THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE CASE WHEN v1.d IS NULL THEN 'added'
        |           WHEN v2.d IS NULL THEN 'removed'
        |           WHEN v1.d <> v2.d THEN 'changed'
        |           ELSE 'unchanged' END <> 'unchanged'""".stripMargin,
    // the yield funnel restated: same canonical/quality CTEs as
    // curate_pipeline, span coverage (dupFraction semantics) on the
    // quality survivors, four stage rows.
    "curate_funnel" ->
      """WITH norm AS (SELECT doc_id, text,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
        |      / len(string_split(text,' ')) AS mtl
        |  FROM documents),
        |canon AS (SELECT fp, min(doc_id) AS keep_id FROM norm GROUP BY fp),
        |kept AS (SELECT norm.* FROM norm
        |         JOIN canon ON norm.doc_id = canon.keep_id),
        |q AS (SELECT * FROM kept
        |      WHERE n_tokens >= 20 AND mtl BETWEEN 3.0 AND 12.0),
        |toks AS (SELECT doc_id, string_split(text,' ') AS t FROM q),
        |occ AS (SELECT doc_id, i AS p,
        |          array_to_string(t[i+1:i+15],' ') AS shingle
        |        FROM (SELECT doc_id, t,
        |              unnest(range(0, greatest(len(t)-14,0))) AS i FROM toks)),
        |dup AS (SELECT shingle FROM occ GROUP BY shingle
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, count(DISTINCT tokpos) AS n_rm
        |        FROM (SELECT doc_id, unnest(range(p, p+15)) AS tokpos
        |              FROM occ JOIN dup USING (shingle))
        |        GROUP BY doc_id),
        |rm AS (SELECT CAST(coalesce(sum(n_rm), 0) AS BIGINT) AS t_removed
        |       FROM cov)
        |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM norm
        |UNION ALL SELECT '2_exact_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(n_tokens) AS BIGINT) FROM kept
        |UNION ALL SELECT '3_quality', CAST(count(*) AS BIGINT),
        |  CAST(sum(n_tokens) AS BIGINT) FROM q
        |UNION ALL SELECT '4_span_clean', CAST(count(*) AS BIGINT),
        |  CAST(sum(n_tokens) AS BIGINT) - (SELECT t_removed FROM rm)
        |FROM q""".stripMargin,

    // The composed pipeline restated as one SQL chain; the train-shard
    // stage is again the global-window SPEC of the distributed prefix sum.
    "curate_pipeline" ->
      """WITH norm AS (SELECT doc_id, text,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
        |      / len(string_split(text,' ')) AS mtl
        |  FROM documents),
        |canon AS (SELECT fp, min(doc_id) AS keep_id FROM norm GROUP BY fp),
        |kept AS (SELECT n.doc_id, n.n_tokens FROM norm n
        |         JOIN canon c ON n.doc_id = c.keep_id
        |         WHERE n.n_tokens >= 20 AND n.mtl BETWEEN 3.0 AND 12.0),
        |spl AS (SELECT doc_id, n_tokens,
        |    CASE WHEN u < 0.9 THEN 'train' ELSE 'holdout' END AS split
        |  FROM (SELECT doc_id, n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
        |      / 4294967296.0 AS u FROM kept)),
        |tsh AS (SELECT doc_id,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000.0)
        |      AS BIGINT) AS shard
        |  FROM spl WHERE split = 'train')
        |SELECT s.doc_id, s.split, coalesce(t.shard, -1) AS shard
        |FROM spl s LEFT JOIN tsh t USING (doc_id)""".stripMargin,
    // Oracle states the SPEC (one global ordered cumsum); the Spark side
    // computes the same total via the distributed prefix-sum decomposition.
    "shard_tokens" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 10000.0)
        |    AS BIGINT) AS shard
        |FROM t""".stripMargin,
    "shard_bpe" ->
      s"""WITH $bpeCtes,
         |enc AS (SELECT word,
         |    len(string_split(substr(s, 2, length(s)-2), '||')) AS n_tok FROM s3),
         |dw AS (SELECT doc_id, word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0),
         |bt AS (SELECT dw.doc_id,
         |    CAST(sum(CASE WHEN regexp_matches(dw.word, '^[a-z0-9]+$$')
         |                  THEN e.n_tok ELSE 1 END) AS BIGINT) AS n_tokens
         |  FROM dw LEFT JOIN enc e ON e.word = dw.word
         |  GROUP BY dw.doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 10000.0)
         |    AS BIGINT) AS shard
         |FROM bt""".stripMargin,
    "sample_stratified" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
        |SELECT doc_id, source FROM documents JOIN c USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
        |    / 4294967296.0 < least(1.0, 10.0 / n)""".stripMargin,

    "sample_balanced" ->
      """WITH n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |k AS (SELECT min(n) AS k FROM n),
        |r AS (SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM embeddings)
        |SELECT vec_id, label FROM r, k WHERE rk <= k""".stripMargin,
    "pack_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(least(len(t) - i*32, 32) AS BIGINT) AS n_tokens,
        |  array_to_string(t[CAST(i*32+1 AS INT):CAST(i*32+32 AS INT)], ' ') AS chunk_text
        |FROM (SELECT doc_id, t,
        |  unnest(range(greatest(CAST(ceil(len(t)/32.0) AS BIGINT), 1))) AS i FROM toks)""".stripMargin,
    "pack_cdc" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, start_tok, n_tokens, chunk_hash
         |FROM chunks""".stripMargin,
    // chunk-store dedup ratio on the same chunk stream: occurrence
    // counts over chunk_hash, rolled up per source.
    "dedup_chunk" ->
      s"""WITH $cdcChunkCtes,
         |occ AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS nocc
         |        FROM chunks GROUP BY 1)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT c.chunk_hash) AS BIGINT) AS uniq_chunks,
         |  CAST(sum(c.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN o.nocc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_chunks,
         |  CAST(sum(CASE WHEN o.nocc > 1 THEN c.n_tokens ELSE 0 END)
         |    AS BIGINT) AS dup_tokens
         |FROM chunks c
         |JOIN occ o ON o.chunk_hash = c.chunk_hash
         |JOIN documents d ON d.doc_id = c.doc_id
         |GROUP BY d.source""".stripMargin,
    // Identical SRP bucketing as Similarity.lshTopK: same plane constants
    // (from srpPlanes), same index-ordered double dot product.
    "sim_ann_lsh" -> {
      val planes = graft.ops.Similarity.srpPlanes(nBits = 4, dim = 64)
      def planeLit(b: Int) =
        planes(b).mkString("[", ",", "]") + "::DOUBLE[]"
      val bucket = (0 until 4).map(b =>
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeLit(b)}) >= 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH bucketed AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
         |SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |WHERE rank <= 5""".stripMargin
    },
    "sim_ann_ivf" -> simAnnIvfSql,
    // recall@5: hits per query between the IVF probe and the brute-force
    // CTEs above; queries the probe misses entirely still report 0.
    "sim_recall" ->
      s"""WITH ex AS ($simTopkSql),
         |ap AS ($simAnnIvfSql),
         |h AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM ex JOIN ap ON ex.query_id = ap.query_id
         |    AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY ex.query_id)
         |SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit,
         |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5, 4) AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) q
         |LEFT JOIN h USING (query_id)""".stripMargin,
    "sim_nprobe_sweep" -> {
      val probes = Seq(1, 2, 4, 8)
      val hitCtes = probes.map(np =>
        s"""h$np AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           |  FROM ex JOIN (${simAnnIvfSqlAt(np)}) ap$np
           |  USING (query_id, neighbor_id))""").mkString(",\n")
      val rows = probes.map(np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe, n_hit,
           |  round(CAST(n_hit AS DOUBLE) / tot * 10000) / 10000 AS recall
           |FROM h$np, nq""").mkString("\nUNION ALL ")
      s"""WITH ex AS ($simTopkSql),
         |$hitCtes,
         |nq AS (SELECT count(DISTINCT query_id) * 5 AS tot FROM ex)
         |$rows""".stripMargin
    },

    "sim_ann_ivfpq" -> {
      // IVF-PQ ADC replayed literal-for-literal from the shared
      // IvfPqSql parts: coarse cells and PQ codes via the first-match
      // CASE argmin over hoisted least() minima, query probes via the
      // tie-safe struct sort, and the ADC lookup as 1-based list
      // indexing. Here the per-subspace distance arrays double as the
      // ADC tables, so d_* columns hoist into the shared CTE and the q
      // side just re-groups them.
      import IvfPqSql._
      val adc = (0 until m).map { mi =>
        (0 until pqK).map(ki => s"d_${mi}_$ki")
          .mkString("[", ", ", "]") + s" AS adc_$mi"
      }.mkString(",\n        |    ")
      s"""WITH dall AS (SELECT vec_id, embedding,
        |  $gCols,
        |  ${dCols(rawElem)}
        |  FROM embeddings),
        |a AS (SELECT vec_id AS neighbor_id, $cellCase AS cell,
        |  $codeCols
        |  FROM (SELECT *, $leastG AS gmin, $dmCols FROM dall)),
        |q AS (SELECT vec_id AS query_id,
        |    $adc,
        |    unnest([s.cell FOR s IN list_sort($probeStructs)[1:$nProbe]]) AS cell
        |  FROM dall WHERE vec_id < 10)
        |${tail("a", "q")}""".stripMargin
    },
    "sim_ann_ivfpq_res" -> {
      // residual IVF-PQ replay from the SAME IvfPqSql parts as
      // sim_ann_ivfpq — only the element expression differs: PQ
      // distances run over rv = embedding − coarse[cell] (built as a
      // list comprehension against the 2-D centroid literal, matching
      // Spark's zip_with elementwise subtraction bit for bit).
      import IvfPqSql._
      val cmLit = coarse.map(_.mkString("[", ",", "]"))
        .mkString("[", ", ", "]") + "::DOUBLE[][]"
      val rvSql = s"[CAST(embedding[CAST(j AS INT)] AS DOUBLE) - " +
        s"cm[cell + 1][CAST(j AS INT)] FOR j IN range(1, ${dim + 1})]"
      s"""WITH dall AS (SELECT vec_id, embedding,
        |  $gCols
        |  FROM embeddings),
        |cellsq AS (SELECT vec_id, embedding, $cellCase AS cell
        |  FROM (SELECT *, $leastG AS gmin FROM dall)),
        |rres AS (SELECT vec_id, cell, $rvSql AS rv
        |  FROM cellsq, (SELECT $cmLit AS cm)),
        |rd AS (SELECT vec_id, cell,
        |  ${dCols(resElem)}
        |  FROM rres),
        |a AS (SELECT vec_id AS neighbor_id, cell,
        |  $codeCols
        |  FROM (SELECT *, $dmCols FROM rd)),
        |q0 AS (SELECT vec_id AS query_id, embedding,
        |    unnest([s.cell FOR s IN list_sort($probeStructs)[1:$nProbe]]) AS cell
        |  FROM dall WHERE vec_id < 10),
        |qr AS (SELECT query_id, cell, $rvSql AS rv
        |  FROM q0, (SELECT $cmLit AS cm)),
        |q AS (SELECT query_id, cell,
        |    ${adcCols(resElem, "    ")}
        |  FROM qr)
        |${tail("a", "q")}""".stripMargin
    },
    "emb_pq" -> {
      // literal sub-centroids from the SAME generator the Spark plan
      // embeds; distances are left-associative squared-diff chains, so
      // both engines compute identical doubles before the tie-safe
      // struct-sort argmin (DuckDB struct comparison is field-order
      // lexicographic, same as Spark's).
      val (m, k, sub) = (8, 16, 8)
      val cents = graft.ops.Similarity.pqCentroids(m, k, sub)
      def distSql(mi: Int, ki: Int): String =
        (0 until sub).map { j =>
          val c = cents(mi)(ki)(j)
          s"((CAST(embedding[${mi * sub + j + 1}] AS DOUBLE) - ($c)) * " +
            s"(CAST(embedding[${mi * sub + j + 1}] AS DOUBLE) - ($c)))"
        }.mkString("(", " + ", ")")
      val bests = (0 until m).map { mi =>
        val structs = (0 until k).map(ki =>
          s"{'d': ${distSql(mi, ki)}, 'k': $ki}").mkString("[", ", ", "]")
        s"list_sort($structs)[1] AS b$mi"
      }.mkString(",\n        |  ")
      val codes = (0 until m).map(mi => s"b$mi.k").mkString(", ")
      val err = (0 until m).map(mi => s"b$mi.d").mkString(" + ")
      s"""WITH best AS (SELECT vec_id,
        |  $bests
        |  FROM embeddings)
        |SELECT vec_id, concat_ws(',', $codes) AS codes,
        |  round($err, 4) AS recon_err
        |FROM best""".stripMargin
    },
    "sim_topk" -> simTopkSql,
    "contam_semantic" ->
      """SELECT query_id, neighbor_id, sim,
        |  CASE WHEN sim >= 0.98 THEN 1 ELSE 0 END AS contaminated
        |FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[],
        |                           c.embedding::DOUBLE[]) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |                 c.embedding::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 25 AND c.vec_id >= 25)
        |WHERE rank = 1""".stripMargin,
    // hybrid RRF: the lexical leg replays the exact-Jaccard ranks; the
    // semantic leg replays the FROZEN-IVF PROBE (the same d/a/q CTEs as
    // sim_ann_ivf — the engine side reads its materialized index, the
    // oracle recomputes the assignment from the raw table, so the index
    // content itself is hash-checked on every run).
    "sim_hybrid_rrf" ->
      s"""WITH ${ivfProbeCtes(4, "vec_id < 3")},
        |toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |shs AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3],' ') AS shingle
        |       FROM (SELECT doc_id, t,
        |             unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shs GROUP BY doc_id),
        |com AS (SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM shs q JOIN shs d USING (shingle)
        |  WHERE q.doc_id < 3 AND d.doc_id <> q.doc_id GROUP BY 1, 2),
        |lexall AS (SELECT p.query_id, p.doc_id,
        |    round(CAST(coalesce(c.c, 0) AS DOUBLE)
        |      / (sq.n + sd.n - coalesce(c.c, 0)) * 1000000) / 1000000 AS jac
        |  FROM (SELECT q.doc_id AS query_id, d.doc_id AS doc_id
        |        FROM documents q, documents d
        |        WHERE q.doc_id < 3 AND d.doc_id <> q.doc_id) p
        |  LEFT JOIN com c ON c.query_id = p.query_id AND c.doc_id = p.doc_id
        |  JOIN sz sq ON sq.doc_id = p.query_id
        |  JOIN sz sd ON sd.doc_id = p.doc_id),
        |lex AS (SELECT query_id, doc_id, rank_lex FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY jac DESC, doc_id ASC) AS rank_lex FROM lexall)
        |  WHERE rank_lex <= 20),
        |sem AS (SELECT query_id, doc_id, rank_sem FROM (
        |    SELECT q.query_id, a.neighbor_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]) DESC,
        |                 a.neighbor_id ASC) AS rank_sem
        |    FROM a JOIN q ON a.cell = q.cell
        |    WHERE q.query_id <> a.neighbor_id)
        |  WHERE rank_sem <= 20)
        |SELECT query_id, doc_id, rrf, CAST(rank AS INT) AS rank FROM (
        |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |    coalesce(l.doc_id, s.doc_id) AS doc_id,
        |    coalesce(CAST(1 AS DOUBLE)/(60 + rank_lex), 0)
        |      + coalesce(CAST(1 AS DOUBLE)/(60 + rank_sem), 0) AS rrf,
        |    row_number() OVER (
        |      PARTITION BY coalesce(l.query_id, s.query_id)
        |      ORDER BY coalesce(CAST(1 AS DOUBLE)/(60 + rank_lex), 0)
        |        + coalesce(CAST(1 AS DOUBLE)/(60 + rank_sem), 0) DESC,
        |        coalesce(l.doc_id, s.doc_id) ASC) AS rank
        |  FROM lex l FULL OUTER JOIN sem s
        |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
        |WHERE rank <= 10""".stripMargin,
    "sim_hard_negatives" ->
      """SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
        |    AND q.label <> c.label)
        |WHERE rank <= 3""".stripMargin,
    "sim_mips" ->
      """SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS dot,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5""".stripMargin,
    // MMR greedy unrolled: one (max-redundancy, pick) CTE pair per step,
    // every cosine the same list_cosine_similarity chain as the Spark
    // kernel, weights written as the literal pair 0.7/0.3 on both sides
    // (never 1−λ: that is 0.30000000000000004 in binary).
    "sim_mmr" -> {
      val (k, nc) = (5, 12)
      val steps = (2 to k).map { t =>
        s"""m$t AS (SELECT c.query_id, c.neighbor_id,
           |    max(list_cosine_similarity(c.cv, s.cv)) AS ms
           |  FROM cand c JOIN a${t - 1} s USING (query_id)
           |  WHERE NOT EXISTS (SELECT 1 FROM a${t - 1} x
           |    WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
           |  GROUP BY 1, 2),
           |p$t AS (SELECT query_id, neighbor_id, sim, cv, $t AS step FROM (
           |    SELECT c.query_id, c.neighbor_id, c.sim, c.cv,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY (CAST(0.7 AS DOUBLE) * c.sim
           |                - CAST(0.3 AS DOUBLE) * m.ms) DESC,
           |          c.neighbor_id ASC) AS prk
           |    FROM cand c JOIN m$t m
           |      ON m.query_id = c.query_id AND m.neighbor_id = c.neighbor_id)
           |  WHERE prk = 1),
           |a$t AS (SELECT * FROM a${t - 1} UNION ALL SELECT * FROM p$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand0 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
         |    c.embedding::DOUBLE[] AS cv,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id ASC) AS rk
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |cand AS MATERIALIZED (SELECT query_id, neighbor_id, sim, cv
         |  FROM cand0 WHERE rk <= $nc),
         |a1 AS (SELECT query_id, neighbor_id, sim, cv, 1 AS step
         |  FROM cand0 WHERE rk = 1),
         |$steps
         |SELECT query_id, neighbor_id, sim, CAST(step AS INT) AS step
         |FROM a$k""".stripMargin
    },
    // cluster-cap sample: the emb_semdedup centroid/argmin recipe, then
    // a per-cell md5-ordered row_number capped at 20.
    "sample_cluster_cap" -> {
      val (k, dim, cap) = (8, 64, 20)
      val cents = graft.ops.Similarity.semCentroids(k, dim)
      def distSql(ki: Int): String =
        (0 until dim).map { j =>
          val c = cents(ki)(j)
          s"((CAST(embedding[${j + 1}] AS DOUBLE) - ($c)) * " +
            s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($c)))"
        }.mkString("(", " + ", ")")
      val dCols = (0 until k).map(ki => s"${distSql(ki)} AS d_$ki").mkString(",\n  ")
      val leastAll = (0 until k).map(ki => s"d_$ki").mkString("least(", ", ", ")")
      val cellCase = (0 until k).map(ki => s"WHEN d_$ki = dist THEN $ki")
        .mkString("CASE ", " ", "END")
      s"""WITH d AS (SELECT vec_id,
         |  $dCols
         |  FROM embeddings),
         |m AS (SELECT *, $leastAll AS dist FROM d),
         |a AS (SELECT vec_id, $cellCase AS cell FROM m),
         |r AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id)
         |      AS rk
         |  FROM a)
         |SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk
         |FROM r WHERE rk <= $cap""".stripMargin
    },
    // raw shingle strings on the oracle side (gram identity only — the
    // Spark plan ships xxhash64 keys, a collision-negligible identity)
    "text_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3],' ') AS g
        |       FROM (SELECT doc_id, t,
        |             unnest(range(0, greatest(len(t)-2,0))) AS i FROM toks)),
        |ref AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 0),
        |cand AS (SELECT doc_id, sh.g, ref.g AS seen FROM sh
        |         LEFT JOIN ref ON sh.g = ref.g WHERE doc_id % 2 = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS novelty_frac
        |FROM cand GROUP BY doc_id""".stripMargin,
    // Matryoshka agreement: the same two rankings (full vs 16-dim
    // prefix), overlap counted per query, zeros preserved
    "sim_matryoshka" ->
      """WITH fullnn AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5),
        |trnn AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding[1:16]::DOUBLE[], c.embedding[1:16]::DOUBLE[]) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5),
        |ov AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_common
        |  FROM fullnn f JOIN trnn t
        |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT q.vec_id AS query_id,
        |  coalesce(ov.n_common, 0) AS n_common,
        |  round(CAST(coalesce(ov.n_common, 0) AS DOUBLE) / 5.0 * 1000000)
        |    / 1000000 AS recall
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 50) q
        |LEFT JOIN ov ON ov.query_id = q.vec_id""".stripMargin,
    "emb_neardup_lsh" -> s"""WITH $lshPairCtes
         |SELECT a, b, sim FROM lshpairs""".stripMargin,
    "emb_threshold_sweep" ->
      s"""WITH $lshPairCtes
         |SELECT t, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM lshpairs, (SELECT unnest([0.2, 0.3, 0.5, 0.7, 0.9]::DOUBLE[]) AS t)
         |WHERE sim >= t GROUP BY t""".stripMargin,
    "emb_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2""".stripMargin,
    "emb_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (SELECT vec_id, e, list_min(e) AS lo,
        |  CASE WHEN list_max(e) = list_min(e) THEN 1.0
        |       ELSE (list_max(e) - list_min(e)) / 255.0 END AS qscale FROM v)
        |SELECT vec_id,
        |  array_to_string([CAST(round((x - lo) / qscale) AS INT) FOR x IN e], ',') AS codes,
        |  lo AS zero_point, qscale
        |FROM p""".stripMargin,
    // fixed-point aggregation (round(x*2^20) as BIGINT) makes the sums
    // order-free and exact; the single final float conversion uses the
    // same operation order as the Spark plan, so hashes match bit-exact.
    "emb_dim_stats" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS a FROM embeddings),
        |x AS (SELECT i AS dim,
        |        CAST(round(a[CAST(i+1 AS INT)] * 1048576.0) AS BIGINT) AS v
        |      FROM (SELECT a, unnest(range(0, len(a))) AS i FROM e)),
        |g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, sum(v) AS s,
        |        sum(v*v) AS q, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim)
        |SELECT dim, n,
        |  CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1048576.0 AS mean,
        |  (CAST(q AS DOUBLE)/CAST(n AS DOUBLE)
        |    - (CAST(s AS DOUBLE)/CAST(n AS DOUBLE))
        |      *(CAST(s AS DOUBLE)/CAST(n AS DOUBLE)))
        |    /(1048576.0*1048576.0) AS variance,
        |  CAST(mn AS DOUBLE)/1048576.0 AS vmin,
        |  CAST(mx AS DOUBLE)/1048576.0 AS vmax
        |FROM g""".stripMargin,
    "emb_kmeans" -> embKmeansSql,
    "emb_outliers" ->
      s"""WITH $kmeansCtes,
         |dmin AS (SELECT vec_id, c AS cell, d FROM (SELECT vec_id, c, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |  FROM d2) WHERE rn = 1),
         |med AS (SELECT cell,
         |    CAST(2 * quantile_cont(d, 0.5) AS BIGINT) AS med2
         |  FROM dmin GROUP BY 1),
         |dev AS (SELECT vec_id, cell, d, med2,
         |    abs(2 * d - med2) AS dev2
         |  FROM dmin JOIN med USING (cell)),
         |mad AS (SELECT cell,
         |    CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
         |  FROM dev GROUP BY 1)
         |SELECT vec_id, CAST(cell AS INT) AS cell,
         |  CAST(d AS BIGINT) AS dist2, med2, mad4
         |FROM dev JOIN mad USING (cell)
         |WHERE 2 * dev2 > 3 * mad4""".stripMargin,
    "emb_gram" ->
      s"""WITH $gramCtes
         |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
         |  CAST(g AS BIGINT) AS g FROM gr""".stripMargin,
    "emb_top_pc" -> topPcSql,
    "emb_top2_pc" -> secondPcSql,
    // normalize (IEEE sqrt: exact-rounded, replays cross-engine),
    // quantize to 2^20, then the sum-vector identity — index-ordered
    // list sums for the doubles, HUGEINT for everything integer.
    "emb_diversity" ->
      """WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
        |           WHERE len(embedding) = 64),
        |nv AS (SELECT e, sqrt(list_aggregate([x*x FOR x IN e], 'sum')) AS nm
        |       FROM v),
        |q AS (SELECT [CAST(round(x / nm * 1048576.0) AS BIGINT) FOR x IN e]
        |        AS qs FROM nv WHERE nm > 0),
        |r AS (SELECT qs,
        |    list_aggregate([CAST(x AS HUGEINT) * x FOR x IN qs], 'sum')
        |      AS rowsq FROM q),
        |p1 AS (SELECT qs, rowsq, unnest(range(64)) AS i FROM r),
        |g AS (SELECT i, CAST(sum(qs[CAST(i + 1 AS INT)]) AS HUGEINT) AS s,
        |    CAST(sum(rowsq) AS HUGEINT) AS rs, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p1 GROUP BY i),
        |t AS (SELECT CAST(sum(s * s) AS HUGEINT) AS s2,
        |    CAST(sum(rs) AS HUGEINT) AS rsd, CAST(max(cnt) AS BIGINT) AS n
        |  FROM g)
        |SELECT n, round(CAST(s2 * 64 - rsd AS DOUBLE)
        |    / (CAST(n * (n - 1) * 64 AS DOUBLE) * 1099511627776.0)
        |    * 1000000) / 1000000 AS avg_cos
        |FROM t""".stripMargin,
    // whitening replay: v3's PC as one ordered list; per-vector dot,
    // trunc-division projection coefficient per element, corrected dot.
    "emb_abtt" ->
      s"""WITH $topPcCtes,
         |varr AS (SELECT list(v ORDER BY j) AS varr FROM v3),
         |vvt AS (SELECT list_sum([CAST(v * v AS HUGEINT) FOR v IN varr]) AS vv FROM varr),
         |xs2 AS (SELECT vec_id,
         |    [CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) FOR x IN embedding] AS xs
         |  FROM embeddings WHERE len(embedding) = 64),
         |d AS (SELECT vec_id, xs,
         |    list_sum([CAST(xs[CAST(i+1 AS INT)] AS HUGEINT) * varr[CAST(i+1 AS INT)]
         |              FOR i IN range(64)]) AS db
         |  FROM xs2, varr),
         |c AS (SELECT vec_id, db,
         |    list_sum([(((db * varr[CAST(i+1 AS INT)])
         |        - ((db * varr[CAST(i+1 AS INT)]) % vv)) // vv)
         |        * varr[CAST(i+1 AS INT)] FOR i IN range(64)]) AS corr
         |  FROM d, varr, vvt)
         |SELECT vec_id, CAST(db AS BIGINT) AS dot_before,
         |  CAST(db - corr AS BIGINT) AS dot_after
         |FROM c""".stripMargin,
    // frozen-seed cell drift: a1 is kmeansCtes' seed assignment (same
    // literals); exact 2×k chi-squared per cell, one division per half.
    "drift_cells" ->
      s"""WITH $kmeansCtes,
         |sides AS (SELECT c1 AS cell, ((vec_id % 2) + 2) % 2 AS side
         |          FROM a1),
         |cnt AS (SELECT cell,
         |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         |  FROM sides GROUP BY cell),
         |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS cr,
         |        CAST(sum(n_cur) AS BIGINT) AS cc FROM cnt)
         |SELECT cell, n_ref, n_cur,
         |  round((num_r * num_r / den_r + num_c * num_c / den_c)
         |    * 1000000) / 1000000 AS chi2_term
         |FROM (SELECT cell, n_ref, n_cur,
         |    CAST(CAST(n AS HUGEINT) * n_ref
         |       - CAST(r AS HUGEINT) * cr AS DOUBLE) AS num_r,
         |    CAST(CAST(n AS HUGEINT) * r * cr AS DOUBLE) AS den_r,
         |    CAST(CAST(n AS HUGEINT) * n_cur
         |       - CAST(r AS HUGEINT) * cc AS DOUBLE) AS num_c,
         |    CAST(CAST(n AS HUGEINT) * r * cc AS DOUBLE) AS den_c
         |  FROM (SELECT cell, n_ref, n_cur, cr, cc,
         |          n_ref + n_cur AS r, cr + cc AS n FROM cnt, tot))""".stripMargin,
    // PSI over the same cells: +1-smoothed shares (denominator literal 8
    // = the closed cell set), ln on both engines, 6dp round absorbs the
    // last-ulp libm divergence (the text_zipf discipline)
    "drift_psi" ->
      s"""WITH $kmeansCtes,
         |sides AS (SELECT c1 AS cell, ((vec_id % 2) + 2) % 2 AS side
         |          FROM a1),
         |obs AS (SELECT cell,
         |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         |  FROM sides GROUP BY cell),
         |cnt AS (SELECT CAST(u.i AS INT) AS cell,
         |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
         |  FROM range(8) u(i) LEFT JOIN obs ON obs.cell = u.i),
         |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS cr,
         |        CAST(sum(n_cur) AS BIGINT) AS cc FROM cnt)
         |SELECT cell, n_ref, n_cur,
         |  round((pc - pr) * ln(pc / pr) * 1000000) / 1000000 AS psi_term
         |FROM (SELECT cell, n_ref, n_cur,
         |    CAST(n_ref + 1 AS DOUBLE) / CAST(cr + 8 AS DOUBLE) AS pr,
         |    CAST(n_cur + 1 AS DOUBLE) / CAST(cc + 8 AS DOUBLE) AS pc
         |  FROM cnt, tot)""".stripMargin,
    "sim_ann_ivf_trained" -> trainedIvfSql,
    "sim_knn_label" ->
      s"""WITH $knnPredCtes
         |SELECT query_id, label, predicted, predicted = label AS correct
         |FROM pred""".stripMargin,
    // per-class confusion rollup of the SAME kNN predictions: tp/fp/fn
    // from exact counts; precision/recall/F1 one guarded division each.
    "eval_confusion" ->
      s"""WITH $knnPredCtes,
         |rowt AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS n_true
         |         FROM pred GROUP BY 1),
         |colt AS (SELECT predicted AS cls, CAST(count(*) AS BIGINT) AS n_pred
         |         FROM pred GROUP BY 1),
         |tps AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS tp
         |        FROM pred WHERE predicted = label GROUP BY 1),
         |cls AS (SELECT coalesce(rowt.cls, colt.cls) AS cls,
         |    coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
         |  FROM rowt FULL OUTER JOIN colt ON rowt.cls = colt.cls)
         |SELECT cls.cls AS label, n_true, n_pred,
         |  coalesce(tp, 0) AS tp,
         |  CASE WHEN n_pred > 0 THEN round(CAST(coalesce(tp, 0) AS DOUBLE)
         |    / CAST(n_pred AS DOUBLE) * 1000000) / 1000000 END AS precision,
         |  CASE WHEN n_true > 0 THEN round(CAST(coalesce(tp, 0) AS DOUBLE)
         |    / CAST(n_true AS DOUBLE) * 1000000) / 1000000 END AS recall,
         |  CASE WHEN n_true + n_pred > 0 THEN
         |    round(2.0 * CAST(coalesce(tp, 0) AS DOUBLE)
         |      / CAST(n_true + n_pred AS DOUBLE) * 1000000) / 1000000
         |  END AS f1
         |FROM cls LEFT JOIN tps ON tps.cls = cls.cls""".stripMargin,
    "emb_cell_purity" ->
      s"""WITH $kmeansCtes,
         |lab AS (SELECT a2.c2, e.label FROM a2
         |        JOIN embeddings e ON a2.vec_id = e.vec_id),
         |cnt AS (SELECT c2, label, CAST(count(*) AS BIGINT) AS n
         |        FROM lab GROUP BY 1, 2),
         |m AS (SELECT c2, label AS majority_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY c2
         |      ORDER BY n DESC, label ASC) AS rn FROM cnt) WHERE rn = 1),
         |t AS (SELECT c2, CAST(sum(n) AS BIGINT) AS n_total,
         |      CAST(max(n) AS BIGINT) AS nmax FROM cnt GROUP BY c2)
         |SELECT CAST(t.c2 AS INT) AS c2, t.n_total, m.majority_label,
         |  round(CAST(t.nmax AS DOUBLE) / t.n_total, 4) AS purity
         |FROM t JOIN m ON t.c2 = m.c2""".stripMargin,
    // same fixed-point stats CTEs; quantization and ranking restated over
    // the code lists (integer dots → the float tail is order-pinned).
    "sim_topk_int8" -> simTopkInt8Sql,
    "emb_cka" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS a FROM embeddings
        |           WHERE len(embedding) = 64),
        |xq AS (SELECT i AS dim,
        |        CAST(round(a[CAST(i+1 AS INT)] * 1048576.0) AS BIGINT) AS v
        |      FROM (SELECT a, unnest(range(0, len(a))) AS i FROM e)),
        |gmm AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM xq GROUP BY dim),
        |cal AS (SELECT
        |    list(CAST(mn AS DOUBLE)/1048576.0 ORDER BY dim) AS lo,
        |    list(CASE WHEN mx = mn THEN 1.0
        |         ELSE CAST(mx AS DOUBLE)/1048576.0
        |           - CAST(mn AS DOUBLE)/1048576.0
        |         END ORDER BY dim) AS rng FROM gmm),
        |z AS (SELECT list_concat(a,
        |    [lo[CAST(i+1 AS INT)]
        |       + round((a[CAST(i+1 AS INT)] - lo[CAST(i+1 AS INT)])
        |           / rng[CAST(i+1 AS INT)] * 255.0)
        |         * rng[CAST(i+1 AS INT)] / 255.0
        |     FOR i IN range(0, 64)]) AS zv
        |  FROM e CROSS JOIN cal),
        |zs AS (SELECT [CAST(round(x * 1048576.0) AS BIGINT) FOR x IN zv]
        |        AS xs FROM z),
        |p1 AS (SELECT xs, unnest(range(128)) AS i FROM zs),
        |p2 AS (SELECT xs, i, unnest(range(128)) AS j FROM p1),
        |gr AS (SELECT i, j,
        |    sum(CAST(xs[CAST(i+1 AS INT)] AS HUGEINT)
        |      * xs[CAST(j+1 AS INT)]) AS g
        |  FROM p2 WHERE j >= i GROUP BY i, j),
        |sums AS (SELECT i AS dim,
        |    CAST(sum(xs[CAST(i+1 AS INT)]) AS HUGEINT) AS s
        |  FROM p1 GROUP BY 1),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zs),
        |mm AS (SELECT gr.i, gr.j,
        |    CASE WHEN gr.i < 64 AND gr.j < 64 THEN 'xx'
        |         WHEN gr.i >= 64 THEN 'yy' ELSE 'xy' END AS blk,
        |    CAST(CAST(cnt.n AS HUGEINT) * gr.g - si.s * sj.s AS DOUBLE)
        |      AS m
        |  FROM gr CROSS JOIN cnt
        |  JOIN sums si ON si.dim = gr.i
        |  JOIN sums sj ON sj.dim = gr.j),
        |m2 AS (SELECT blk, i, j, m * m *
        |    (CASE WHEN blk = 'xy' THEN 1.0 WHEN i = j THEN 1.0
        |     ELSE 2.0 END) AS t
        |  FROM mm),
        |fb AS (SELECT blk, list(struct_pack(t := t) ORDER BY i, j) AS lst
        |  FROM m2 GROUP BY 1),
        |ff AS (SELECT blk,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(lst, x -> x.t)), (a, y) -> a + y) AS f2
        |  FROM fb),
        |pv AS (SELECT max(CASE WHEN blk = 'xx' THEN f2 END) AS fxx2,
        |    max(CASE WHEN blk = 'yy' THEN f2 END) AS fyy2,
        |    max(CASE WHEN blk = 'xy' THEN f2 END) AS fxy2
        |  FROM ff)
        |SELECT cnt.n AS n_vecs, CAST(64 AS BIGINT) AS d,
        |  round(CASE WHEN fxx2 > 0 AND fyy2 > 0 THEN
        |      fxy2 / (sqrt(fxx2) * sqrt(fyy2)) END * 1000000) / 1000000
        |    AS cka_int8
        |FROM pv CROSS JOIN cnt""".stripMargin,

    "emb_isotropy" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS a FROM embeddings),
        |x AS (SELECT i AS dim,
        |        CAST(round(a[CAST(i+1 AS INT)] * 1048576.0) AS BIGINT) AS v
        |      FROM (SELECT a, unnest(range(0, len(a))) AS i FROM e)),
        |per AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS HUGEINT) AS s,
        |    sum(CAST(v * v AS HUGEINT)) AS q
        |  FROM x GROUP BY 1),
        |aa AS (SELECT dim, n,
        |    CAST(n AS HUGEINT) * q - s * s AS a FROM per),
        |g AS (SELECT max(n) AS n_vecs, CAST(count(*) AS BIGINT) AS d,
        |    CAST(sum(a) AS HUGEINT) AS sa, max(a) AS amax,
        |    list(struct_pack(a := a) ORDER BY dim) AS lst
        |  FROM aa),
        |f AS (SELECT n_vecs, d, sa, amax,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(lst, x -> CAST(x.a AS DOUBLE)
        |          * CAST(x.a AS DOUBLE))),
        |      (acc, y) -> acc + y) AS sa2
        |  FROM g)
        |SELECT n_vecs, d,
        |  round(CASE WHEN sa2 > 0 THEN
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / sa2 END
        |    * 10000) / 10000 AS participation_ratio,
        |  round(CASE WHEN sa2 > 0 THEN
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / sa2
        |        / CAST(d AS DOUBLE) END
        |    * 10000) / 10000 AS eff_dim_frac,
        |  round(CASE WHEN sa2 > 0 THEN
        |      CAST(amax AS DOUBLE) / CAST(sa AS DOUBLE) END
        |    * 1000000) / 1000000 AS top_dim_share
        |FROM f""".stripMargin,
    "eval_rbo" -> {
      val vtab = rboVNanos.mkString("[", ", ", "]")
      s"""WITH a AS ($simTopkSql),
         |b AS ($simTopkInt8Sql),
         |jj AS (SELECT a.query_id,
         |    ($vtab)[CAST(greatest(a.rank, b.rank) AS INT)] AS v
         |  FROM a JOIN b ON a.query_id = b.query_id
         |    AND a.neighbor_id = b.neighbor_id),
         |pq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(v) AS BIGINT) AS sv FROM jj GROUP BY 1),
         |uni AS (SELECT DISTINCT query_id FROM a)
         |SELECT uni.query_id, coalesce(n_common, 0) AS n_common,
         |  round(CAST(coalesce(sv, 0) AS DOUBLE) / 1000000000.0 * 1000000)
         |    / 1000000 AS rbo
         |FROM uni LEFT JOIN pq USING (query_id)""".stripMargin
    },
    "mm_meta" ->
      """SELECT doc_id AS id, 'text/plain' AS mime, source,
        |  CAST(length(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    "mm_features" ->
      """WITH s AS (
        |  SELECT doc_id, sum(ord(substr(text, i+1, 1))) AS bsum
        |  FROM (SELECT doc_id, text, unnest(range(length(text))) AS i FROM documents)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS id, CAST(length(d.text) AS BIGINT) AS n_bytes,
        |  array_to_string([CAST(length(d.text) AS INT), CAST(ord(substr(d.text,1,1)) AS INT),
        |   CAST(ord(substr(d.text,length(d.text),1)) AS INT),
        |   CAST(s.bsum % 1009 AS INT)], ',') AS features
        |FROM documents d JOIN s ON s.doc_id = d.doc_id""".stripMargin,
    "mm_frames" ->
      """WITH m AS (SELECT doc_id AS id, text,
        |    CAST(length(text) // 4 AS INT) AS chunk FROM documents)
        |SELECT id, CAST(u.i AS INT) AS frame_idx,
        |  substr(text, CAST(u.i * chunk + 1 AS INT), greatest(chunk, 1)) AS frame_bytes
        |FROM m, (SELECT unnest(range(4)) AS i) u""".stripMargin,
    // same frame chunking, md5 fingerprints, capped-frequency pair join
    // over the same planted-re-upload corpus
    "mm_video_neardup" ->
      """WITH vids AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'Z' || substr(text, 2)
        |  FROM documents WHERE doc_id % 10 = 5),
        |m AS (SELECT doc_id AS id, text,
        |    CAST(length(text) // 4 AS INT) AS chunk FROM vids),
        |fr AS (SELECT DISTINCT id,
        |    md5(substr(text, CAST(u.i * chunk + 1 AS INT), greatest(chunk, 1)))
        |      AS fh
        |  FROM m, (SELECT unnest(range(4)) AS i) u),
        |okf AS (SELECT fh FROM fr GROUP BY fh
        |        HAVING count(*) BETWEEN 2 AND 100),
        |p AS (SELECT l.id AS a, r.id AS b
        |  FROM fr l JOIN fr r ON l.fh = r.fh AND l.id < r.id
        |  JOIN okf ON okf.fh = l.fh)
        |SELECT a, b, CAST(count(*) AS BIGINT) AS shared,
        |  round(CAST(count(*) AS DOUBLE) / 4.0 * 1000000) / 1000000 AS sim
        |FROM p GROUP BY a, b HAVING count(*) >= 2""".stripMargin,
    // frame byte sums replayed from the substring chunks; lag delta and
    // the (delta desc, frame_idx) argmax mirror the Spark window.
    "mm_keyframes" ->
      """WITH m AS (SELECT doc_id AS id, text,
        |    CAST(length(text) // 4 AS INT) AS chunk FROM documents),
        |fr AS (SELECT id, CAST(u.i AS INT) AS frame_idx,
        |    substr(text, CAST(u.i * chunk + 1 AS INT), greatest(chunk, 1)) AS f
        |  FROM m, (SELECT unnest(range(4)) AS i) u),
        |pos AS (SELECT id, frame_idx, f, unnest(range(length(f))) AS p FROM fr),
        |bs0 AS (SELECT id, frame_idx,
        |    sum(ord(substr(f, CAST(p+1 AS INT), 1))) AS bsum
        |  FROM pos GROUP BY 1, 2),
        |bs AS (SELECT fr.id, fr.frame_idx, coalesce(bs0.bsum, 0) AS bsum
        |  FROM fr LEFT JOIN bs0 USING (id, frame_idx)),
        |d AS (SELECT id, frame_idx, bsum,
        |    abs(bsum - lag(bsum) OVER (PARTITION BY id ORDER BY frame_idx)) AS delta
        |  FROM bs)
        |SELECT id, frame_idx AS key_frame, CAST(bsum AS BIGINT) AS bsum,
        |  CAST(delta AS BIGINT) AS delta
        |FROM (SELECT *, row_number() OVER (PARTITION BY id
        |        ORDER BY delta DESC, frame_idx) AS rn
        |      FROM d WHERE delta IS NOT NULL)
        |WHERE rn = 1""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id AS id,
        |  array_to_string([substr(text, CAST(i * length(text) // 16 AS INT) + 1, 1)
        |    FOR i IN range(16)], '') AS resized
        |FROM documents""".stripMargin,
    // histogram replay from the BMP bytes: pixel byte j = text char j
    // ('A'=65 padded to 48), channel j mod 3 in BGR order, bin = v >> 5;
    // empty bins are not emitted in either engine
    "mm_channel_hist" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CASE WHEN i < length(text)
        |         THEN ord(substr(text, CAST(i + 1 AS INT), 1)) ELSE 65 END AS v,
        |    CASE CAST(i % 3 AS INT) WHEN 0 THEN 'b' WHEN 1 THEN 'g'
        |         ELSE 'r' END AS channel
        |  FROM documents, (SELECT unnest(range(48)) AS i))
        |SELECT doc_id AS id, channel, CAST(v // 32 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    // Exact replay of the ImageIO decode of bmpMedia's 4x4 BMP: pixel-data
    // byte j is text char j ('A'=65 padded to 48); channel = j mod 3 in BGR
    // order; channel sums are row-order-independent, so bottom-up storage
    // doesn't matter here.
    "mm_decode" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CASE WHEN i < length(text)
        |         THEN ord(substr(text, CAST(i + 1 AS INT), 1)) ELSE 65 END AS v,
        |    i % 3 AS ch
        |  FROM documents, (SELECT unnest(range(48)) AS i))
        |SELECT doc_id AS id, TRUE AS decoded,
        |  CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        |  CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin,
    // Nearest-neighbor 4x4 -> 2x2 samples image pixels (0,0),(2,0),(0,2),
    // (2,2); BMP rows are stored bottom-up (image row y = file row 3-y,
    // rowSize 12), so those pixels sit at payload offsets 36,42,12,18 with
    // BGR channels at +0,+1,+2 — i.e. the twelve fixed offsets below.
    "mm_resize_px" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CASE WHEN i < length(text)
        |         THEN ord(substr(text, CAST(i + 1 AS INT), 1)) ELSE 65 END AS v,
        |    i % 3 AS ch
        |  FROM documents,
        |    (SELECT unnest([12,13,14,18,19,20,36,37,38,42,43,44]) AS i))
        |SELECT doc_id AS id,
        |  CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
        |  CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin,
    // Little-endian int16 pairing replayed from the chars: sample i =
    // ord(char 2i+1) + 256*ord(char 2i+2), two's complement above 32767;
    // trailing odd byte ignored; docs under 2 bytes get the zero row.
    "mm_audio_pcm" ->
      """WITH sm AS (
        |  SELECT doc_id, CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
        |  FROM (SELECT doc_id, ord(substr(text, CAST(2*i+1 AS INT), 1))
        |          + 256 * ord(substr(text, CAST(2*i+2 AS INT), 1)) AS v
        |        FROM (SELECT doc_id, text,
        |                unnest(range(length(text) // 2)) AS i FROM documents))),
        |agg AS (SELECT doc_id, count(*) AS n_samples, min(sv) AS mn,
        |    max(sv) AS mx, sum(sv) AS sm, sum(abs(sv)) AS sa
        |  FROM sm GROUP BY doc_id)
        |SELECT d.doc_id AS id,
        |  CAST(coalesce(a.n_samples, 0) AS BIGINT) AS n_samples,
        |  CAST(coalesce(a.mn, 0) AS INT) AS min_s,
        |  CAST(coalesce(a.mx, 0) AS INT) AS max_s,
        |  CAST(coalesce(a.sm, 0) AS BIGINT) AS sum_s,
        |  CAST(coalesce(a.sa, 0) AS BIGINT) AS sum_abs
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    // frame-energy replay: same char→int16 pairing, only FULL 64-sample
    // frames count, peak = (energy DESC, frame ASC) rank 1.
    "mm_audio_energy" ->
      """WITH sm AS (SELECT doc_id, CAST(i // 64 AS BIGINT) AS f,
        |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
        |  FROM (SELECT doc_id, i, ord(substr(text, CAST(2*i+1 AS INT), 1))
        |          + 256 * ord(substr(text, CAST(2*i+2 AS INT), 1)) AS v
        |        FROM (SELECT doc_id, text,
        |                unnest(range((length(text) // 2 // 64) * 64)) AS i
        |              FROM documents))),
        |fe AS (SELECT doc_id, f, sum(sv * sv) AS e FROM sm GROUP BY 1, 2),
        |pk AS (SELECT doc_id, f, e,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY e DESC, f ASC) AS rn,
        |    count(*) OVER (PARTITION BY doc_id) AS nf,
        |    sum(e) OVER (PARTITION BY doc_id) AS te
        |  FROM fe)
        |SELECT d.doc_id AS id, CAST(coalesce(p.nf, 0) AS BIGINT) AS n_frames,
        |  CAST(coalesce(p.f, 0) AS INT) AS peak_frame,
        |  CAST(coalesce(p.e, 0) AS BIGINT) AS peak_energy,
        |  CAST(coalesce(p.te, 0) AS BIGINT) AS total_energy
        |FROM documents d LEFT JOIN (SELECT * FROM pk WHERE rn = 1) p
        |  ON p.doc_id = d.doc_id""".stripMargin,
    // VAD replay: same frame energies; active ⇔ e·nf > te (the integer
    // mean-threshold), islands by the f − row_number() run trick,
    // segments ordered by start frame.
    "mm_vad" ->
      """WITH sm AS (SELECT doc_id, CAST(i // 64 AS BIGINT) AS f,
        |    CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
        |  FROM (SELECT doc_id, i, ord(substr(text, CAST(2*i+1 AS INT), 1))
        |          + 256 * ord(substr(text, CAST(2*i+2 AS INT), 1)) AS v
        |        FROM (SELECT doc_id, text,
        |                unnest(range((length(text) // 2 // 64) * 64)) AS i
        |              FROM documents))),
        |fe AS (SELECT doc_id, f, CAST(sum(sv * sv) AS BIGINT) AS e
        |       FROM sm GROUP BY 1, 2),
        |aw AS (SELECT doc_id, f, e,
        |    count(*) OVER (PARTITION BY doc_id) AS nf,
        |    sum(e) OVER (PARTITION BY doc_id) AS te
        |  FROM fe),
        |act AS (SELECT doc_id, f, e FROM aw WHERE e * nf > te),
        |grp AS (SELECT doc_id, f, e,
        |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
        |  FROM act),
        |seg AS (SELECT doc_id, g, min(f) AS f0, max(f) AS f1,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(e) AS BIGINT) AS energy
        |  FROM grp GROUP BY 1, 2)
        |SELECT doc_id AS id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f0) - 1 AS INT)
        |    AS seg,
        |  CAST(f0 AS INT) AS f0, CAST(f1 AS INT) AS f1, n_frames, energy
        |FROM seg""".stripMargin,
    // Average-hash replay: pixel (x, y) of the 4x4 BMP sits at payload
    // offset (3-y)*12 + 3x (bottom-up rows, rowSize 12); gray = sum of
    // its 3 channel bytes ('A'=65 padding past the text); bit p set iff
    // 16*gray > total, packed LSB-first in row-major order.
    "mm_phash" -> phashSql,
    // banded 4-bit chunks over the replayed aHash; xor bit-count verify.
    "mm_phash_pairs" ->
      s"""WITH ph AS ($phashSql),
         |bands AS (SELECT id, phash, b.band,
         |    (phash >> CAST(b.band * 4 AS INT)) & 15 AS chunk
         |  FROM ph, (SELECT unnest(range(4)) AS band) b)
         |SELECT DISTINCT l.id AS a, r.id AS b,
         |  CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
         |FROM bands l JOIN bands r ON l.band = r.band AND l.chunk = r.chunk
         |WHERE l.id < r.id
         |  AND bit_count(xor(l.phash, r.phash)) <= 2""".stripMargin,
    "mm_phash_groups" ->
      s"""WITH ph AS ($phashSql)
         |SELECT phash, CAST(count(*) AS BIGINT) AS n_images, min(id) AS keep_id
         |FROM ph GROUP BY phash HAVING count(*) > 1""".stripMargin,
    // Round-for-round replay of BPE training: same word-frequency
    // collapse, same pair weighting, same (cnt desc, lft, rgt) argmax
    // tie-break, and plain string replace on the wrapped token string IS
    // the greedy leftmost non-overlapping merge application.
    "text_bpe" ->
      s"""WITH $bpeCtes
         |SELECT * FROM (
         |  SELECT 1 AS step, lft, rgt, cnt FROM b1
         |  UNION ALL SELECT 2, lft, rgt, cnt FROM b2
         |  UNION ALL SELECT 3, lft, rgt, cnt FROM b3)""".stripMargin,
    // encode replay: the trained vocabulary's final token strings (s3)
    // give per-word token counts; docs sum their words' counts, OOV
    // (non-alnum) words count 1.
    "text_bpe_encode" ->
      s"""WITH $bpeCtes,
         |enc AS (SELECT word,
         |    len(string_split(substr(s, 2, length(s)-2), '||')) AS n_tok FROM s3),
         |dw AS (SELECT doc_id, word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0)
         |SELECT dw.doc_id,
         |  CAST(sum(CASE WHEN regexp_matches(dw.word, '^[a-z0-9]+$$')
         |                THEN e.n_tok ELSE 1 END) AS BIGINT) AS bpe_tokens
         |FROM dw LEFT JOIN enc e ON e.word = dw.word
         |GROUP BY dw.doc_id""".stripMargin,
    // entropy: same top-65536 clamp (rank by count desc, word asc; tail
    // pools into the single-space residual cell), same 1e-12-grid
    // p·log2(p) quantization summed as HUGEINT, 4dp.
    "vocab_entropy" ->
      """WITH w AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS vocab
        |  FROM w GROUP BY 1),
        |r AS (SELECT source, w, c, row_number() OVER (
        |    PARTITION BY source ORDER BY c DESC, w) AS rn FROM w),
        |cells AS (SELECT source,
        |    CASE WHEN rn <= 65536 THEN w ELSE ' ' END AS w,
        |    CAST(sum(c) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2),
        |q AS (SELECT cells.source, a.n, a.vocab,
        |    CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |      * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT) AS q
        |  FROM cells JOIN a ON a.source = cells.source),
        |m AS (SELECT source, max(n) AS n, max(vocab) AS vocab,
        |    CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq
        |  FROM q GROUP BY 1)
        |SELECT source, n, vocab,
        |  round(-CAST(sq AS DOUBLE) / 1000000000000.0 * 10000) / 10000
        |    AS entropy
        |FROM m""".stripMargin,
    // fertility: the encode replay aggregated per source instead of per
    // doc; the one float is the final tokens-per-word division.
    "vocab_fertility" ->
      s"""WITH $bpeCtes,
         |enc AS (SELECT word,
         |    len(string_split(substr(s, 2, length(s)-2), '||')) AS n_tok
         |  FROM s3),
         |dw AS (SELECT source, word
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE length(word) > 0),
         |agg AS (SELECT source,
         |    CAST(sum(CASE WHEN regexp_matches(dw.word, '^[a-z0-9]+$$')
         |                  THEN e.n_tok ELSE 1 END) AS BIGINT) AS bpe_tokens,
         |    CAST(count(*) AS BIGINT) AS n_words
         |  FROM dw LEFT JOIN enc e ON e.word = dw.word
         |  GROUP BY source)
         |SELECT source, bpe_tokens, n_words,
         |  round(CAST(bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    * 1000000) / 1000000 AS fertility
         |FROM agg""".stripMargin
  )

  /** Shared BPE training replay: word-frequency collapse, 3 rounds of
    * (pair count, argmax with cnt-desc/lexicographic tie-break, greedy
    * replace), carrying the source word through so the encode oracle can
    * map words to their final token strings. */
  private lazy val bpeCtes: String = {
    val rounds = (1 to 3).map { r =>
      s"""e$r AS (SELECT cnt, l, unnest(range(len(l)-1)) AS i
         |  FROM (SELECT cnt, string_split(substr(s, 2, length(s)-2), '||') AS l FROM s${r - 1})),
         |p$r AS (SELECT l[CAST(i+1 AS INT)] AS lft, l[CAST(i+2 AS INT)] AS rgt,
         |    CAST(sum(cnt) AS BIGINT) AS cnt FROM e$r GROUP BY 1, 2),
         |b$r AS (SELECT lft, rgt, cnt FROM p$r ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |s$r AS (SELECT word, replace(s, '|'||lft||'||'||rgt||'|', '|'||lft||rgt||'|') AS s,
         |    s${r - 1}.cnt AS cnt
         |  FROM s${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY word),
       |s0 AS (SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s, cnt FROM words),
       |$rounds""".stripMargin
  }
}
