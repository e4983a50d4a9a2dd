package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality signals for LLM training-data curation (SURVEY §2.8
  * north-star), following the published Gopher rules (Rae et al. 2021,
  * "Scaling Language Models: ... Gopher", Appendix A1) and standard PII
  * redaction practice. Everything here is pure Catalyst expressions —
  * higher-order array functions and regexes, no UDFs, no shuffle — so a
  * 100 TB corpus pays one codegen'd map pass.
  *
  * Array-heavy signals ([[gopherTextStats]], [[lineRepetitionStats]],
  * [[ngramRepetitionStats]]) bind their intermediates ONCE via the
  * `element_at(transform(array(x), v => …), 1)` idiom: interpreted HOF
  * lambdas re-evaluate referenced outer expressions per element, so the
  * token list, line list, etc. are introduced as lambda variables
  * instead. Shingle sets, where a per-window `substr` lambda cost
  * O(length²) per document, come from the native
  * [[graft.functions.Shingles]] kernel ([[TextOps.charShingles]]).
  */
object Quality {

  /** Gopher's stop list (A1.1 last rule). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def words(text: Column): Column =
    filter(split(trim(text), "\\s+"), w => length(w) > 0)

  private def nonEmptyLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  /** Okapi BM25 relevance of every document against a fixed term set
    * (Robertson & Spärck Jones; the BM25 formula as published in the
    * Robertson et al. TREC-3 report and standard IR texts):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    *   idf(t)   = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene's
    *              +1 form, which keeps idf positive for common terms)
    *
    * The corpus statistics (N, avgdl, per-term df) are computed from the
    * scored frame itself. The text is tokenized once and shuffled once:
    * one `groupBy` on the doc id gives each document its length and one
    * term count per distinct lower-cased term, a global aggregate over
    * those rows gives N, avgdl and each df, and that one-row frame is
    * broadcast back. A document's score sums its hit terms in `terms`
    * order; a document without hits scores 0.0.
    * Tokens are lowercased whitespace words, matching [[TextOps.tokens]].
    *
    * Output: `idCol`, `n_tokens` (|d|), `bm25` for the given terms; one
    * row per document with at least one token.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tl = terms.map(_.toLowerCase).distinct.zipWithIndex
    val toks = graft.Tables.spread(df)
      .select(col(idCol).as("__id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
    val perDoc = toks.groupBy(col("__id")).agg(count(lit(1)).as("__dl"),
      tl.map { case (t, i) => count(when(col("__w") === t, 1)).as(s"__tf$i") }: _*)
    val stats = perDoc.agg(count(lit(1)).as("__n"), avg(col("__dl")).as("__avgdl") +:
      tl.map { case (_, i) => count(when(col(s"__tf$i") > 0, 1)).as(s"__df$i") }: _*)
    val score = tl.foldLeft(lit(0.0)) { case (acc, (_, i)) =>
      val (tf, dfi) = (col(s"__tf$i"), col(s"__df$i"))
      val idf = log((col("__n") - dfi + 0.5) / (dfi + 0.5) + 1.0)
      acc + when(tf > 0,
        idf * tf * (k1 + 1) /
          (tf + (col("__dl") / col("__avgdl") * b + (1 - b)) * k1))
        .otherwise(0.0)
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("__id").as(idCol), col("__dl").as("n_tokens"), score.as("bm25"))
  }

  /** CCNet-style language-model quality signal (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data": rank docs by LM perplexity and keep the low-perplexity head).
    * CCNet's KenLM 5-gram is out of scope; the corpus's own unigram MLE
    * stands in: `p(w) = count(w) / total`, and each document scores its
    * per-token cross-entropy `mean(-ln p(w))` (perplexity = `exp` of it —
    * monotone, so filtering thresholds carry over).
    *
    * Scale shape: two passes. Pass 1 aggregates the token counts (the LM
    * — vocabulary-sized, shuffled once on the token; the global total
    * rides a single-row global aggregate). Pass 2 re-tokenizes and joins
    * occurrences to the LM on the token key — Catalyst/AQE broadcasts
    * the LM side when the vocabulary is small and falls back to a
    * shuffle join when it isn't; neither pass moves document text
    * through a shuffle more than once.
    *
    * Output: `idCol`, `n_tokens`, `cross_entropy` (natural-log units).
    */
  def unigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.Tables.spread(df)
      .select(col(idCol).as("__id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
    val lm = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val total = lm.agg(sum(col("__c")).as("__tot"))
    toks.join(lm, "__w")
      .crossJoin(broadcast(total))
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(-log(col("__c").cast("double") / col("__tot").cast("double")))
          .as("cross_entropy"))
  }

  /** Per-stratum token-distribution drift: KL(p_s ‖ q) of each stratum's
    * unigram distribution against the whole corpus's — the standard
    * corpus-composition monitor (which source/batch has drifted from the
    * mixture?). Every stratum word is by construction in the global
    * vocabulary, so the divergence is finite without smoothing.
    *
    * Scale shape: ONE tokenize pass; the global model is derived from
    * the per-stratum counts (`Σ_s c_s(w)`), not a second text pass; the
    * per-word join keys (word, counts) only; output is one row per
    * stratum. Shuffles: the (stratum, word) count, the word-keyed
    * re-aggregation + join, and the stratum rollup.
    *
    * Output: `strataCol`, `n_tokens`, `kl` (nats).
    */
  def tokenKlDivergence(
      df: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val toks = graft.Tables.spread(df)
      .select(col(strataCol).as("__s"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
    // materialize the (stratum, word) counts ONCE: three consumers (the
    // global model, the stratum totals, the scoring join) would otherwise
    // each re-run the tokenize pass — the frame is vocabulary×strata
    // rows, so the eager local checkpoint is small and the corpus text
    // really is read once (plan-audited; cleaner reclaims it on GC)
    val sc = toks.groupBy(col("__s"), col("__w"))
      .agg(count(lit(1)).as("__cs"))
      .localCheckpoint(true)
    val gc = sc.groupBy(col("__w")).agg(sum(col("__cs")).as("__cg"))
    val ns = sc.groupBy(col("__s")).agg(sum(col("__cs")).as("__ns"))
    val ng = gc.agg(sum(col("__cg")).as("__ng"))
    sc.join(gc, "__w")
      .join(ns, "__s")
      .crossJoin(broadcast(ng))
      .withColumn("__p", col("__cs").cast("double") / col("__ns"))
      .withColumn("__q", col("__cg").cast("double") / col("__ng"))
      .groupBy(col("__s").as(strataCol))
      .agg(max(col("__ns")).as("n_tokens"),
        sum(col("__p") * log(col("__p") / col("__q"))).as("kl"))
  }

  /** Two-frame drift: smoothed KL(batch ‖ baseline) between a new data
    * slice's unigram distribution and a FROZEN reference corpus — the
    * ingest-time companion of [[tokenKlDivergence]] (which compares
    * strata inside one frame). Both distributions are add-1 smoothed
    * over the UNION vocabulary, so novel batch words contribute a large
    * finite penalty instead of ∞ — the standard drift-monitor treatment.
    *
    * Scale shape: one tokenize + count aggregate per frame (the
    * vocabulary-sized model frames join on the word key; a full outer
    * join keeps either side's novel words); a single-row result.
    *
    * Output: `n_tokens` (batch), `n_novel_words` (batch words unseen in
    * the baseline), `kl` (nats).
    */
  def klDrift(
      batch: DataFrame, baseline: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame) = graft.Tables.spread(df)
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val bc = counts(batch)
    val rc = counts(baseline)
    // union-vocabulary sized; materialized once so the totals pass and
    // the divergence pass don't each re-tokenize both frames
    val joined = bc.withColumnRenamed("__c", "__cb")
      .join(rc.withColumnRenamed("__c", "__cr"), Seq("__w"), "full_outer")
      .select(coalesce(col("__cb"), lit(0L)).as("__cb"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
      .localCheckpoint(true)
    // totals first (batch/baseline token counts, union-vocab size, novel
    // words), then a distributed per-word divergence sum against the
    // broadcast totals — the vocabulary never collects to one row
    val tot = joined.agg(
      sum(col("__cb")).as("__nb"), sum(col("__cr")).as("__nr"),
      count(lit(1)).cast("double").as("__v"),
      sum(when(col("__cb") > 0 && col("__cr") === 0L, 1L).otherwise(0L))
        .as("n_novel_words"))
    val p = (col("__cb").cast("double") + 1d) /
      (col("__nb").cast("double") + col("__v"))
    val q = (col("__cr").cast("double") + 1d) /
      (col("__nr").cast("double") + col("__v"))
    joined.crossJoin(broadcast(tot))
      .agg(max(col("__nb")).as("n_tokens"),
        max(col("n_novel_words")).as("n_novel_words"),
        sum(p * log(p / q)).as("kl"))
      .select(col("n_tokens"), col("n_novel_words"), col("kl"))
  }

  /** CCNet's perplexity-bucket selection step (Wenzek et al. 2020 §4.3):
    * per language, rank documents by LM cross-entropy and split into
    * `nBuckets` equal-population buckets — bucket 1 is the
    * low-perplexity "head" CCNet keeps, then "middle", then "tail".
    * Buckets are RANK-based (`ntile` over a total order with an id
    * tie-break), not quantile-threshold-based, so the assignment is
    * exactly reproducible cross-engine — no interpolated-boundary float
    * comparisons. Scoring is [[unigramCrossEntropy]] rounded to 6
    * decimals before ranking (the oracle-parity convention).
    *
    * Scale shape: the LM passes are x36's; bucketing adds one join of
    * (id, ce) back to (id, lang) — ids and doubles only, never text —
    * and one rank window per language partition.
    *
    * Output: `idCol`, `langCol`, `cross_entropy` (rounded), `bucket`.
    */
  def perplexityBuckets(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val ce = unigramCrossEntropy(df, idCol, textCol)
      .select(col(idCol), round(col("cross_entropy"), 6).as("cross_entropy"))
    ce.join(df.select(col(idCol), col(langCol)), idCol :: Nil)
      .withColumn("bucket", ntile(nBuckets).over(Window
        .partitionBy(col(langCol))
        .orderBy(col("cross_entropy"), col(idCol))))
      .select(col(idCol), col(langCol), col("cross_entropy"), col("bucket"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy — the next rung up
    * from [[unigramCrossEntropy]] toward CCNet's KenLM scorer (Kneser &
    * Ney 1995; the interpolated form as given in Chen & Goodman 1998,
    * "An Empirical Study of Smoothing Techniques for Language Modeling",
    * eq. 4.25, with a single fixed discount `D`):
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1)
    *            + D · N1+(w1,·) / c(w1) · N1+(·,w2) / N1+(·,·)
    *
    * where `c` are corpus bigram counts, `N1+(w1,·)` the number of
    * distinct continuations of `w1`, `N1+(·,w2)` the number of distinct
    * contexts `w2` follows (the continuation probability's numerator),
    * and `N1+(·,·)` the total bigram-type count. Every bigram scored is
    * drawn from the same corpus the model is counted on, so `c(w1) > 0`
    * always and no unigram back-off level is needed.
    *
    * Each document scores the mean `−ln P(w2|w1)` over its adjacent
    * token pairs (tokens: lowercased whitespace words, as
    * [[unigramCrossEntropy]]); documents with fewer than two tokens
    * produce no row.
    *
    * Scale shape: bigrams are built map-side with `zip_with` over the
    * token array (no window, no per-doc shuffle); the model is three
    * aggregates off the bigram stream (pair counts; per-context count +
    * continuation fan-out, both derived from the TYPE-level pair-count
    * frame, which is far smaller than the token stream); scoring joins
    * the bigram occurrences back on the pair key — one shuffle each
    * side — and the two vocabulary-sized side frames join on their
    * single word keys (AQE broadcasts them when small). Document text
    * never moves through a shuffle more than once.
    *
    * Output: `idCol`, `n_bigrams`, `cross_entropy` (natural-log units).
    */
  def knBigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) > 0)
    val bg = graft.Tables.spread(df)
      .select(col(idCol).as("__id"), ws.as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col("__id"), explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
      .select(col("__id"), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val bc = bg.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c12"))
    val ctx = bc.groupBy(col("__w1")).agg(
      sum(col("__c12")).cast("double").as("__c1"),
      count(lit(1)).cast("double").as("__n1r"))
    val cont = bc.groupBy(col("__w2"))
      .agg(count(lit(1)).cast("double").as("__n1l"))
    val totTypes = bc.agg(count(lit(1)).cast("double").as("__tt"))
    val d = lit(discount)
    val p = greatest(col("__c12") - d, lit(0d)) / col("__c1") +
      d * col("__n1r") / col("__c1") * (col("__n1l") / col("__tt"))
    bg.join(bc, Seq("__w1", "__w2"))
      .join(ctx, Seq("__w1"))
      .join(cont, Seq("__w2"))
      .crossJoin(broadcast(totTypes))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-log(p)).as("cross_entropy"))
  }

  /** Word-shape signals (Gopher A1.1): appends
    * `word_count`, `mean_word_len`, `symbol_word_ratio` (# and … per
    * word), `alpha_word_frac` (words containing a letter), and
    * `stopword_hits` (occurrences of the Gopher stop list).
    */
  def gopherTextStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val s = element_at(transform(array(words(t)), ws => {
      val wc = size(ws).cast("long")
      val wcG = greatest(wc, lit(1L)).cast("double")
      val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
      val dots = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("double")
      struct(
        wc.as("word_count"),
        (aggregate(ws, lit(0L), (a, w) => a + length(w)).cast("double") / wcG)
          .as("mean_word_len"),
        ((hashes + dots) / wcG).as("symbol_word_ratio"),
        (size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / wcG)
          .as("alpha_word_frac"),
        size(filter(transform(ws, w => lower(w)),
          w => w.isInCollection(gopherStopwords))).cast("long").as("stopword_hits"))
    }), 1)
    df.withColumn("__g", s)
      .withColumn("word_count", col("__g.word_count"))
      .withColumn("mean_word_len", col("__g.mean_word_len"))
      .withColumn("symbol_word_ratio", col("__g.symbol_word_ratio"))
      .withColumn("alpha_word_frac", col("__g.alpha_word_frac"))
      .withColumn("stopword_hits", col("__g.stopword_hits"))
      .drop("__g")
  }

  /** Line-repetition signals (Gopher A1.2 duplicate-line rules): appends
    * `dup_line_frac` (fraction of non-empty lines that are repeats of an
    * earlier-or-later identical line) and `dup_line_char_frac` (fraction
    * of line characters inside duplicated lines). Single-line documents
    * score 0 on both.
    */
  def lineRepetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val s = element_at(transform(array(nonEmptyLines(col(textCol))), ls => {
      val n = size(ls).cast("double")
      val nG = greatest(n, lit(1d))
      val totChars = greatest(
        aggregate(ls, lit(0L), (a, l) => a + length(l)).cast("double"), lit(1d))
      val dupChars = aggregate(array_distinct(ls), lit(0L), (a, d) => {
        val occ = size(filter(ls, l => l === d)).cast("long")
        a + when(occ >= 2, occ * length(d).cast("long")).otherwise(lit(0L))
      }).cast("double")
      struct(
        ((n - size(array_distinct(ls)).cast("double")) / nG).as("dup_line_frac"),
        (dupChars / totChars).as("dup_line_char_frac"))
    }), 1)
    df.withColumn("__l", s)
      .withColumn("dup_line_frac", col("__l.dup_line_frac"))
      .withColumn("dup_line_char_frac", col("__l.dup_line_char_frac"))
      .drop("__l")
  }

  /** Word n-gram repetition (Gopher A1.2 top-n-gram rule): appends
    * `top_ngram` (the most frequent word `n`-gram, count ties broken by
    * the lexicographically smallest gram), `top_ngram_count`, and
    * `top_ngram_char_frac` (characters covered by its occurrences over
    * the space-joined token stream), plus `dup_word_frac`
    * (1 − distinct/total words — the word-level analogue of the
    * duplicate-line fraction, useful on unstructured text).
    */
  def ngramRepetitionStats(df: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = element_at(transform(array(words(col(textCol))), ws => {
      val grams = when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
        .otherwise(array().cast("array<string>"))
      element_at(transform(array(grams), gs => {
        val best = aggregate(array_distinct(gs),
          struct(lit(0L).as("cnt"), lit("").as("g")),
          (acc, d) => {
            val cnt = size(filter(gs, x => x === d)).cast("long")
            when(cnt > acc.getField("cnt") ||
              (cnt === acc.getField("cnt") && d < acc.getField("g")),
              struct(cnt.as("cnt"), d.as("g"))).otherwise(acc)
          })
        element_at(transform(array(best), b => {
          val joinedLen = greatest(
            length(concat_ws(" ", ws)).cast("double"), lit(1d))
          struct(
            b.getField("g").as("top_ngram"),
            b.getField("cnt").as("top_ngram_count"),
            ((b.getField("cnt") * length(b.getField("g"))).cast("double") / joinedLen)
              .as("top_ngram_char_frac"),
            ((size(ws) - size(array_distinct(ws))).cast("double") /
              greatest(size(ws), lit(1)).cast("double")).as("dup_word_frac"))
        }), 1)
      }), 1)
    }), 1)
    df.withColumn("__n", s)
      .withColumn("top_ngram", col("__n.top_ngram"))
      .withColumn("top_ngram_count", col("__n.top_ngram_count"))
      .withColumn("top_ngram_char_frac", col("__n.top_ngram_char_frac"))
      .withColumn("dup_word_frac", col("__n.dup_word_frac"))
      .drop("__n")
  }

  /** All word-shape and n-gram-repetition signals in ONE pass: the text
    * is tokenized once, the gram list derived from the bound token list,
    * and the top-gram mode found by sort + linear run-scan (equal grams
    * are adjacent after `array_sort`, so a (prev, run, best) fold finds
    * the max count in O(g log g) instead of the filter-per-distinct-gram
    * O(distinct·g) scan). Strict `>` keeps the FIRST max run, which in
    * sorted order is the lexicographically smallest gram — the same
    * tie-break as [[ngramRepetitionStats]]. Output columns and values are
    * identical to `ngramRepetitionStats(gopherTextStats(df,_),_, n)`; use
    * this form when both signal families are wanted (the x27 shape).
    */
  def gopherAllStats(df0: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // tokenize-once still means tokenize-everything in ONE task on a
    // single-split input; redistribute first (no-op on real layouts)
    val df = graft.Tables.spread(df0)
    val t = col(textCol)
    val s = element_at(transform(array(words(t)), ws => {
      val wc = size(ws).cast("long")
      val wcG = greatest(wc, lit(1L)).cast("double")
      val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
      val dots = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("double")
      val grams = when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
        .otherwise(array().cast("array<string>"))
      element_at(transform(array(array_sort(grams)), gs => {
        val best = aggregate(gs,
          struct(lit("").as("prev"), lit(0L).as("run"),
            lit("").as("bg"), lit(0L).as("bc")),
          (acc, x) => {
            val run2 = when(x === acc.getField("prev"), acc.getField("run") + 1)
              .otherwise(lit(1L))
            struct(x.as("prev"), run2.as("run"),
              when(run2 > acc.getField("bc"), x)
                .otherwise(acc.getField("bg")).as("bg"),
              when(run2 > acc.getField("bc"), run2)
                .otherwise(acc.getField("bc")).as("bc"))
          })
        val joinedLen = greatest(
          length(concat_ws(" ", ws)).cast("double"), lit(1d))
        struct(
          wc.as("word_count"),
          (aggregate(ws, lit(0L), (a, w) => a + length(w)).cast("double") / wcG)
            .as("mean_word_len"),
          ((hashes + dots) / wcG).as("symbol_word_ratio"),
          (size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / wcG)
            .as("alpha_word_frac"),
          size(filter(transform(ws, w => lower(w)),
            w => w.isInCollection(gopherStopwords))).cast("long").as("stopword_hits"),
          best.getField("bg").as("top_ngram"),
          best.getField("bc").as("top_ngram_count"),
          ((best.getField("bc") * length(best.getField("bg"))).cast("double") / joinedLen)
            .as("top_ngram_char_frac"),
          ((size(ws) - size(array_distinct(ws))).cast("double") /
            greatest(size(ws), lit(1)).cast("double")).as("dup_word_frac"))
      }), 1)
    }), 1)
    df.withColumn("__q", s)
      .withColumn("word_count", col("__q.word_count"))
      .withColumn("mean_word_len", col("__q.mean_word_len"))
      .withColumn("symbol_word_ratio", col("__q.symbol_word_ratio"))
      .withColumn("alpha_word_frac", col("__q.alpha_word_frac"))
      .withColumn("stopword_hits", col("__q.stopword_hits"))
      .withColumn("top_ngram", col("__q.top_ngram"))
      .withColumn("top_ngram_count", col("__q.top_ngram_count"))
      .withColumn("top_ngram_char_frac", col("__q.top_ngram_char_frac"))
      .withColumn("dup_word_frac", col("__q.dup_word_frac"))
      .drop("__q")
  }

  /** The Gopher keep/drop verdict over columns produced by the stats
    * above (published A1 thresholds; word-count bounds relaxed to
    * parameters so small test corpora can exercise both branches).
    */
  def gopherPasses(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3d, maxMeanWordLen: Double = 10d,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwordHits: Long = 2L, maxTopNgramFrac: Double = 0.2): Column =
    col("word_count").between(minWords, maxWords) &&
      col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
      col("symbol_word_ratio") <= maxSymbolRatio &&
      col("alpha_word_frac") >= minAlphaFrac &&
      col("stopword_hits") >= minStopwordHits &&
      col("top_ngram_char_frac") <= maxTopNgramFrac

  // ── PII / URL redaction ──────────────────────────────────────────────

  /** Redaction patterns, applied in this order — order matters: emails
    * before URLs (both contain dots), IPs before phones (an IPv4 is a
    * digit run the phone heuristic would otherwise eat). All patterns
    * are RE2-compatible (no backreferences/lookaround) so the DuckDB
    * oracle replays them verbatim.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^\\s]+", "<URL>"),
    ("ip", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+?\\d[\\d\\s().-]{7,}\\d", "<PHONE>"))

  /** Compression-ratio quality signal: `deflate(text).length /
    * text.utf8Length` (zlib DEFLATE, fixed level 6). Highly repetitive
    * machine-generated text compresses far below natural prose, so the
    * ratio is a standard cheap redundancy filter in pretraining curation
    * (used alongside the Gopher rules in the Dolma/RedPajama tooling
    * line). Empty/null text scores 1.0.
    *
    * A Scala UDF by necessity — Spark has no built-in DEFLATE expression
    * — so this one column breaks whole-stage codegen for its stage; the
    * pass is still narrow (no shuffle), and zlib at a fixed level is
    * deterministic, so the signal is bit-reproducible. Rows-only at the
    * driver gate (DuckDB cannot replay zlib); QualitySpec pins goldens.
    */
  val compressionRatio: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null || s.isEmpty) 1.0
      else {
        val in = s.getBytes("UTF-8")
        val d = new java.util.zip.Deflater(6, false)
        d.setInput(in); d.finish()
        val bos = new java.io.ByteArrayOutputStream(in.length / 2 + 32)
        val buf = new Array[Byte](4096)
        while (!d.finished()) {
          val n = d.deflate(buf)
          bos.write(buf, 0, n)
        }
        d.end()
        bos.size().toDouble / in.length
      }
    }

  /** Replace emails, URLs, IPv4s and phone-shaped digit runs with typed
    * placeholder tokens — the standard pre-training scrub. Pure chained
    * `regexp_replace`, codegen'd, no shuffle.
    */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (_, re, token)) =>
      regexp_replace(acc, re, token)
    }

  /** One detection flag column (pre-scrub) per pattern kind. */
  def piiFlag(text: Column, kind: String): Column = {
    val re = piiPatterns.collectFirst { case (`kind`, r, _) => r }
      .getOrElse(throw new IllegalArgumentException(s"unknown pii kind $kind"))
    text.rlike(re)
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2, the published
    * heuristics): a line survives iff, after trimming, it ends in a
    * terminal punctuation mark (`.`, `!`, `?`, `"`), has at least three
    * whitespace words, and does not contain "javascript" (case-folded).
    * Returns the document rebuilt from the surviving lines (newline-
    * joined). Pure array HOFs on the lambda variable — codegen'd, no
    * shuffle, no outer-expression re-evaluation.
    */
  def c4LineClean(text: Column): Column = {
    val kept = filter(transform(split(text, "\n"), l => trim(l)), t =>
      t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= 3 &&
        !lower(t).contains("javascript"))
    array_join(kept, "\n")
  }

  /** C4 document gate over the CLEANED text: keep documents with at
    * least `minLines` surviving lines and none of the published
    * page-level poison markers (`{` — code; "lorem ipsum" — boilerplate),
    * checked against the ORIGINAL text as C4 does.
    */
  def c4DocKeep(original: Column, cleaned: Column, minLines: Int = 3): Column =
    (size(filter(split(cleaned, "\n"), l => length(l) > 0)) >= minLines) &&
      !original.contains("{") &&
      !lower(original).contains("lorem ipsum")
}
