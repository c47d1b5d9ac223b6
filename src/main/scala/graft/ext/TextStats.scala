package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline (SURVEY.md §7.4):
  * language ID, quality scoring, token counting, corpus term frequencies,
  * document fingerprinting.
  *
  * All per-document derivations are pure codegen'd column expressions — no
  * UDFs, no shuffle; the only shuffles in this file are the term-frequency
  * groupBy (hash-partitioned on term, map-side combined) and a fixture-only
  * spread before the fingerprint's rolling pass. At 100 TB every operator
  * here scales linearly with input and needs no driver state.
  */
object TextStats {

  /** Minimal per-language stopword lists for the n-gram/stopword-ratio
    * language heuristic. Kept tiny and deterministic on purpose — the
    * operator shape (per-doc token scan vs K language profiles) is what
    * scales, not the list size.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "for", "on"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "los", "las"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "eine", "den", "von"))

  def terms(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(terms(text)).cast("long")

  /** BPE-ish token estimate: word-pieces of <=4 chars — ceil(len/4) summed
    * per word. A cheap, deterministic stand-in for subword tokenizers.
    */
  def bpeishTokenCount(text: Column): Column =
    aggregate(terms(text), lit(0L),
      (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long"))

  /** Regex token count: alpha runs, digit runs, or single non-space symbols
    * (the tokenizer-ish split). Pattern kept to constructs with identical
    * semantics across regex engines.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long")

  /** Fraction of tokens found in `lang`'s stopword list. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val set = stopwords(lang)
    size(filter(terms(text), w => w.isInCollection(set))).cast("double") /
      greatest(size(terms(text)), lit(1)).cast("double")
  }

  /** Language-ID heuristic: argmax of per-language stopword hit ratio;
    * `und` when no language clears `minRatio`. Deterministic tie-break:
    * higher ratio wins, then lexicographically smaller language code.
    *
    * Each language's ratio is computed ONCE: the per-language scores live
    * in a single array-of-structs and the argmax is one `array_max`
    * (struct ordering: ratio first, then negated language index — so ties
    * pick the lexicographically smallest code). The previous formulation
    * inlined every ratio tree twice (once under greatest(), once per
    * `when` branch), and per-call Origin stamping means CSE cannot be
    * trusted to dedupe those copies — at 4 languages that was harmless,
    * at 50 it would double the scan's work. `best` is one shared subtree
    * (same vals, same Origins), which CSE does collapse.
    */
  def langId(text: Column, minRatio: Double = 0.02): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = array(langs.zipWithIndex.map { case (l, i) =>
      struct(stopwordRatio(text, l).as("r"), lit(-i).as("ni"), lit(l).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("r") >= minRatio, best.getField("lang")).otherwise(lit("und"))
  }

  /** Per-document quality features + a composite score in [0,1]:
    * length saturation x type-token ratio. (Redaction pressure is
    * reported separately by [[withCleaned]]'s count columns — it is
    * deliberately NOT folded into this score.)
    */
  def withQuality(df: DataFrame, text: String = "text"): DataFrame = {
    val t = terms(col(text))
    val nTerms = size(t).cast("double")
    val nDistinct = size(array_distinct(t)).cast("double")
    val avgLen = aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      greatest(nTerms, lit(1.0))
    val ttr = nDistinct / greatest(nTerms, lit(1.0))
    val lenSat = least(nTerms / 100.0, lit(1.0))
    df.withColumn("n_terms", nTerms.cast("long"))
      .withColumn("n_distinct_terms", nDistinct.cast("long"))
      .withColumn("avg_term_len", round(avgLen, 6))
      .withColumn("type_token_ratio", round(ttr, 6))
      .withColumn("quality_score", round(lenSat * ttr, 6))
  }

  /** Rule-based document quality filter in the style of the Gopher rules
    * (Rae et al. 2021, table A1): hard keep/drop flags from cheap document
    * statistics, each rule reported separately so a curation pipeline can
    * audit WHICH rule fired before the AND-ed `keep` decision drops a doc.
    * Rules (adapted to a whitespace corpus): word count in [minWords,
    * maxWords], mean word length in [3, 10], max word length <= 20, and an
    * stopword hit ratio >= 0.02 in `stopwordLang` (the "contains common
    * function words" rule; pass None for a multilingual corpus — the flag
    * pins to 1 so `keep` stays the AND of all four flags). Pure per-row
    * column expressions — shuffle-free, linear, whole-stage-codegen'd;
    * every threshold compares exact int/int division so the flags replay
    * bit-identically cross-engine.
    */
  def withQualityRules(df: DataFrame, text: String = "text",
                       minWords: Int = 30, maxWords: Int = 1000,
                       stopwordLang: Option[String] = Some("en")): DataFrame = {
    val t = terms(col(text))
    val nTerms = size(t).cast("double")
    val meanLen = aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      greatest(nTerms, lit(1.0))
    val maxLen = array_max(transform(t, w => length(w)))
    val stopOk = stopwordLang
      .map(l => (stopwordRatio(col(text), l) >= 0.02).cast("long"))
      .getOrElse(lit(1L))
    df.withColumn("n_words", size(t).cast("long"))
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("max_word_len", maxLen.cast("long"))
      .withColumn("ok_n_words",
        (size(t) >= minWords && size(t) <= maxWords).cast("long"))
      .withColumn("ok_word_len", (meanLen >= 3.0 && meanLen <= 10.0).cast("long"))
      .withColumn("ok_max_len", (maxLen <= 20).cast("long"))
      .withColumn("ok_stopwords", stopOk)
      .withColumn("keep",
        (col("ok_n_words") === 1 && col("ok_word_len") === 1 &&
          col("ok_max_len") === 1 && col("ok_stopwords") === 1).cast("long"))
  }

  /** Corpus term frequencies: (term, tf, df). One shuffle, partial-agg'd. */
  def termFrequencies(df: DataFrame, text: String = "text", docId: String = "doc_id"): DataFrame =
    df.select(col(docId), explode(terms(col(text))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col(docId)).as("df"))

  /** URL pattern shared by the redaction and the count — kept to regex
    * constructs with identical semantics in Java regex and RE2 (no
    * backrefs, no lookaround), so DuckDB replays it exactly.
    */
  val urlPattern = "https?://[^\\s]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone numbers. A match must carry a structural phone marker — a
    * leading `+country`, a parenthesized area code, or hyphen-separated
    * digit groups — so bare digit runs ("20240115"), year lists
    * ("2020 2021 2022"), and ISO dates ("2023-01-15", group shapes 4-2-2)
    * never redact (they did before round 5; see ADVICE r4). The cost:
    * space-separated groups with no marker ("123 456 7890") are left
    * alone — indistinguishable by shape from numeric prose. Character
    * classes, bounded greedy quantifiers, and top-level alternation only;
    * both engines (Java regex, DuckDB RE2) scan leftmost-first, verified
    * identical on 15 adversarial cases (years, dates, IDs, intl formats).
    */
  val phonePattern =
    "\\+[0-9]{1,3}[- ]?\\(?[0-9]{2,4}\\)?[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}" +
      "|\\([0-9]{2,4}\\)[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}" +
      "|[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}"

  /** IPv4 dotted quads, octets 0-255, word-bounded on both sides so
    * version-like "1.2.3.4.5" runs and digit substrings of longer tokens
    * never redact. `\b` and bounded alternations only — no lookaround, so
    * Java regex and DuckDB's RE2 agree (RE2 has no lookbehind at all).
    */
  val ipPattern =
    "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}" +
      "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"

  /** Text cleaning / redaction for a training corpus: URLs, emails, phone
    * numbers and IPv4 addresses replaced with typed placeholders (URLs
    * first — they can embed `@` and digits; emails before phones so
    * digit-bearing local parts are already gone), whitespace runs
    * collapsed, edges trimmed; per-doc redaction counts (over the ORIGINAL
    * text) ride along for filtering/auditing. Pure codegen'd column
    * expressions — shuffle-free, linear, no driver state.
    *
    * Every match of a pattern contains a literal: `://` for [[urlPattern]],
    * `@` for [[emailPattern]], an ASCII digit for [[phonePattern]] and
    * [[ipPattern]]. Each replacement and each count runs only when the
    * ORIGINAL text contains its literal; otherwise the text passes through
    * and the count is 0, so a doc with no URL, email or digit pays two
    * substring checks and one digit scan instead of eight pattern scans.
    * Testing the original text is sound because no earlier placeholder
    * (`<URL>`, `<EMAIL>`, `<PHONE>`) adds an `@` or a digit. The guards
    * are `when(!has, ...)`: a null text makes the guard null and takes the
    * unguarded branch, so null gives exactly the unguarded values. Each guard is computed once
    * as a hidden column, and each replacement is its own projection — it
    * reads the previous text twice (guarded and passed through), which
    * keeps the optimizer from inlining the chain into one expression that
    * doubles at every step.
    */
  def withCleaned(df: DataFrame, text: String = "text"): DataFrame = {
    val t = col(text)
    val passes = Seq(
      ("n_urls", urlPattern, "<URL>", "__has_url"),
      ("n_emails", emailPattern, "<EMAIL>", "__has_at"),
      ("n_phones", phonePattern, "<PHONE>", "__has_digit"),
      ("n_ips", ipPattern, "<IP>", "__has_digit"))
    val guarded = df
      .withColumn("__has_url", t.contains("://"))
      .withColumn("__has_at", t.contains("@"))
      .withColumn("__has_digit", t.rlike("[0-9]"))
    val counted = passes.foldLeft(guarded) { case (d, (n, pattern, _, has)) =>
      d.withColumn(n, when(!col(has), lit(0L))
        .otherwise(size(regexp_extract_all(t, lit(pattern), lit(0))).cast("long")))
    }
    val redacted = passes.foldLeft(counted.withColumn("__redacted", t)) {
      case (d, (_, pattern, tag, has)) =>
        val prev = col("__redacted")
        d.withColumn("__redacted",
          when(!col(has), prev).otherwise(regexp_replace(prev, pattern, tag)))
    }
    redacted
      .withColumn("clean_text", trim(regexp_replace(col("__redacted"), "\\s+", " ")))
      .drop("__has_url", "__has_at", "__has_digit", "__redacted")
  }

  /** Top-k characteristic terms per document by TF-IDF
    * (idf = ln(N / df), smooth-free — every term present in the corpus has
    * df >= 1). Deterministic tie-break: higher tfidf, then lexicographic
    * term order.
    *
    * Scale shape: the corpus explodes to terms ONCE; document frequencies
    * derive from the per-doc term counts (tf is already one row per
    * (doc, term), so df is a count over tf — no second corpus scan, no
    * distinct over exploded terms), with tf lazily checkpointed so its
    * two consumers don't recompute the explode. Then one broadcast-able
    * join on term and a map-side WindowGroupLimit for the per-doc top-k.
    * The corpus size N is a one-row broadcast cross join, not a driver
    * collect.
    */
  def topTfidfTerms(df: DataFrame, k: Int = 3,
                    text: String = "text", docId: String = "doc_id"): DataFrame = {
    val terms = df.select(col(docId), explode(split(col(text), " ")).as("term"))
    // lazy: referenced by the join AND the df derivation; without the
    // checkpoint each consumer would re-run the explode + first agg
    val tf = terms.groupBy(docId, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(docId)
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col(docId), col("term"), col("tf"), col("df"), col("tfidf"), col("rk"))
  }

  /** Per-document negative log-likelihood under the corpus's OWN unigram
    * LM — the distributed form of perplexity-based quality filtering
    * (CCNet, Wenzek et al. 2020, with a unigram model in place of KenLM):
    * documents made of corpus-typical words score low, gibberish and
    * off-distribution text score high. Returns (docId, n_tokens,
    * nll_total) with nll_total = Σ round(-ln(tf_w / T), 6) over the doc's
    * tokens, re-rounded after the sum.
    *
    * Cross-engine exactness: each token's logprob is rounded to 6 decimals
    * BEFORE summing, so both engines sum the same multiples of 1e-6 — a
    * sum of such multiples can never sit on a rounding boundary, and the
    * final round snaps away summation-order ulps (the x25 ROUND(SUM)
    * rule). The mean is deliberately NOT emitted: sum/n CAN terminate
    * exactly on a boundary where a 1-ulp divergence flips the digit.
    *
    * Scale shape: one explode; the LM (term -> tf) is one partial-agg'd
    * shuffle over the same exploded frame (lazily checkpointed — two
    * consumers, one explode); T is a one-row broadcast; then a keyed join
    * and a per-doc partial-agg'd sum. No driver state, nothing all-pairs.
    */
  def unigramNll(df: DataFrame, text: String = "text", docId: String = "doc_id"): DataFrame = {
    val toks = df.select(col(docId), explode(terms(col(text))).as("term"))
      .localCheckpoint(false)
    val tf = toks.groupBy("term").agg(count(lit(1)).as("__tf"))
    val total = tf.agg(sum(col("__tf")).as("__T"))
    toks.join(tf, "term").crossJoin(broadcast(total))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(round(-log(col("__tf") / col("__T")), 6)), 6).as("nll_total"))
  }

  /** Per-source KL divergence from the whole-corpus unigram distribution —
    * the domain-shift diagnostic a mixing pipeline reads next to the x25
    * volume report: D(source ‖ corpus) = Σ_w p_s(w) · ln(p_s(w)/p_c(w)),
    * 0 for a source that looks like the corpus, growing as its vocabulary
    * usage diverges. Always finite: every source term has corpus support
    * by construction. Same round-before-sum discipline as [[unigramNll]].
    *
    * Scale shape: two partial-agg'd shuffles over one explode (per-source
    * term counts; corpus counts derived from them), a broadcast of the
    * per-source totals, one keyed join on term, one final partial-agg per
    * source. Vocabulary-sized frames everywhere after the first agg.
    */
  def sourceDivergence(df: DataFrame, source: String = "source",
                       text: String = "text"): DataFrame = {
    val st = df.select(col(source), explode(terms(col(text))).as("term"))
      .groupBy(col(source), col("term")).agg(count(lit(1)).as("__stf"))
      .localCheckpoint(false)
    val ct = st.groupBy("term").agg(sum(col("__stf")).as("__ctf"))
    val stot = st.groupBy(col(source)).agg(sum(col("__stf")).as("__sT"))
    val ctot = ct.agg(sum(col("__ctf")).as("__cT"))
    val ps = col("__stf") / col("__sT")
    val pc = col("__ctf") / col("__cT")
    st.join(ct, "term")
      .join(broadcast(stot), source)
      .crossJoin(broadcast(ctot))
      .groupBy(col(source))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(round(ps * log(ps / pc), 6)), 6).as("kl_divergence"))
  }

  /** Within-document repetition stats — the standard duplicate-n-gram
    * quality filter for a pretraining corpus (boilerplate, chat spam, and
    * template text repeat whole phrases; prose doesn't): the fraction of
    * word k-shingle OCCURRENCES that are repeats of an earlier shingle in
    * the same document. Shingles are 64-bit hashes
    * ([[graft.ext.Dedup.shingleHashesAll]]), so the fraction equals the
    * string-shingle fraction up to xxhash64 collisions. Pure per-row
    * column expressions — shuffle-free, linear; documents shorter than k
    * words have no shingles and score 0.
    */
  def withRepetition(df: DataFrame, text: String = "text", k: Int = 3): DataFrame = {
    val sh = Dedup.shingleHashesAll(col(text), k)
    val n = size(sh).cast("double")
    val nd = size(array_distinct(sh)).cast("double")
    df.withColumn("n_shingles", n.cast("long"))
      .withColumn("n_distinct_shingles", nd.cast("long"))
      .withColumn("dup_fraction",
        round(when(n === 0, 0.0).otherwise(lit(1.0) - nd / n), 6))
  }

  /** Lexical-diversity quality signals (the "fraction of unique words"
    * family of Gopher's rules — Rae et al. 2021 §A1.1): type-token ratio
    * and single-word dominance, with keep flags at TTR >= 0.4 and top-word
    * fraction <= 0.125. Low TTR / high dominance marks keyword-stuffed or
    * template-generated text that k-gram repetition ([[withRepetition]])
    * can miss when the repeats are non-adjacent single words.
    *
    * Shuffle-free by construction: the dominant word count is the longest
    * equal-run in the SORTED term array — an O(n log n) per-row fold, not
    * an explode + per-(doc, word) groupBy, so a 100 TB corpus never
    * shuffles its full token stream. All keep decisions are exact integer
    * cross-multiplications (types·ttrDen >= words·ttrNum — i.e. TTR >=
    * ttrNum/ttrDen — and top·domDiv <= words, i.e. dominance <= 1/domDiv)
    * — no float surface to drift cross-engine.
    */
  def withLexicalDiversity(df: DataFrame, text: String = "text",
                           ttrNum: Int = 2, ttrDen: Int = 5,
                           domDiv: Int = 8): DataFrame = {
    val t = terms(col(text))
    val sorted = array_sort(t)
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val top = aggregate(sorted, zero,
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.withColumn("n_words", size(t).cast("long"))
      .withColumn("n_types", size(array_distinct(t)).cast("long"))
      .withColumn("top_word_count", top)
      .withColumn("ok_ttr",
        (col("n_types") * ttrDen >= col("n_words") * ttrNum).cast("long"))
      .withColumn("ok_dominance",
        (col("top_word_count") * domDiv <= col("n_words")).cast("long"))
      .withColumn("keep", (col("ok_ttr") === 1 && col("ok_dominance") === 1).cast("long"))
  }

  /** Rolling-hash document fingerprint (winnowing-lite): min/max xxhash64
    * over character k-grams of the normalized text, plus a full-text hash.
    * Shuffle-free; content-defined so reordered copies of the same k-grams
    * collide.
    *
    * The k-gram min/max is a custom codegen'd rolling expression
    * ([[graft.functions.KgramHashMinMax]]): the builtin
    * `transform(sequence(...))` formulation is a per-character interpreted
    * loop that was the single slowest query in the bench (~13 s for 5k
    * docs); the rolling pass is value-identical and allocation-free.
    */
  def withFingerprint(df: DataFrame, text: String = "text", k: Int = 9): DataFrame = {
    val norm = lower(regexp_replace(col(text), "\\s+", " "))
    // the rolling k-gram pass is the heaviest per-row expression in this
    // file — a single-split fixture scan serializes it (measured ~2.5x on
    // the sf0.1 bench), so spread first
    Dedup.spread(df).withColumn("__mm", graft.functions.KgramHashMinMax(norm, k))
      .withColumn("fp_min", col("__mm").getItem(0))
      .withColumn("fp_max", col("__mm").getItem(1))
      .withColumn("fp_full", xxhash64(norm))
      .drop("__mm")
  }

  /** Corpus-frequent span mining (boilerplate detection) via a count-min
    * sketch prefilter — the heavy-hitter shape of [[graft.ext.Dedup
    * .duplicatedSpans]]'s counting stage: find every word k-gram occurring
    * at least `minCount` times anywhere in the corpus, EXACTLY, without
    * shuffling the full span key space.
    *
    * Two passes over the exploded spans: (1) `count_min_sketch` builds ONE
    * bounded sketch (width·depth counters; partial sketches merge up the
    * agg tree — nothing keyed ever shuffles) over the 64-bit span hashes;
    * (2) a map-only [[graft.functions.CmsEstimate]] probe keeps only span
    * occurrences whose estimate reaches `minCount`, and an exact count over
    * the SURVIVORS (joined back to their word slices, grouped by the actual
    * span STRING) confirms. The composition is exact, not approximate: a
    * CMS estimate is never below the true count, so every occurrence of a
    * truly-frequent span survives the prefilter (same hash ⇒ same
    * estimate), and the final `HAVING count >= minCount` on exact counts
    * discards every false candidate the sketch let through — whatever the
    * sketch quality. Hash-fold collisions between DIFFERENT strings only
    * ever ADD candidates (the final group key is the string), so the
    * output equals a full exact count at any eps/confidence.
    *
    * Scale shape: at 100 TB the span key space is ~corpus-sized and a full
    * count groupBy shuffles all of it (x29 pays this because it needs
    * EVERY duplicated span); when only the frequent head is wanted — the
    * boilerplate/template case — the shuffled volume drops to the
    * survivors (εN-bounded overcount above the true head). Sketch memory
    * is the (eps, confidence) grid, independent of data size.
    */
  def frequentSpans(df: DataFrame, k: Int = 3, minCount: Long = 5,
                    eps: Double = 1e-4, confidence: Double = 0.99,
                    text: String = "text", id: String = "doc_id"): DataFrame = {
    val spans = Dedup.spread(df)
      .select(col(id), posexplode(Dedup.shingleHashesAll(col(text), k))
        .as(Seq("__p0", "__h")))
    val sketch = graft.functions.CmsEstimate.sketchOf(spans, col("__h"), eps, confidence)
    val cand = spans
      .where(graft.functions.CmsEstimate(sketch, col("__h")) >= minCount)
    cand.join(df.select(col(id), split(col(text), " ").as("__ws")), Seq(id))
      .select(col(id),
        array_join(slice(col("__ws"), col("__p0") + 1, lit(k)), " ").as("span"))
      .groupBy("span")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(id)).as("n_docs"))
      .where(col("n_occurrences") >= minCount)
  }

  /** Cross-document boilerplate REMOVAL — the stripping counterpart of
    * [[frequentSpans]] (which only REPORTS the frequent head): any word
    * k-gram appearing in at least `minDocs` DISTINCT documents is treated
    * as template text (navigation chrome, license banners, share buttons —
    * the CCNet/RefinedWeb line-dedup signal at span granularity) and every
    * word it covers is cut from each document. Distinct-doc counting is
    * what separates boilerplate from [[Dedup.duplicatedSpans]]' exact-
    * substring dedup: a phrase a single document repeats ten times is
    * repetition (x22's signal), not boilerplate, and survives here.
    *
    * Returns one row per input doc: (id, n_words, n_boiler_spans,
    * n_covered, clean_text) with word order preserved in `clean_text`.
    *
    * Scale shape: the occurrence-count CMS prefilters the span stream
    * before the expensive distinct-doc groupBy — occurrences upper-bound
    * distinct docs, so no boilerplate span can be lost (one-sided error,
    * the x40 argument), and the exact `countDistinct` on the survivors
    * discards every false candidate, making the composition exact at any
    * sketch quality. The shuffled volume is the frequent head + εN
    * overcount, not the corpus-sized span key space; coverage mask and
    * text rebuild are bounded per-row array expressions (the x29
    * machinery). Nothing all-pairs, nothing driver-side beyond the
    * fixed-size sketch.
    */
  /** The CMS-prefiltered candidate occurrence stream behind
    * [[removeBoilerplate]] — every (doc, position, hash) whose estimate
    * reaches `minDocs`. Exposed separately so the probe stage's plan (the
    * map-only `cms_estimate` filter) stays assertable after
    * removeBoilerplate checkpoints it.
    */
  private[graft] def boilerplateCandidates(df: DataFrame, k: Int = 3, minDocs: Long = 5,
                                           eps: Double = 1e-4, confidence: Double = 0.99,
                                           text: String = "text", id: String = "doc_id"): DataFrame = {
    val exploded = Dedup.spread(df)
      .select(col(id), posexplode(Dedup.shingleHashesAll(col(text), k))
        .as(Seq("__p0", "__h")))
      .select(col(id), (col("__p0") + 1).as("__pos"), col("__h"))
    val sketch = graft.functions.CmsEstimate.sketchOf(exploded, col("__h"), eps, confidence)
    exploded.where(graft.functions.CmsEstimate(sketch, col("__h")) >= minDocs)
  }

  def removeBoilerplate(df: DataFrame, k: Int = 3, minDocs: Long = 5,
                        eps: Double = 1e-4, confidence: Double = 0.99,
                        text: String = "text", id: String = "doc_id"): DataFrame = {
    // lazily checkpointed: cand feeds BOTH the distinct-doc confirm and
    // the position semi-join below — without the cut each consumer would
    // re-run the explode + CMS probe, making the corpus explode three
    // times instead of the two the scale note promises. The checkpoint
    // materializes only the frequent head + the eps*N overcount.
    val cand = boilerplateCandidates(df, k, minDocs, eps, confidence, text, id)
      .localCheckpoint(false)
    val boiler = cand.groupBy(col("__h"))
      .agg(countDistinct(col(id)).as("__nd")).where(col("__nd") >= minDocs)
    // probe CAND, not exploded: cand is a superset of every boilerplate
    // occurrence (same hash => same CMS estimate), so the semi-join is
    // exact while the corpus explodes only twice (sketch pass + probe
    // pass), not three times
    // sort_array: collect_list order is partition-dependent, the output isn't
    val hitPos = cand.join(boiler, Seq("__h"), "left_semi")
      .groupBy(col(id)).agg(sort_array(collect_list(col("__pos"))).as("__bp"))
    // split hoisted out of the rebuild lambda — see Dedup.duplicatedSpans:
    // inside `transform` it would re-split the document per element,
    // O(words^2) chars per doc
    val ws = col("__ws")
    val n = size(ws)
    val bp = coalesce(col("__bp"), array().cast("array<int>"))
    val cov = array_distinct(flatten(transform(bp, p => sequence(p, p + (k - 1)))))
    df.withColumn("__ws", split(col(text), " "))
      .join(hitPos, Seq(id), "left")
      .select(col(id),
        n.cast("long").as("n_words"),
        size(bp).cast("long").as("n_boiler_spans"),
        size(cov).cast("long").as("n_covered"),
        array_join(
          transform(array_except(sequence(lit(1), n), cov), j => element_at(ws, j)),
          " ").as("clean_text"))
  }

  /** Naive-Bayes source classification — the domain-tagging stage of a
    * curation pipeline (the role CCNet/fastText domain filters play):
    * score every document against every source's Laplace-smoothed unigram
    * LM, predict `argmax_s [ log P(s) + Σ_w tf_w · log P(w|s) ]`, ties
    * broken toward the lexicographically smaller source.
    *
    * Scale shape: the per-(source, term) model is a vocabulary-sized frame
    * joined by TERM key (never collected); the candidate blow-up is ×
    * nSources — a small bounded dimension, broadcast; scoring is one
    * partial-aggregable groupBy per (doc, candidate); the final argmax is a
    * per-doc `row_number` window (hash-partitioned by doc). Float
    * discipline follows [[unigramNll]]: per-term log-probs are rounded to
    * 6 decimals BEFORE the sum and the total re-rounded, so the score —
    * and therefore the argmax — is reproducible cross-engine.
    *
    * Output: one row per doc with at least one term — `doc_id,
    * true_source, predicted_source, score, is_correct`. Docs whose `text`
    * is NULL (or splits to no terms) are excluded, the same exclusion the
    * DuckDB oracle's `unnest(string_split(...))` applies.
    */
  def classifySource(df: DataFrame, source: String = "source",
                     text: String = "text", docId: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the ONLY corpus tokenize/explode in the operator: the per-(source,
    // term) model counts below re-aggregate these per-doc counts instead
    // of exploding the corpus a second time (lazily checkpointed — the
    // frame feeds both the model fit and the scoring join)
    val toks = df
      .select(col(docId), col(source).as("true_source"),
        explode(terms(col(text))).as("term"))
      .groupBy(col(docId), col("true_source"), col("term"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false)
    val st = toks.groupBy(col("true_source"), col("term"))
      .agg(sum(col("__tf")).as("__cnt"))
      .select(col("true_source").as(source), col("term"), col("__cnt"))
    val stR = st.select(col(source).as("cand_source"), col("term"), col("__cnt"))
    val stot = st.groupBy(col(source)).agg(sum(col("__cnt")).as("__sT"))
      .select(col(source).as("cand_source"), col("__sT"))
    val vocab = st.select("term").distinct().agg(count(lit(1)).as("__V"))
    val priors = df.groupBy(col(source)).agg(count(lit(1)).as("__nd"))
      .select(col(source).as("cand_source"), col("__nd"))
    val ndTot = df.agg(count(lit(1)).as("__n"))
    // exactly one row per source already — no extra corpus scan/distinct
    val sources = priors.select("cand_source")

    val scored = toks.crossJoin(broadcast(sources))
      .join(stR, Seq("cand_source", "term"), "left")
      .join(broadcast(stot), "cand_source")
      .crossJoin(broadcast(vocab))
      .groupBy(col(docId), col("true_source"), col("cand_source"))
      .agg(sum(col("__tf") *
        round(log((coalesce(col("__cnt"), lit(0L)) + 1.0) /
          (col("__sT") + col("__V"))), 6)).as("__sTerms"))
    val fin = scored.join(broadcast(priors), "cand_source")
      .crossJoin(broadcast(ndTot))
      .withColumn("score",
        round(col("__sTerms") + round(log(col("__nd") / col("__n")), 6), 6))
    val w = Window.partitionBy(col(docId))
      .orderBy(col("score").desc, col("cand_source").asc)
    fin.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col(docId), col("true_source"),
        col("cand_source").as("predicted_source"), col("score"),
        (col("cand_source") === col("true_source")).cast("long").as("is_correct"))
  }
}
