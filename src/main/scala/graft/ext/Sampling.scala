package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling / data-mixing operators for a training-data
  * pipeline (SURVEY.md §7.4 adjacents): hash-based sampling, per-stratum
  * rates, and train/val/test splits.
  *
  * Why not `df.sample()`: Spark's sampler draws per-partition, so the
  * selected ROWS change with partition layout, AQE decisions, and cluster
  * size — a re-run of the same pipeline on different hardware samples a
  * different corpus. Everything here keys off a deterministic per-row hash
  * (`md5`, identical across engines and runs), making samples and splits
  * reproducible, partition-independent, and joinable across pipeline
  * stages (the same doc always lands in the same split).
  *
  * Scale shape: all pure codegen'd column expressions — no shuffle, no
  * driver state, linear scans. The md5 is computed once per row and
  * compared against literal thresholds.
  */
object Sampling {

  /** Deterministic uniform [0,1) from a key: the first 8 hex chars of
    * `md5(key || "|" || salt)` as a 32-bit integer over 2^32. Changing
    * `salt` yields an independent reusable stream (e.g. one for sampling,
    * one for splitting) without correlation between the two decisions.
    * The "|" delimiter keeps (key, salt) unambiguous — without it
    * ("1","2x") and ("12","x") would hash identically. Any DuckDB oracle
    * must replay the same concatenation, delimiter included.
    */
  def hashUnit(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(key.cast("string"), lit("|" + salt))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Per-stratum sampling rates (data mixing): keep a row of stratum s
    * with probability `rates(s)` (else `defaultRate`). The rate table is
    * a literal when-chain — strata counts are small by definition, so the
    * whole decision stays inside whole-stage codegen with no join.
    */
  def sampleStratified(df: DataFrame, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       key: String, salt: String = ""): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.where(hashUnit(col(key), salt) < rate)
  }

  /** Per-group document cap — the domain-domination control every
    * web-scale pipeline applies (at most `cap` docs per source/domain, so
    * one crawler-friendly site cannot dominate the mix). Which docs
    * survive is decided by [[hashUnit]] order (ties by key), NOT arrival
    * order: deterministic, partition-layout independent, and an unbiased
    * uniform sample of each group — the same reproducibility contract as
    * [[sampleStratified]], but with a hard COUNT guarantee per group
    * (rate-based sampling can only bound the expectation).
    *
    * Scale shape: one hash-partitioned `row_number` window per group;
    * because the predicate is `rk <= cap`, Spark's WindowGroupLimit
    * inserts a MAP-SIDE partial top-`cap` before the exchange, so the
    * shuffle carries at most cap rows per group per input task — a
    * dominant domain never concentrates its full row set anywhere.
    */
  def capPerGroup(df: DataFrame, group: String, cap: Int, key: String,
                  salt: String = "cap"): DataFrame = {
    df.withColumn("__u", hashUnit(col(key), salt))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(group)).orderBy(col("__u"), col(key))))
      .where(col("__rk") <= cap)
      .drop("__u", "__rk")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006):
    * exactly `n` survivors, selection distribution identical to drawing
    * rows one at a time with probability proportional to remaining
    * weight — the quality-weighted subsample every curation recipe wants
    * ("keep 1M docs, prefer high-score ones") that per-row rate sampling
    * ([[sampleStratified]]) can only approximate in expectation and a
    * hard cap ([[capPerGroup]]) ignores weights for.
    *
    * A row's priority is u^(1/w) with u the deterministic [[hashUnit]]
    * uniform; the n largest priorities win (the E-S one-pass theorem).
    * Implemented as the monotone-equivalent `ln(u)/w` so tiny weights
    * cannot underflow the power. Deterministic, partition-layout
    * independent, and cross-engine replayable like every hashUnit
    * decision (the oracle replays md5 -> ln -> divide verbatim; ln is
    * sub-ulp across engines and the md5 uniforms make a boundary tie
    * astronomically unlikely). Rows with weight <= 0 or null carry no
    * mass and are excluded up front; a u of exactly 0 (one md5 prefix in
    * 2^32) yields priority -Inf — "never selected", identically in both
    * engines.
    *
    * Scale shape: `orderBy(priority).limit(n)` is TakeOrderedAndProject
    * (PlanSpec pins it) — each task keeps its local top-n and one n-row
    * reduction finishes the job; NO global sort, no window, no shuffle
    * of the corpus. The 100-TB cost is one scan plus n rows of driver
    * traffic.
    */
  def sampleWeighted(df: DataFrame, n: Int, weight: Column, key: String,
                     salt: String = "es"): DataFrame = {
    require(n > 0, s"sampleWeighted needs n > 0, got $n")
    df.where(weight.isNotNull && weight > 0)
      .withColumn("__pri", log(hashUnit(col(key), salt)) / weight)
      .orderBy(col("__pri").desc, col(key).asc)
      .limit(n)
      .drop("__pri")
  }

  /** Per-group [[sampleWeighted]]: at most `n` rows per group, selection
    * within each group weighted E-S — [[capPerGroup]]'s
    * domain-domination guarantee, but which rows survive the cap favors
    * weight (quality score, token count) instead of being uniform. Same
    * priority stream as [[sampleWeighted]], so composing the two (global
    * budget after per-source cap) reuses one decision per row.
    *
    * Scale shape: identical to [[capPerGroup]] — the `rk <= n` predicate
    * lets Spark insert a MAP-SIDE WindowGroupLimit before the exchange
    * (PlanSpec pins it), so the shuffle carries at most n rows per group
    * per input task; a dominant domain never concentrates anywhere.
    */
  def sampleWeightedPerGroup(df: DataFrame, group: String, n: Int,
                             weight: Column, key: String,
                             salt: String = "es"): DataFrame = {
    require(n > 0, s"sampleWeightedPerGroup needs n > 0, got $n")
    df.where(weight.isNotNull && weight > 0)
      .withColumn("__pri", log(hashUnit(col(key), salt)) / weight)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(group)).orderBy(col("__pri").desc, col(key).asc)))
      .where(col("__rk") <= n)
      .drop("__pri", "__rk")
  }

  /** Proportional token-budget corpus mixing: downsample every stratum
    * (source) to an EXPECTED `budgetTokens` tokens by keeping each row
    * with probability `min(budgetTokens / stratumTokens, 1.0)` — data
    * mixing by token mass, not document count, which is what an LLM
    * training mix actually specifies.
    *
    * Scale shape: one partial-agg'd groupBy for per-stratum token totals
    * (a handful of rows), broadcast back, then a shuffle-free
    * hash-threshold filter — no per-stratum ordering or window, so no
    * single-task sequential scan per source (the exact-cutoff variant
    * needs a per-stratum cumsum window; at corpus scale the expected-
    * budget form is the right trade and keeps every property of
    * [[hashUnit]] sampling: deterministic, partition-independent,
    * replayable cross-engine).
    */
  def sampleByTokenBudget(df: DataFrame, strataCol: String, tokens: Column,
                          budgetTokens: Double, key: String,
                          salt: String = "budget"): DataFrame = {
    val totals = df.groupBy(col(strataCol))
      .agg(sum(tokens).as("__stratum_tokens"))
    df.withColumn("n_tokens", tokens.cast("long"))
      .join(broadcast(totals), strataCol)
      .where(hashUnit(col(key), salt) <
        least(lit(budgetTokens) / col("__stratum_tokens"), lit(1.0)))
      .drop("__stratum_tokens")
  }

  /** Exact-cutoff token-budget mixing: the hard-cap counterpart of
    * [[sampleByTokenBudget]] for when the budget is CONTRACTUAL, not a
    * target. Rows of each stratum are ranked by their deterministic
    * [[hashUnit]] draw (key as tie-break, so the order is total) and kept
    * while the inclusive running token total stays <= budgetTokens — the
    * selection can never exceed the budget.
    *
    * Scale shape — a TWO-PHASE prefix sum, not one window per stratum:
    * the draw u is bucketed by its own VALUE RANGE (`floor(u * B)`), so
    * bucket b's rows all rank before bucket b+1's and the per-(stratum,
    * bucket) local cumsum + a running bucket-total offset reproduce the
    * global cumsum EXACTLY (integer arithmetic, u = k/2^32 so u*B is an
    * exact double). Per-stratum parallelism is therefore B (the session's
    * parallelism), not 1 — a single giant source no longer serializes
    * into one sort task, which was this operator's one named scale
    * caveat. The offset stitch is a tiny per-stratum window over B rows,
    * and the offsets join back on (stratum, bucket), a partitioning the
    * event side already carries from the local window. Like every
    * [[hashUnit]] decision the selected set AND cum_tokens are
    * partition-independent, identical for any B, and replayable
    * cross-engine (the x23b oracle replays the single-window SQL form).
    * Returns (input columns) + n_tokens + cum_tokens.
    */
  def sampleByTokenBudgetExact(df: DataFrame, strataCol: String, tokens: Column,
                               budgetTokens: Double, key: String,
                               salt: String = "budget"): DataFrame = {
    val buckets = df.sparkSession.sparkContext.defaultParallelism
    val u = hashUnit(col(key), salt)
    // u < 1 guarantees floor(u*B) <= B-1; least() guards the u == 1.0
    // corner that a future hashUnit change could introduce
    val bkt = least(floor(u * buckets), lit(buckets - 1)).cast("int")
    // explicit ROWS frame: the default RANGE frame would sum hash-value
    // peers together, and the (hash, key) order makes rows unambiguous
    val wLocal = Window.partitionBy(col(strataCol), col("__bkt"))
      .orderBy(u, col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = df.withColumn("n_tokens", tokens.cast("long"))
      .withColumn("__bkt", bkt)
      .withColumn("__local_cum", sum(col("n_tokens")).over(wLocal))
    val wOff = Window.partitionBy(col(strataCol)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(strataCol), col("__bkt"))
      .agg(sum(col("n_tokens")).as("__bkt_tokens"))
      .withColumn("__offset", coalesce(sum(col("__bkt_tokens")).over(wOff), lit(0L)))
      .select(col(strataCol), col("__bkt"), col("__offset"))
    val outCols = ((df.columns.toSeq :+ "n_tokens").distinct :+ "cum_tokens").map(col)
    local.join(offsets, Seq(strataCol, "__bkt"))
      .withColumn("cum_tokens", col("__offset") + col("__local_cum"))
      .where(col("cum_tokens") <= budgetTokens)
      .select(outCols: _*)
  }

  /** Epoch-aware UP-sampling to a per-stratum token budget — the missing
    * half of [[sampleByTokenBudget]]: a training mix often asks for MORE
    * tokens from a small high-quality source than it physically has, which
    * every real recipe answers by repeating the source for multiple epochs
    * (The Pile's per-set epoch counts, Llama's Wikipedia/Books upsampling).
    * With f = budgetTokens / stratumTokens, every doc is emitted
    * `floor(f)` times and one more time iff its deterministic [[hashUnit]]
    * draw falls below `frac(f)` — so each stratum's expected emitted token
    * mass is exactly `budgetTokens` whether f is above or below 1 (f <= 1
    * degenerates to [[sampleByTokenBudget]]'s keep-with-probability-f).
    * The `epoch` column (0-based repeat index) lets the trainer interleave
    * copies instead of streaming them back-to-back.
    *
    * Scale shape: identical to [[sampleByTokenBudget]] — one partial-agg'd
    * groupBy for stratum totals, broadcast back, then a shuffle-free
    * per-row `explode(sequence(...))` whose fan-out is the (bounded,
    * recipe-chosen) epoch count. All IEEE ops (one division, `floor`, one
    * subtraction, one compare) are exact or correctly rounded, so the
    * emitted multiset replays bit-identically cross-engine.
    * Returns (input columns) + n_tokens + epoch.
    */
  def upsampleToBudget(df: DataFrame, strataCol: String, tokens: Column,
                       budgetTokens: Double, key: String,
                       salt: String = "budget", maxEpochs: Long = 1000L): DataFrame = {
    // the post-guard cast to int is only safe if the guard itself is
    // int-ranged: a maxEpochs above Int.MaxValue would re-open the exact
    // silent wrap-and-drop hole the guard exists to close
    require(maxEpochs > 0 && maxEpochs <= Int.MaxValue,
      s"maxEpochs must be in (0, ${Int.MaxValue}], got $maxEpochs")
    // the output appends `epoch` (and internally `__copies`,
    // `__stratum_tokens`): an input that already carries one of those
    // names would be silently shadowed by withColumn — fail loudly, like
    // the n_tokens dedup in the output projection handles n_tokens
    for (reserved <- Seq("epoch", "__copies", "__stratum_tokens"))
      require(!df.columns.contains(reserved),
        s"upsampleToBudget: input already has a '$reserved' column — rename it first")
    val totals = df.groupBy(col(strataCol))
      .agg(sum(tokens).as("__stratum_tokens"))
    val f = lit(budgetTokens) / col("__stratum_tokens")
    // a zero-token stratum would make f infinite and the epoch sequence
    // astronomically long — emit nothing for it (matching the oracle,
    // where x/0 is NULL and NULL copy counts generate no rows). The count
    // stays LONG until after the maxEpochs check: casting first would
    // silently int-wrap a huge f (e.g. budget 1e10 over a 3-token stratum
    // -> floor(f) ~ 3.3e9 wraps negative) and drop exactly the stratum
    // that most needed upsampling; an absurd recipe must fail loudly.
    // null keys emit NOTHING, explicitly: the guaranteed floor(f) copies
    // don't consult the hash draw, so without this a null-key row would
    // still emit them (the fractional `when`'s null condition just falls
    // to otherwise(0)) — while every sibling sampler drops null keys
    val copiesL = when(col(key).isNull || col("__stratum_tokens") <= 0, lit(0L))
      .otherwise(floor(f) +
        when(hashUnit(col(key), salt) < f - floor(f), 1).otherwise(0))
    val copies = when(copiesL <= lit(maxEpochs), copiesL.cast("int"))
      .otherwise(raise_error(concat(
        lit("upsampleToBudget: copy count "), copiesL,
        lit(s" exceeds maxEpochs=$maxEpochs for stratum "), col(strataCol),
        lit(" — raise maxEpochs if the recipe really repeats a source this often"))))
    val outCols = ((df.columns.toSeq :+ "n_tokens").distinct :+ "epoch").map(col)
    df.withColumn("n_tokens", tokens.cast("long"))
      .join(broadcast(totals), strataCol)
      .withColumn("__copies", copies)
      // sequence(0, -1) would DESCEND, not empty out — guard the 0-copy case
      .where(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("__copies") - 1)))
      .select(outCols: _*)
  }

  /** Temperature-based domain mixing: downsample each stratum so effective
    * token mass goes as (stratum mass)^alpha — the standard multilingual /
    * multi-source rebalancing (alpha = 1 keeps natural proportions,
    * alpha -> 0 equalizes strata). The smallest stratum keeps everything;
    * stratum s keeps rate (min_tokens / tokens_s)^(1-alpha), decided per
    * row by the deterministic [[hashUnit]] draw.
    *
    * Reproducibility: for the default alpha = 0.5 the rate is computed
    * with `sqrt`, which IEEE 754 requires to be correctly rounded — the
    * rate is bit-identical in every engine, so the selected row SET
    * replays exactly (the basis of the DuckDB oracle). Other alphas go
    * through `pow`, which is NOT correctly-rounded-guaranteed; a
    * last-ulp divergence can only flip a row whose 32-bit hash draw sits
    * within that ulp of the rate, but cross-engine replay is then
    * near-exact instead of exact.
    *
    * Scale shape: same as [[sampleByTokenBudget]] — one partial-agg'd
    * groupBy to a handful of stratum totals, a global min over that tiny
    * frame, broadcast back, then a shuffle-free hash-threshold filter.
    */
  def sampleByTemperature(df: DataFrame, strataCol: String, tokens: Column,
                          alpha: Double = 0.5, key: String,
                          salt: String = "temp"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val totals = df.groupBy(col(strataCol)).agg(sum(tokens).as("__stratum_tokens"))
    val minTok = totals.agg(min(col("__stratum_tokens")).as("__min_tokens"))
    val ratio = col("__min_tokens").cast("double") / col("__stratum_tokens").cast("double")
    val rate =
      if (alpha == 0.5) sqrt(ratio)
      else if (alpha == 1.0) lit(1.0)
      else pow(ratio, 1.0 - alpha)
    df.withColumn("n_tokens", tokens.cast("long"))
      .join(broadcast(totals), strataCol)
      .crossJoin(broadcast(minTok))
      // the published rate is EXACTLY the value the filter compares, so a
      // consumer replaying the selection from keep_rate reconstructs the
      // same row set (a rounded display value diverged ~1 in 2e6 draws);
      // the harness comparator rounds floats at hash time, and both
      // engines produce the identical double (sqrt is correctly rounded)
      .withColumn("keep_rate", rate)
      .where(hashUnit(col(key), salt) < rate)
      .drop("__stratum_tokens", "__min_tokens")
  }

  /** Deterministic train/val/test split label per row: hash in [0,
    * trainFrac) -> train, [trainFrac, trainFrac+valFrac) -> val, rest ->
    * test. A document keeps its split across re-runs and clusters — the
    * property that prevents train/test leakage when pipelines re-execute.
    */
  def withSplit(df: DataFrame, key: String, trainFrac: Double,
                valFrac: Double, salt: String = "split"): DataFrame = {
    // the one operator whose purpose is leakage-safety must not accept a
    // configuration that silently empties the test (or val) split
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      s"invalid split fractions: train=$trainFrac val=$valFrac (must be >= 0, sum <= 1)")
    val u = hashUnit(col(key), salt)
    df.withColumn("split",
      when(u < trainFrac, "train")
        .when(u < trainFrac + valFrac, "val")
        .otherwise("test"))
  }

  /** Dataset-release card: the manifest published WITH a dataset — one row
    * per (split, source) carrying doc/token mass, the id range, and an
    * order-independent content checksum (bit-XOR of a 32-bit md5 prefix of
    * each text), so a consumer can verify a download and a re-release can
    * prove which cells changed without shipping the data twice. XOR makes
    * the checksum partition- and order-independent (commutative), and the
    * md5 basis keeps it replayable by any engine — the same discipline as
    * the [[hashUnit]] family. The 32-bit prefix is the cross-engine-replay
    * width (the widest md5 slice every oracle engine can parse as a
    * signed BIGINT without sign surprises); it detects any single-doc
    * change deterministically (spec-pinned) while an adversarial or
    * coincidental multi-doc cancellation needs ~2^16 same-cell edits —
    * for a tamper-evident (not tamper-proof) release manifest, swap in
    * xxhash64 and give up the SQL replay.
    *
    * Scale shape: one partial-agg'd groupBy over a handful of
    * (split, source) cells — count/sum/xor/min/max all map-side combine;
    * nothing driver-side, nothing ordered.
    */
  def datasetCard(df: DataFrame, key: String = "doc_id",
                  text: String = "text", source: String = "source",
                  trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame =
    withSplit(df, key, trainFrac, valFrac)
      .withColumn("__h",
        conv(substring(md5(col(text)), 1, 8), 16, 10).cast("long"))
      .groupBy(col("split"), col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col(text), " "))).cast("long").as("n_tokens"),
        expr("bit_xor(__h)").as("checksum"),
        min(col(key)).as("min_id"),
        max(col(key)).as("max_id"))

  /** Mergeable per-batch corpus statistics — [[datasetCard]]'s
    * incremental face. The card above rescans the corpus per refresh;
    * at 100 TB the stats must be a STORED column that new batches append
    * to and reads merge: counts/token mass are sums, and distinct-key
    * cardinality rides a Datasketches HLL sketch (`hll_sketch_agg`),
    * whose bytes are parquet-persistable and union-mergeable
    * (`hll_union_agg`) without touching the documents again — the same
    * mergeable-state discipline as the x39 bloom and x55 GK sketches.
    * One row per (split, source) per batch; a batch's row costs one scan
    * of THAT batch only.
    */
  def sketchStats(df: DataFrame, key: String = "doc_id",
                  text: String = "text", source: String = "source",
                  trainFrac: Double = 0.8, valFrac: Double = 0.1,
                  lgK: Int = 12): DataFrame =
    withSplit(df, key, trainFrac, valFrac)
      .groupBy(col("split"), col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col(text), " "))).cast("long").as("n_tokens"),
        hll_sketch_agg(col(key), lit(lgK)).as("key_sketch"))

  /** Merge accumulated [[sketchStats]] rows into the current card: exact
    * sums for the additive stats, union-merged HLL estimate for distinct
    * keys. Reads ONLY the stats table — never the corpus.
    */
  def sketchCard(stats: DataFrame, source: String = "source"): DataFrame =
    stats.groupBy(col("split"), col(source))
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        hll_sketch_estimate(hll_union_agg(col("key_sketch"))).as("distinct_est"))

  /** The x55-style exactness audit of [[sketchCard]]: recompute the
    * distinct counts and token mass exactly from the corpus and emit
    * 0/1 flags — `distinct_ok` checks the HLL estimate against the
    * published Datasketches bound (relative standard error
    * 1.04/sqrt(2^lgK); the gate allows 3 RSE plus one row of slack, a
    * >99.7% interval, and the estimate is EXACT below the sparse-mode
    * threshold anyway). A red flag means the sketch pipeline (params,
    * serialization, merge) broke — the bound is a theorem, like the GK
    * rank audit. The additive stats must match exactly (`count_ok`,
    * `tokens_ok`): they are sums, not sketches.
    */
  def sketchCardAudit(stats: DataFrame, corpus: DataFrame,
                      key: String = "doc_id", text: String = "text",
                      source: String = "source", trainFrac: Double = 0.8,
                      valFrac: Double = 0.1, lgK: Int = 12): DataFrame = {
    val card = sketchCard(stats, source)
    val exact = withSplit(corpus, key, trainFrac, valFrac)
      .groupBy(col("split"), col(source))
      .agg(countDistinct(col(key)).as("__exact_distinct"),
        count(lit(1)).as("__exact_n"),
        sum(size(split(col(text), " "))).cast("long").as("__exact_tokens"))
    val rse = 1.04 / math.sqrt(math.pow(2.0, lgK))
    // FULL OUTER on the cell key: an inner join would silently DROP a
    // (split, source) cell wholly absent from the stats table — the one
    // failure mode (an entire batch never recorded) an audit exists to
    // catch. A one-sided cell now surfaces as a row with every flag 0
    // (null comparisons flag red, never vacuously green).
    def ok(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("long"), lit(0L))
    card.join(exact, Seq("split", source), "full_outer")
      .select(col("split"), col(source), col("n_docs"), col("n_tokens"),
        ok(col("n_docs") === col("__exact_n")).as("count_ok"),
        ok(col("n_tokens") === col("__exact_tokens")).as("tokens_ok"),
        ok(abs(col("distinct_est").cast("double") - col("__exact_distinct").cast("double"))
          <= lit(3.0 * rse) * col("__exact_distinct").cast("double") + lit(1.0))
          .as("distinct_ok"))
  }
}
