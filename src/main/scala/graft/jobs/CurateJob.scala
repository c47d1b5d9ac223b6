package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Packing, Sampling, TextStats}

/** Tunable knobs of the curation pipeline, injected as one value so a run
  * is reproducible from its parameter record alone. Salts are versioned
  * per decision stream (BASELINE.md "Deterministic-hash versioning").
  */
case class CurateParams(
    tol: Int = 16,
    minJaccard: Double = 0.5,
    maxDupFraction: Double = 0.3,
    minWords: Int = 10,
    maxWords: Int = 100000,
    trainFrac: Double = 0.8,
    valFrac: Double = 0.1,
    ttrNum: Int = 2, // lexical gate: keep if types/words >= ttrNum/ttrDen
    ttrDen: Int = 5,
    domDiv: Int = 8, // ... and top-word fraction <= 1/domDiv
    budgetTokens: Double = 500.0,
    maxSeqTokens: Int = 256,
    nBuckets: Int = 8,
    splitSalt: String = "split",
    budgetSalt: String = "curate-budget",
    packSalt: String = "curate-pack")

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs per ingestion batch, chaining the independently
  * oracle-verified stages the way the reference's own pipeline chains
  * scan -> delta -> derive -> dedup -> sink
  * (`data_engineering/data_engineering.py:100-132`):
  *
  *   clean (x17) -> repetition filter (x22) -> quality gate = Gopher
  *   structural rules (x30; the stopword rule is language-specific and a
  *   curation corpus is multilingual, so it stays off) AND lexical
  *   diversity (x30b: type-token ratio + top-word dominance) ->
  *   within-batch dedup (exact keep-min-id, then x14-component near-dup —
  *   without it two copies of the same NEW doc in one batch both survive)
  *   -> incremental dedup vs the existing TRAIN corpus (x20) ->
  *   decontaminate vs the held-out EVAL split (x19/x16) -> token-budget
  *   mix (x23) -> sequence packing (x21)
  *
  * plus a per-source report (x25 shape) over the outcome. Output is one
  * DECISION row per incoming doc: the first pipeline stage that drops it
  * (`drop_invalid` (null text) | `drop_repetition` | `drop_quality` | `drop_batch_exact` |
  * `drop_batch_neardup` | `drop_exact` | `drop_neardup` |
  * `drop_contaminated` | `drop_budget`) or `keep` with its packed
  * (bucket, seq_id). Every stage is hash-deterministic, so the whole
  * frame is replayable cross-engine (the x27 oracle).
  *
  * Dedup and decontamination are separate stages on purpose: dedup
  * compares against the TRAINING corpus (duplicate mass wastes compute),
  * decontamination against the EVAL split (leakage invalidates the
  * benchmark) — different target sets, both at `minJaccard`.
  *
  * Scale shape: each stage filters before the next, so the heavy pair
  * stages see only survivors; the corpus sides contribute one row per doc
  * to every join ([[Dedup.ngramJaccardPairsBetween]] explodes only the
  * bounded batch); the budget totals are a broadcast; packing is
  * `nBuckets` parallel windows. The corpus is cleaned ONCE per call and
  * materialized with an eager `localCheckpoint` of its narrow projection
  * (doc_id, clean_text, n_clean_chars, split). Three reads share it: the
  * exact tier's content-hash groupBy and the near tier's pairs over the
  * train split, and the decontamination pairs over the eval split.
  * Without it each read re-ran the redaction chain over the whole corpus
  * and compiled its own generated class for that chain, on the driver and
  * in a task, on every call. The cost is one narrow copy of the corpus text
  * in the block manager for the life of the call's frames. Measured
  * together with the regex prefilter in [[TextStats.withCleaned]] on the
  * `curate_batches` benchmark (4-core host, 10 alternating pairs):
  * executor CPU per op 3.42 -> 2.18 s. The bounded batch IS lazily
  * checkpointed at each stage boundary (rep, qual, exactKept, batchKept,
  * cleanKept, plus the two pair-decision frames): eight decision branches re-read those frames,
  * and without the cuts each branch replays the regex/hash chain from
  * the last checkpoint — measured ~25% of x27's runtime at sf0.1.
  */
object CurateJob {

  /** Cleaning + the derived columns every later stage keys on. */
  private def withCleanCols(df: DataFrame): DataFrame =
    TextStats.withCleaned(df)
      .withColumn("n_clean_chars", length(col("clean_text")).cast("long"))
      .withColumn("n_tokens", TextStats.tokenCount(col("clean_text")))

  /** One decision-frame branch: fixed schema regardless of which stage
    * produced the rows (nulls where a column doesn't apply).
    */
  private def branch(df: DataFrame, action: Column,
                     dupOf: Column = lit(null), jaccard: Column = lit(null),
                     bucket: Column = lit(null), seqId: Column = lit(null)): DataFrame =
    df.select(col("doc_id"), col("source"), action.as("action"),
      dupOf.cast("long").as("dup_of"), jaccard.cast("double").as("jaccard"),
      col("n_tokens"), bucket.cast("long").as("bucket"),
      seqId.cast("long").as("seq_id"))

  /** Per-doc decision frame for `batch` curated against `corpus`.
    * Columns: doc_id, source, action, dup_of, jaccard, n_tokens, bucket,
    * seq_id (dup_of/jaccard null unless dropped by a pair stage;
    * bucket/seq_id null unless kept).
    */
  def curate(batch: DataFrame, corpus: DataFrame,
             p: CurateParams = CurateParams()): DataFrame =
    stages(batch, corpus, p)._1

  /** Per-sequence training manifest over the packed keep-frame: one row
    * per (bucket, seq_id) with its doc count, token mass, and the doc
    * stream in pack order (hash order within the sequence — the same
    * (pu, doc_id) key the packing window sorted by). One partial-agg'd
    * groupBy over the (bounded) survivor set.
    */
  def manifests(packed: DataFrame, packSalt: String): DataFrame =
    packed
      .withColumn("__pu", Sampling.hashUnit(col("doc_id"), packSalt))
      .groupBy("bucket", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("seq_tokens"),
        array_join(
          transform(sort_array(collect_list(struct(col("__pu"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")), ",").as("doc_ids"))

  /** Manifests WITHOUT the decision frame — the trainer-facing fast path
    * (x36). The manifest aggregates the packed keep-frame directly instead
    * of filtering `action = 'keep'` back out of the 9-branch decision
    * union, so the drop branches are never evaluated. Values are identical
    * to [[manifests]] over the `keep` rows of [[curate]] (pinned by
    * CurateJobSpec's invariance law), but the chain runs with
    * `needDrops = false`: the contamBest checkpoint exists solely so the
    * dropContam branch of the decision union can re-read that frame — on
    * the keep-only spine it has exactly ONE downstream consumer, so
    * skipping it folds the decontamination join into cleanKept's own
    * materialization instead of a separate blocking round.
    */
  def manifestsOnly(batch: DataFrame, corpus: DataFrame,
                    p: CurateParams = CurateParams()): DataFrame =
    manifests(stages(batch, corpus, p, needDrops = false)._2, p.packSalt)

  /** The shared stage chain: returns (decision frame, packed keep-frame).
    * The packed frame is exactly the rows the decision frame tags `keep`
    * (same lineage — the decision union's keep branch is built FROM it).
    *
    * `needDrops = false` (manifests-only consumers) skips the checkpoints
    * whose ONLY second consumer is a drop branch (just contamBest — the
    * qual and dedup frames are re-read by keep-spine stages regardless,
    * see their site comments) — the returned decision frame is still
    * correct, but evaluating it would recompute the decontamination join
    * once for the dropContam branch; [[curate]] keeps the default.
    */
  private def stages(batch: DataFrame, corpus: DataFrame,
                     p: CurateParams,
                     needDrops: Boolean = true): (DataFrame, DataFrame) = {
    // checkpoint only when the drop branches create a second consumer
    def ckptIfDrops(df: DataFrame): DataFrame =
      if (needDrops) df.localCheckpoint(false) else df
    // ---- stage 0: clean, then split the corpus into train vs eval -------
    // NULL text is representable in any real batch (parquet permits it)
    // and every downstream predicate is null-blind (NULL > x and
    // NULL <= x are both false) — without an explicit branch such a doc
    // would fall out of EVERY stage and the one-decision-row-per-doc
    // contract would silently break. It gets its own first-drop reason.
    // The batch is cleaned where it stands: it is bounded, and the rep
    // checkpoint below materializes its clean chain once.
    val bAll = withCleanCols(batch)
    val dropInvalid = bAll.where(col("text").isNull)
    val b = bAll.where(col("text").isNotNull)
    // The corpus is cleaned once, for its three reads (exact tier + train
    // pairs, eval pairs), and materialized eagerly as a narrow projection.
    // Spread (stats-gated hash repartition on doc_id) BEFORE the clean: a
    // small-file corpus arrives as one split, and the checkpoint keeps its
    // plan's partitioning, so without it the clean and every pair join's
    // corpus side would run in one task. The pair joins' own spread still
    // re-shuffles what it reads of the checkpoint (the checkpoint keeps the
    // plan's size estimate), an exchange of the narrow projection only.
    // At 100 TB the scan has thousands of splits and neither gate adds a
    // shuffle.
    val cSplit = Sampling.withSplit(
      TextStats.withCleaned(Dedup.spread(corpus, col("doc_id"))),
      "doc_id", p.trainFrac, p.valFrac, p.splitSalt)
      .select(col("doc_id"), col("clean_text"),
        length(col("clean_text")).cast("long").as("n_clean_chars"), col("split"))
      .localCheckpoint(true)
    val trainCorpus = cSplit.where(col("split") =!= "test")
    val evalDocs = cSplit.where(col("split") === "test")

    // ---- stage 1: within-doc repetition filter (x22) --------------------
    // lazily checkpointed — kept deliberately (round 11 measured the
    // removal): dropping it makes the dropRep branch recompute the
    // clean+repetition chain off the raw scan, and at fixture scale that
    // chain is pinned to the scan's single row-group partition, so the
    // recompute is a fully SERIALIZED second pass (+~1 s wall on x27).
    // The checkpoint materializes it once and every consumer reuses it.
    val rep = TextStats.withRepetition(b, "clean_text").localCheckpoint(false)
    val dropRep = rep.where(col("dup_fraction") > p.maxDupFraction)
    val repKept = rep.where(col("dup_fraction") <= p.maxDupFraction)

    // ---- stage 1b: quality gate (per-doc, shuffle-free): structural
    // rules (x30, stopword rule off — multilingual corpus) AND lexical
    // diversity (x30b) in one pass, one drop reason
    val qualRules = TextStats.withQualityRules(repKept, "clean_text",
      p.minWords, p.maxWords, stopwordLang = None)
      .withColumnRenamed("keep", "keep_rules")
    // lazily checkpointed like rep: the quality annotations feed the drop
    // branch plus every later batch stage, and the clean/quality regex
    // chain is the most expensive per-row work in the pipeline — without
    // the cut each decision branch re-runs it from the rep checkpoint
    // ALWAYS checkpointed (even manifests-only): the exact-dedup tier
    // below reads qualKept twice (eMin aggregate + eJoined probe), and the
    // probe side sits under a broadcast join with no exchange to reuse —
    // uncheckpointed, the whole clean/quality chain would compute twice
    // (measured: +x s CPU on the manifests path when this was skipped).
    val qual = TextStats.withLexicalDiversity(qualRules, "clean_text",
      p.ttrNum, p.ttrDen, p.domDiv)
      .withColumn("keep",
        (col("keep_rules") === 1 && col("ok_ttr") === 1 &&
          col("ok_dominance") === 1).cast("long"))
      .localCheckpoint(false)
    val dropQual = qual.where(col("keep") === 0)
    val qualKept = qual.where(col("keep") === 1)
      .drop("n_words", "mean_word_len", "max_word_len",
        "ok_n_words", "ok_word_len", "ok_max_len", "ok_stopwords", "keep_rules",
        "n_types", "top_word_count", "ok_ttr", "ok_dominance", "keep")

    // ---- stage 2a: within-batch dedup ----------------------------------
    // The corpus tiers below compare batch vs corpus only; two copies of
    // the same NEW document arriving in one batch would otherwise both
    // reach "keep". Exact tier: keep the min-id copy per cleaned text
    // (one partial-agg'd groupBy on the 256-bit content hash). Near tier:
    // connected components over the within-batch pair graph (x14
    // machinery); non-representative members drop toward the component's
    // min id. jaccard stays null on batch-near drops — membership is
    // transitive, so a single pair value would misattribute chains.
    val eMin = qualKept
      .groupBy(sha2(col("clean_text"), 256).as("__h"))
      .agg(min(col("doc_id")).as("__keep_id"))
    val eJoined = qualKept.withColumn("__h", sha2(col("clean_text"), 256))
      .join(eMin, "__h")
    val dropBatchExact = eJoined.where(col("doc_id") =!= col("__keep_id"))
    // four consumers (pair generation, component docs, both near branches)
    // would each replay the content-hash self-join otherwise
    val exactKept = eJoined.where(col("doc_id") === col("__keep_id"))
      .drop("__h", "__keep_id")
      .localCheckpoint(false)
    val bPairs = Dedup.ngramJaccardPairs(exactKept, lenCol = "n_clean_chars",
      tol = p.tol, text = "clean_text", minJaccard = p.minJaccard)
    val resolved = Dedup.resolveComponents(exactKept, bPairs)
    val dropBatchNear = exactKept
      .join(resolved.where(col("is_kept") === 0).select("doc_id", "rep_id"), "doc_id")
    val batchKept = exactKept.join(
      resolved.where(col("is_kept") === 1).select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint(false)

    // ---- stage 2b: incremental dedup vs the train corpus (x20) ----------
    // ALWAYS checkpointed: dedupKept (batchKept ⋈ this) is read both by
    // the decontamination join and by cleanKept's anti side — without the
    // cut the near-tier Jaccard chain computes once per read.
    val dedup = Dedup.incrementalDedup(batchKept, trainCorpus,
      lenCol = "n_clean_chars", tol = p.tol, minJaccard = p.minJaccard,
      text = "clean_text").localCheckpoint(false)
    val dropDup = dedup.where(col("action") =!= "keep")
      .join(batchKept.select("doc_id", "source", "n_tokens"), "doc_id")
    val dedupKept = batchKept.join(
      dedup.where(col("action") === "keep").select("doc_id"), Seq("doc_id"), "left_semi")

    // ---- stage 3: decontaminate vs the eval split (x19 target set) ------
    val contam = Dedup.ngramJaccardPairsBetween(dedupKept, evalDocs,
      lenCol = "n_clean_chars", tol = p.tol, text = "clean_text",
      minJaccard = p.minJaccard)
    val contamBest = ckptIfDrops(contam
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id_l")).orderBy(col("jaccard").desc, col("id_r").asc)))
      .where(col("__rk") === 1)
      .select(col("id_l").as("doc_id"), col("id_r").as("contam_of"),
        col("jaccard").as("contam_j")))
    val dropContam = contamBest
      .join(dedupKept.select("doc_id", "source", "n_tokens"), "doc_id")
    val cleanKept = dedupKept.join(contamBest.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)

    // ---- stage 4: token-budget mix (x23) --------------------------------
    val mixed = Sampling.sampleByTokenBudget(cleanKept, "source",
      col("n_tokens"), p.budgetTokens, key = "doc_id", salt = p.budgetSalt)
    val dropBudget = cleanKept.join(
      mixed.select("doc_id"), Seq("doc_id"), "left_anti")

    // ---- stage 5: pack survivors into training sequences (x21) ----------
    val packed = Packing.packSequences(mixed, col("n_tokens"),
      p.maxSeqTokens, p.nBuckets, key = "doc_id", salt = p.packSalt)

    val decisions = branch(dropInvalid, lit("drop_invalid"))
      .unionByName(branch(dropRep, lit("drop_repetition")))
      .unionByName(branch(dropQual, lit("drop_quality")))
      .unionByName(branch(dropBatchExact, lit("drop_batch_exact"),
        dupOf = col("__keep_id")))
      .unionByName(branch(dropBatchNear, lit("drop_batch_neardup"),
        dupOf = col("rep_id")))
      .unionByName(branch(dropDup, col("action"),
        dupOf = col("dup_of"), jaccard = col("jaccard")))
      .unionByName(branch(dropContam, lit("drop_contaminated"),
        dupOf = col("contam_of"), jaccard = col("contam_j")))
      .unionByName(branch(dropBudget, lit("drop_budget")))
      .unionByName(branch(packed, lit("keep"),
        bucket = col("bucket"), seqId = col("seq_id")))
    (decisions, packed)
  }

  /** Per-source curation report over a decision frame (x25 shape):
    * incoming volume, per-reason drop counts, kept volume and token mass.
    * One partial-agg'd shuffle on the already-tiny decision frame.
    */
  def report(decisions: DataFrame): DataFrame = {
    def n(a: String) = sum((col("action") === a).cast("long")).as(s"n_$a")
    decisions.groupBy("source").agg(
      count(lit(1)).as("n_in"),
      n("drop_invalid"), n("drop_repetition"), n("drop_quality"),
      n("drop_batch_exact"), n("drop_batch_neardup"),
      n("drop_exact"), n("drop_neardup"),
      n("drop_contaminated"), n("drop_budget"),
      sum((col("action") === "keep").cast("long")).as("n_kept"),
      sum(when(col("action") === "keep", col("n_tokens")).otherwise(0L))
        .as("kept_tokens"))
  }
}
