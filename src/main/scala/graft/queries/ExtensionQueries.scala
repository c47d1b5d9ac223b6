package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Bpe, Dedup, Multimodal, Packing, Sampling, SimSearch, TextStats}
import graft.jobs.CurateJob

/** LLM-training-data pipeline operators (SURVEY.md §7.4) as declared
  * queries over `documents`/`embeddings`, with DuckDB oracles wherever the
  * semantics are SQL-expressible. Hash-based operators (MinHash, SimHash,
  * LSH, fingerprints) depend on xxhash64 and are deliberately oracle-less —
  * the driver records a rows-only check; their semantics are covered by
  * ScalaTest specs instead.
  *
  * ORACLE SQL CONVENTION: every aggregate (plain or windowed) that reaches
  * a FINAL select must be wrapped in an explicit CAST. DuckDB widens
  * `SUM(BIGINT)` to HUGEINT (int128), which the driver's hasher
  * distinguishes from Spark's int64 even when the values are identical —
  * round 7's only hash mismatch (x23b) was exactly this. Intermediate CTE
  * aggregates that only feed arithmetic/predicates don't need the cast.
  */
object ExtensionQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Per-PROCESS scratch root for queries whose semantics are a sink+scan
    * round trip (x45 release, x46 partitioned scan). A fixed repo-relative
    * path would let two concurrent harnesses (bench while tests run,
    * overlapping judge.sh invocations) overwrite each other's artifact
    * between the eager write and the lazy read-back — spurious oracle
    * diffs — and would leave benched queries writing inside the repo tree.
    * One temp dir per JVM: unique across processes, stable within one (the
    * bench's warmup + timed run reuse it; every write below is
    * mode=overwrite).
    */
  private lazy val scratchDir: String =
    java.nio.file.Files.createTempDirectory("graft-scratch-").toString

  /** The x39 incoming batch: the fresh mod-7 slice plus id-shifted
    * (+100000) copies of every mod-5 doc, simulating a re-crawl whose
    * mod-5-not-mod-7 members byte-duplicate the existing corpus. Pure id
    * arithmetic over the fixture so DuckDB replays it verbatim.
    */
  private def bloomBatch(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 7 === 0).select("doc_id", "text")
      .unionByName(docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))

  /** Minimum acceptable recall@5 for the approximate ANN tiers (x7c gate).
    * LSH (8-bit buckets, hamming-1 multiprobe) and IVF (16 cells, 8-probe)
    * both sit well above this on the synthetic embeddings at every SF;
    * 0.6 catches real quality regressions without flapping on data noise.
    */
  val ANN_RECALL_MIN = 0.6

  /** Minimum recall of cell-blocked near-dup pairs (x5b) against the exact
    * probe-set truth. The fixture's cos >= 0.25 pairs are LOOSE (max
    * pairwise cosine ~0.5, nearly angle-random), the hard case for any
    * locality blocking; 16 cells x 4 assignments still lands well above
    * this on every SF. Tight near-dups (cos ~ 1) share their top cell
    * almost surely.
    */
  val CELL_NEARDUP_RECALL_MIN = 0.5

  /** Merge rounds for the x28 BPE queries — small so the generated DuckDB
    * replay (one CTE block per round) stays readable, large enough that
    * multi-char symbols appear and the run/overlap semantics get exercised
    * on real corpus text.
    */
  val BPE_MERGES = 6

  /** Exact near-dup truth pairs (Jaccard >= 0.9, same formula and length
    * blocking as x3), materialized ONCE: the tiny pair frame is referenced
    * twice downstream (semi-join + count), and without the checkpoint
    * Spark would run the whole n-gram pipeline for each. LAZY so that
    * merely constructing the query (explain/plan tooling) runs no job.
    */
  private def jaccardTruth(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, lenCol = "n_chars", tol = 16, minJaccard = 0.9)
      .select("id_a", "id_b").localCheckpoint(false)

  /** One-row recall verdict: what fraction of `truth` pairs the sketch
    * `found`, gated at `minRecall`. DuckDB recomputes n_true and asserts
    * recall_ok = 1.
    */
  private def sketchRecall(truth: DataFrame, found: DataFrame,
                           minRecall: Double): DataFrame =
    truth.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .select(col("n_true").cast("long").as("n_true"),
        // empty truth set => vacuously passing gate (recall of nothing is
        // not a quality regression); without the guard 0/0 yields NULL and
        // the row would red as an opaque hash mismatch on tiny fixtures
        when(col("n_true") === 0, lit(1L))
          .otherwise((col("n_hits").cast("double") / col("n_true") >= minRecall)
            .cast("long")).as("recall_ok"))

  def queries: Map[String, Q] = Map(
    // ---- deduplication ----------------------------------------------------
    "x1_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "x2_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), minJaccard = 0.8)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))),
    "x3_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), lenCol = "n_chars", tol = 16,
        minJaccard = 0.5)),
    "x4_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 10)),
    // Hash-sketch recall gates: the TRUTH side is the exact n-gram Jaccard
    // pair set (same formula and length-blocking as x3, which is proven
    // hash-identical to DuckDB's), restricted to strong near-dups
    // (J >= 0.9). DuckDB recomputes n_true and asserts recall_ok = 1, so a
    // sketch quality regression flips the bit and reds the row. Measured
    // recall: minhash 0.96-1.0, simhash 0.90-0.96 across SFs.
    "x2b_minhash_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val found = Dedup.minhashPairs(docs, minJaccard = 0.8).select("id_a", "id_b")
      sketchRecall(jaccardTruth(docs), found, minRecall = 0.9)
    }),
    "x4b_simhash_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val found = Dedup.simhashPairs(docs, maxHamming = 10).select("id_a", "id_b")
      sketchRecall(jaccardTruth(docs), found, minRecall = 0.8)
    }),
    // Pairs -> decisions: connected components over the exact-Jaccard
    // >= 0.5 pair graph (same pairs as x3, which DuckDB replays), smallest
    // id per component kept. DuckDB recomputes the components with a
    // recursive transitive closure, so the whole keep/drop surface is
    // hash-compared, not just the pair list.
    "x14_dedup_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, lenCol = "n_chars", tol = 16,
        minJaccard = 0.5)
      Dedup.resolveComponents(docs, pairs)
    }),
    // Components -> surviving corpus: keep the longest member of each
    // near-dup component (ties: smallest id) with its member count and
    // total mass — the decision frame a dedup pass actually ships.
    "x34_dedup_collapse" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, lenCol = "n_chars", tol = 16,
        minJaccard = 0.5)
      Dedup.collapseComponents(docs, pairs)
    }),
    "x5_embed_neardup" -> ((s, dir) =>
      SimSearch.nearDupPairs(Tables.embeddings(s, dir), "label", minCos = 0.25)),
    // The blocking-free near-dup path: x5 needs a natural block column;
    // x5b derives the blocks from a corpus-trained quantizer (the real
    // 100 TB shape) and gates its recall against exact pairs touching a
    // bounded probe set (probe side broadcast, truth cost linear in the
    // corpus — never all-pairs).
    "x5b_neardup_cell_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("p_id"), col("embedding").as("p_vec"))
      // lazy checkpoint: referenced twice, no job at construction time
      val truth = e.crossJoin(broadcast(probes))
        .where(col("p_id") =!= col("vec_id"))
        .where(SimSearch.cosine(col("p_vec"), col("embedding")) >= 0.25)
        .select(least(col("p_id"), col("vec_id")).as("id_a"),
          greatest(col("p_id"), col("vec_id")).as("id_b"))
        .distinct()
        .localCheckpoint(false)
      val found = SimSearch.nearDupPairsByCell(e, minCos = 0.25)
        .where(col("id_a") < 50 || col("id_b") < 50)
        .select("id_a", "id_b")
      found.join(truth, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .select(col("n_true").cast("long").as("n_true"),
          when(col("n_true") === 0, lit(1L))
            .otherwise((col("n_hits").cast("double") / col("n_true") >= CELL_NEARDUP_RECALL_MIN)
              .cast("long")).as("recall_ok"))
    }),
    // Incremental corpus dedup: an "incoming" batch (doc_id % 7 == 0 as the
    // stand-in for today's crawl) deduped AGAINST the existing corpus —
    // exact tier via sha2 content-hash lookup, near tier via batch-vs-corpus
    // blocked exact Jaccard. DuckDB replays the whole keep/drop/dup_of
    // decision surface.
    "x20_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedup(
        docs.where(col("doc_id") % 7 === 0),
        docs.where(col("doc_id") % 7 =!= 0),
        lenCol = "n_chars", tol = 16, minJaccard = 0.5)
    }),

    // Duplicated-SPAN removal (word 8-gram granularity): spans occurring
    // more than once anywhere in the corpus are cut out of every document
    // (Lee et al. 2022's exact-substring dedup, shingle-count formulation).
    // DuckDB replays the whole decision — occurrence counting, coverage
    // union, and the rebuilt text — over string 8-grams (hash-collision-
    // equal to the Spark side's xxhash64 spans).
    "x29_span_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir), k = 8)),

    // ---- similarity search ------------------------------------------------
    "x6_ann_brute" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      SimSearch.bruteTopK(q, e, k = 5)
    }),
    "x7_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      SimSearch.lshTopK(q, e, k = 5)
    }),
    "x7b_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      SimSearch.ivfTopK(q, e, k = 5)
    }),
    // ANN quality gate: recall@5 of the approximate tiers against exact
    // brute-force. The truth side is Spark's bruteTopK — itself verified
    // hash-identical to DuckDB's brute-force in x6 — so the DuckDB oracle
    // only has to recompute n_truth and assert recall_ok=1; a recall drop
    // below threshold flips recall_ok to 0 and reds this row.
    "x7c_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // computed once, reused in the join + the count. LAZY checkpoint:
      // eager would run the full brute-force job at DataFrame-CONSTRUCTION
      // time (explain/plan tooling pays a compute; Bench folds it into the
      // wrong timing bucket) — lazy persists on first action instead.
      val truth = SimSearch.bruteTopK(q, e, k = 5).select("q_id", "neighbor_id")
        .localCheckpoint(false)
      val approx =
        SimSearch.lshTopK(q, e, k = 5)
          .select(lit("lsh").as("method"), col("q_id"), col("neighbor_id"))
          .unionByName(SimSearch.ivfTopK(q, e, k = 5)
            .select(lit("ivf").as("method"), col("q_id"), col("neighbor_id")))
      val hits = approx.join(truth, Seq("q_id", "neighbor_id"))
        .groupBy("method").agg(count(lit(1)).as("n_hits"))
      hits.crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("method"), col("n_truth").cast("long").as("n_truth"),
          (col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
            .cast("long").as("recall_ok"))
    }),

    // Metadata-filtered similarity search ("neighbors among label-X rows"):
    // ONE prebuilt index serves every predicate, and the predicate filters
    // the cell-assigned corpus BEFORE candidate scoring — post-filtering an
    // ANN top-k starves results whenever the filter is selective (~42%
    // here). x38 is the exact filtered path, fully oracle-replayed; x38b
    // gates the filtered-IVF probe's recall against it (x7c contract).
    "x38_ann_filtered" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      SimSearch.bruteTopKFiltered(q, e, k = 5, pred = col("label") % 3 === 0)
    }),
    "x38b_ann_filtered_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // lazy checkpoint: referenced twice, no job at construction (x7c note)
      val truth = SimSearch.bruteTopKFiltered(q, e, k = 5,
        pred = col("label") % 3 === 0)
        .select("q_id", "neighbor_id").localCheckpoint(false)
      val (cells, cents) = SimSearch.ivfIndex(e)
      val found = SimSearch.ivfTopKFromIndexFiltered(q, cells, cents, k = 5,
        pred = col("label") % 3 === 0).select("q_id", "neighbor_id")
      found.join(truth, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("n_truth").cast("long").as("n_truth"),
          (col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
            .cast("long").as("recall_ok"))
    }),

    // Sketch-based incremental exact dedup: one Bloom filter of the corpus's
    // content hashes answers "seen before?" for the whole incoming batch
    // with a map-only codegen'd probe — no corpus shuffle per batch (the
    // 100 TB shape of x20's exact tier). At the 1e-8 fpp default the
    // sketch verdict is value-identical to exact membership at oracle
    // scale, so DuckDB replays it as an exact IN-subquery; x39b audits the
    // one-sided error bounds (no false negatives, fp count within budget)
    // against the exact join every round.
    // The fixture has no byte-identical text shared across the mod-7 split,
    // so the bloom batch simulates a RE-CRAWL: the fresh mod-7 slice plus
    // id-shifted copies of every mod-5 doc. Copies whose original sits in
    // the corpus (mod-5, not mod-7) are true duplicates the probe must
    // drop; mod-35 copies duplicate only batch-side docs and must be kept.
    // Derivation is pure id arithmetic on the fixture — DuckDB replays it.
    "x39_dedup_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomDedup(bloomBatch(docs), docs.where(col("doc_id") % 7 =!= 0))
    }),
    "x39b_bloom_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val incoming = bloomBatch(docs)
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val verdict = Dedup.bloomDedup(incoming, corpus)
      val truth = incoming.select(col("doc_id"), col("text"))
        .join(corpus.select(col("text"), lit(1L).as("__dup")).distinct(),
          Seq("text"), "left")
      truth.join(verdict, Seq("doc_id"))
        .agg(
          count(lit(1)).as("n_probes"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_true_dups"),
          sum(when(col("__dup").isNotNull && col("action") === "keep", 1L)
            .otherwise(0L)).as("n_false_neg"),
          sum(when(col("__dup").isNull && col("action") === "drop", 1L)
            .otherwise(0L)).as("n_false_pos"))
        .select(col("n_probes").cast("long").as("n_probes"),
          col("n_true_dups").cast("long").as("n_true_dups"),
          (col("n_false_neg") === 0 &&
            col("n_false_pos") <= greatest(lit(1L), col("n_probes") / 1000))
            .cast("long").as("bloom_ok"))
    }),

    // The deployment path of x20's near tier: probe a PREBUILT LSH index of
    // the existing corpus with the incoming batch, gated on recall@5
    // against exact brute-force (same contract as x7c). Exercises the
    // index/probe split end-to-end on a real batch-vs-corpus shape.
    "x20b_incremental_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val incoming = e.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = e.where(col("vec_id") % 7 =!= 0)
      // lazy for the same reason as x7c: no job at construction time
      val truth = SimSearch.bruteTopK(incoming, corpus, k = 5)
        .select("q_id", "neighbor_id").localCheckpoint(false)
      val found = SimSearch.lshTopKFromIndex(incoming, SimSearch.lshIndex(corpus), k = 5)
        .select("q_id", "neighbor_id")
      found.join(truth, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("n_truth").cast("long").as("n_truth"),
          when(col("n_truth") === 0, lit(1L))
            .otherwise((col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
              .cast("long")).as("recall_ok"))
    }),
    // Sequence packing: documents grouped into <=256-token training
    // sequences by chunked cumsum over hash order within 8 parallel hash
    // buckets. Fully deterministic -> DuckDB replays the exact assignment
    // with the same md5 arithmetic and window functions.
    "x21_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir),
        TextStats.tokenCount(col("text")), maxTokens = 256, nBuckets = 8,
        key = "doc_id")
        .select("doc_id", "n_tokens", "bucket", "seq_id")),
    // The x28 -> x21 composition: packing driven by the TRAINED tokenizer's
    // subword counts instead of the whitespace proxy — the point of
    // training the vocab is that downstream budget/packing arithmetic uses
    // counts the model will actually see. DuckDB replays tokenizer
    // training, the count join, and the packing windows in one query.
    "x21b_pack_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = BPE_MERGES)
      Packing.packSequences(docs.join(Bpe.tokenCounts(docs, seg), "doc_id"),
        col("n_bpe_tokens"), maxTokens = 256, nBuckets = 8, key = "doc_id")
        .select("doc_id", "n_tokens", "bucket", "seq_id")
    }),
    // Document chunking for an embedding/RAG pipeline: 32-token windows,
    // stride 24 (8-token overlap). DuckDB replays the exact slice text.
    "x26_chunk_docs" -> ((s, dir) =>
      Packing.chunkDocuments(Tables.documents(s, dir),
        chunkTokens = 32, stride = 24)),

    // Int8 embedding quantization: per-vector integer summaries (min, max,
    // sum of the quantized codes) are integer-exact, so DuckDB replays the
    // whole scale/floor arithmetic with no float-rounding hazard.
    "x24_quantize_int8" -> ((s, dir) => {
      val q = SimSearch.quantizeInt8(Tables.embeddings(s, dir))
      q.select(col("vec_id"),
        array_min(col("q_vec")).cast("long").as("q_min"),
        array_max(col("q_vec")).cast("long").as("q_max"),
        aggregate(col("q_vec"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"))
    }),

    // The quantized SERVING path composed end-to-end (x24 + x7): LSH
    // candidates scored on int8 codes only, exact float re-rank of the
    // bounded survivors — recall-gated against brute-force truth exactly
    // like x7c. A quantization or candidate-stage regression (bad scale,
    // broken int dot, survivor set too small) drops recall and reds this.
    "x24b_quantized_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // lazy checkpoint: no job at DataFrame-construction time (x7c note)
      val truth = SimSearch.bruteTopK(q, e, k = 5).select("q_id", "neighbor_id")
        .localCheckpoint(false)
      val found = SimSearch.quantizedTopK(q, e, k = 5).select("q_id", "neighbor_id")
      found.join(truth, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("n_truth").cast("long").as("n_truth"),
          when(col("n_truth") === 0, lit(1L))
            .otherwise((col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
              .cast("long")).as("recall_ok"))
    }),

    // Product-quantization index build (Jégou et al., TPAMI 2011): each
    // embedding compresses to m=16 BYTES of subspace centroid ids — 16x
    // less serving-scan traffic than the float vector, the lever that
    // makes an EXHAUSTIVE compressed ANN scan affordable at 100 TB (vs
    // int8's 4x in x24). Codebooks come from a float Lloyd on a bounded
    // deterministic sample, so code VALUES have no SQL oracle — rows-only
    // here, with the standard two-sided net: SketchGoldenSpec pins the
    // full sf0.001 code output, and x47b gates end-to-end serving recall
    // against exact brute-force truth.
    "x47_pq_codes" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val codebooks = SimSearch.pqTrain(e)
      SimSearch.pqEncode(e, codebooks)
        .select(col("vec_id"), hex(col("pq_code")).as("pq_hex"))
    }),
    // The PQ serving path composed end-to-end (train → encode → ADC scan
    // → exact re-rank), recall-gated against brute-force truth exactly
    // like x7c/x24b. A codebook, encode, or ADC regression (bad LUT
    // layout, wrong tie-break, survivor set too small) drops recall and
    // reds this row.
    "x47b_pq_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // lazy checkpoint: no job at DataFrame-construction time (x7c note)
      val truth = SimSearch.bruteTopK(q, e, k = 5).select("q_id", "neighbor_id")
        .localCheckpoint(false)
      val found = SimSearch.pqTopK(q, e, k = 5).select("q_id", "neighbor_id")
      found.join(truth, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("n_truth").cast("long").as("n_truth"),
          when(col("n_truth") === 0, lit(1L))
            .otherwise((col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
              .cast("long")).as("recall_ok"))
    }),

    // PQ SERVING as a default-surface query — the hot path the PQ tier
    // exists for (x47 benches only the encode; x47b/x50 run verify-only):
    // codes built once map-only, one PqLut per query broadcast to an ADC
    // scan of the codes, map-side WindowGroupLimit survivor cut, exact
    // float re-rank of the bounded survivors. Candidate choice depends on
    // codebook values, so like x7/x7b this is rows-only for DuckDB; the
    // recall gate x47b checks the same serving path against brute-force
    // truth every round, and PlanSpec pins the plan shape — together with
    // the bench's cpu_regressions gate this makes a serving-plan
    // regression loud instead of invisible (r12 verdict item 1).
    "x47c_pq_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cb = SimSearch.pqTrain(e)
      SimSearch.pqTopKFromIndex(q, SimSearch.pqEncode(e, cb), e, cb, k = 5)
    }),

    // IVF+PQ composed (the IVFADC billion-scale layout): cell probing
    // prunes which rows are scanned, PQ codes shrink what is read per
    // row, exact float re-rank restores precision — recall-gated against
    // brute-force truth like x7c/x24b/x47b.
    "x50_ivfpq_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // lazy checkpoint: no job at DataFrame-construction time (x7c note)
      val truth = SimSearch.bruteTopK(q, e, k = 5).select("q_id", "neighbor_id")
        .localCheckpoint(false)
      val found = SimSearch.ivfPqTopK(q, e, k = 5).select("q_id", "neighbor_id")
      found.join(truth, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("n_truth").cast("long").as("n_truth"),
          when(col("n_truth") === 0, lit(1L))
            .otherwise((col("n_hits").cast("double") / col("n_truth") >= ANN_RECALL_MIN)
              .cast("long")).as("recall_ok"))
    }),

    // ---- text analysis ----------------------------------------------------
    "x8_text_lang" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.langId(col("text")).as("pred_lang"),
        round(TextStats.stopwordRatio(col("text"), "en"), 6).as("en_stop_ratio"))),
    "x9_text_quality" -> ((s, dir) =>
      TextStats.withQuality(Tables.documents(s, dir))
        .select("doc_id", "n_terms", "n_distinct_terms", "avg_term_len",
          "type_token_ratio", "quality_score")),
    "x10_text_tokens" -> ((s, dir) =>
      TextStats.termFrequencies(Tables.documents(s, dir))),
    "x10b_token_counts" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_ws_tokens"),
        TextStats.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
        TextStats.regexTokenCount(col("text")).as("n_regex_tokens"))),
    // Decontamination: a test-split document whose text near-duplicates
    // (J >= 0.5) a train-split document is contaminated and must be
    // dropped before evaluation. Composes the deterministic split
    // assignment (x16) with the blocked exact-Jaccard pair space (x3) —
    // both independently oracle-verified, and DuckDB replays the whole
    // composition here.
    // Span-level decontamination (GPT-3's verbatim n-gram filter): one
    // decision row per TRAIN doc, flagged if any eval-split 8-gram appears
    // verbatim inside it. Doc-level Jaccard (x19) misses a short quoted
    // answer in an otherwise-unrelated doc; this catches it.
    "x19b_span_decontaminate" -> ((s, dir) => {
      val docs = Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
      Dedup.spanDecontaminate(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"))
    }),
    "x19_decontaminate" -> ((s, dir) => {
      val docs = Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
      // Filter-before-compute: the split predicate lands BEFORE the pair
      // join, so only test x train candidates ever reach the shingle
      // intersection (~0.16x of the all-pairs space at 80/10/10) and each
      // side shingles only its own split. The small test split rides the
      // exploded (3-bucket) side; the big train split contributes one row
      // per doc to the shuffle — the shape that survives a 100-TB corpus.
      Dedup.ngramJaccardPairsBetween(
          docs.where(col("split") === "test"),
          docs.where(col("split") === "train"),
          lenCol = "n_chars", tol = 16, minJaccard = 0.5)
        .select(col("id_l").as("test_doc"), col("id_r").as("train_doc"),
          col("jaccard"))
    }),
    "x18_tfidf_topk" -> ((s, dir) =>
      TextStats.topTfidfTerms(Tables.documents(s, dir), k = 3)),
    // Corpus-trained BPE vocabulary: the K most frequent adjacent symbol
    // pairs, merged iteratively on the distinct-word frequency table.
    // Fully deterministic (char split, integer counts, lexicographic
    // tie-breaks), so DuckDB re-derives the identical merge table with a
    // generated K-round CTE chain. NOTE: constructing this DataFrame RUNS
    // the training rounds (control flow needs the driver) — K shuffles +
    // K 1-row collects, all on the bounded vocabulary frame.
    "x28_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val (merges, _) = Bpe.train(
        Bpe.wordFrequencies(Tables.documents(s, dir)), k = BPE_MERGES)
      merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.merged, m.pairCount))
        .toDF("rank", "lhs", "rhs", "merged", "pair_count")
    }),
    // The trained tokenizer applied back to the corpus: per-doc subword
    // token counts via the vocabulary-lookup join — the faithful token
    // count that budget mixing (x23) and packing (x21) want, where
    // bpeishTokenCount is only a magnitude stand-in.
    "x28b_bpe_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = BPE_MERGES)
      Bpe.tokenCounts(docs, seg)
    }),
    // Full tokenization: every document's in-order subword stream — the
    // payload a training/serving pipeline feeds the model. DuckDB rebuilds
    // the identical stream (ordinality-joined vocabulary lookup, ordered
    // list aggregate), so the whole segmentation surface is hash-compared,
    // not just the counts.
    "x28c_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = BPE_MERGES)
      Bpe.tokenize(docs, seg)
    }),
    // Gopher-style rule filter: per-rule audit flags + the AND-ed keep
    // decision; every threshold is exact int/int arithmetic, so DuckDB
    // replays the full flag surface bit-identically.
    "x30_quality_rules" -> ((s, dir) =>
      TextStats.withQualityRules(Tables.documents(s, dir))
        .select("doc_id", "n_words", "mean_word_len", "max_word_len",
          "ok_n_words", "ok_word_len", "ok_max_len", "ok_stopwords", "keep")),
    // Lexical-diversity rules (Gopher's unique-word-fraction family):
    // type-token ratio + single-word dominance, computed as a shuffle-free
    // sorted-run fold — no token-stream explode. Integer cross-multiplied
    // thresholds replay bit-identically.
    "x30b_lexical_diversity" -> ((s, dir) =>
      TextStats.withLexicalDiversity(Tables.documents(s, dir))
        .select("doc_id", "n_words", "n_types", "top_word_count",
          "ok_ttr", "ok_dominance", "keep")),
    "x17_text_clean" -> ((s, dir) =>
      TextStats.withCleaned(Tables.documents(s, dir))
        .select("doc_id", "clean_text", "n_urls", "n_emails", "n_phones", "n_ips")),
    // Perplexity-style quality score: per-doc negative log-likelihood
    // under the corpus's own unigram LM (CCNet's filter, unigram form).
    // Per-token logprobs are rounded BEFORE the sum so DuckDB replays the
    // float arithmetic exactly (x25 ROUND(SUM) rule).
    "x32_unigram_nll" -> ((s, dir) =>
      TextStats.unigramNll(Tables.documents(s, dir))),
    // Domain-shift diagnostic: per-source KL divergence from the corpus
    // unigram distribution — read next to x25/x31 when tuning a mix.
    "x33_source_divergence" -> ((s, dir) =>
      TextStats.sourceDivergence(Tables.documents(s, dir))),
    // Naive-Bayes domain tagging over per-source Laplace-smoothed unigram
    // LMs (the CCNet/fastText-filter role); DuckDB replays the full model
    // fit + scoring + argmax from the same rounded-log arithmetic.
    "x37_source_classify" -> ((s, dir) =>
      TextStats.classifySource(Tables.documents(s, dir))),
    // Dataset-release card: per-(split, source) manifest with doc/token
    // mass, id range, and an order-independent md5-prefix XOR content
    // checksum — the artifact a dataset release ships so consumers can
    // verify downloads cell-by-cell. DuckDB replays counts, split
    // assignment, and the checksum arithmetic exactly.
    "x42_dataset_card" -> ((s, dir) =>
      Sampling.datasetCard(Tables.documents(s, dir))),
    // Release-artifact path END-TO-END as a declared query (x42 checks the
    // card over the in-memory frame; this exercises the sink+scan round
    // trip the consumer protocol actually runs): write a full release —
    // sharded JSONL under release/data plus the card derived from the
    // READ-BACK shards under release/_card — then return the SHIPPED card
    // re-read from disk. The oracle is x42's card SQL over the same rows,
    // so a green row proves writeJsonl + readJsonl + the card derivation
    // lose nothing (shard assignment is a partition of the rows; the
    // checksum XOR is order-independent, so sharding cannot mask a lost or
    // duplicated row).
    "x45_release_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val base = s"$scratchDir/x45" // process-unique; overwritten per run
      new graft.io.Store(s, base).writeRelease(Tables.documents(s, dir), "release")
      val cardSchema = StructType(Seq(
        StructField("split", StringType), StructField("source", StringType),
        StructField("n_docs", LongType), StructField("n_tokens", LongType),
        StructField("checksum", LongType), StructField("min_id", LongType),
        StructField("max_id", LongType)))
      s.read.schema(cardSchema).json(s"$base/release/_card")
    }),
    // Partition-PRUNING witness over the date-partitioned Parquet scale
    // sink (Store.writePartitioned — SURVEY §4's datetime-derived layout):
    // write events partitioned by dt=to_date(ts), then aggregate a 3-day
    // window. The date predicate lands on the PARTITION column, so the
    // scan enumerates 3 of the 30 dt= directories and never opens the
    // rest — at 100 TB this is the difference between reading 3 days and
    // reading 3 years; PlanSpec pins both the PartitionFilters plan node
    // and (via input_file_name) the actual pruned file set. DuckDB replays
    // the same window straight off the ts column, so a green row also
    // proves the sink's dt derivation partitions the rows correctly
    // (every row lands in exactly the dt the oracle derives from its ts).
    "x46_partition_prune" -> ((s, dir) => {
      val base = s"$scratchDir/x46"
      new graft.io.Store(s, base)
        .writePartitioned(Tables.events(s, dir), "events_by_day", tsCol = "ts")
      s.read.parquet(s"$base/events_by_day")
        .where(col("dt").between("2024-01-10", "2024-01-12"))
        // dt ships as yyyy-MM-dd TEXT: parquet date32 vs DuckDB's date
        // land as different pandas dtypes in the compare harness
        .groupBy(date_format(col("dt").cast("date"), "yyyy-MM-dd").as("dt"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    }),
    // ORC round trip: the documents corpus through the second columnar
    // interchange format (Store.writeOrc/readOrc) and back, audited by the
    // same text-sensitive per-(source, lang) aggregate the release card
    // uses — n_docs/sum_chars/min/max plus an order-independent bit-XOR
    // md5 checksum over the TEXT, so a green row proves the ORC
    // encode/decode loses or mangles nothing (not even one character of
    // one document). DuckDB replays the aggregate straight off parquet.
    "x48_orc_roundtrip" -> ((s, dir) => {
      val base = s"$scratchDir/x48"
      val store = new graft.io.Store(s, base)
      store.writeOrc(Tables.documents(s, dir), "docs_orc")
      store.readOrc("docs_orc")
        .withColumn("__h", conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          expr("bit_xor(__h)").as("checksum"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),
    // File-level data skipping on a continuous key (Store.writeClustered —
    // x46's directory-pruning sibling for keys too high-cardinality to be
    // directories): events range-clustered by user_id into 8 files, then a
    // 10-of-150 user-range aggregate off the read-back. The range layout
    // concentrates the matching rows in ONE file's key slice (PlanSpec
    // pins the touched-file count via input_file_name); DuckDB replays the
    // same aggregate straight off the raw events, so a green row also
    // proves the cluster-sort write loses/duplicates nothing in the range.
    "x51_clustered_prune" -> ((s, dir) => {
      val base = s"$scratchDir/x51"
      new graft.io.Store(s, base)
        .writeClustered(Tables.events(s, dir), "events_by_user", Seq("user_id"))
      s.read.parquet(s"$base/events_by_user")
        .where(col("user_id").between(40, 49))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Multi-key clustered layout (x51's two-predicate face): ONE z-ordered
    // copy — bits of the quantile-bucket ranks of user_id and ts
    // interleaved into a space-filling curve — serves file-level skipping
    // to predicates on EITHER column alone (PlanSpec pins both touched
    // subsets at <= half the files, and that the linear layout gives the
    // second column nothing). The declared aggregate reads the store back
    // through both predicates at once; the result is layout-independent,
    // so DuckDB replays it straight off the raw table.
    "x51b_zorder_prune" -> ((s, dir) => {
      val base = s"$scratchDir/x51b"
      new graft.io.Store(s, base)
        .writeZordered(Tables.events(s, dir), "events_z", Seq("user_id", "ts"),
          files = 16)
      s.read.parquet(s"$base/events_z")
        .where(col("user_id").between(40, 49) &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Catalog face of the layout sinks (x51b reached through PURE SQL):
    // the z-ordered store is registered as an external parquet table and
    // the aggregate runs via spark.sql/FROM — same files, same
    // FileSourceScan, same skipping (PlanSpec pins the pruning witness on
    // a spark.table read). The result is layout- and catalog-independent,
    // so DuckDB replays it straight off the raw events.
    "x58_catalog_zorder" -> ((s, dir) => {
      val base = s"$scratchDir/x58"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_z", Seq("user_id", "ts"),
        files = 16)
      store.registerCatalog("graft_x58_events_z", "events_z")
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM graft_x58_events_z
              |WHERE user_id BETWEEN 90 AND 99
              |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
              |  AND ts < TIMESTAMP '2024-01-08 00:00:00'
              |GROUP BY event_type""".stripMargin)
    }),
    // Manifest-driven catalog face (x58 with the listing window closed):
    // the registered view is PINNED to the manifest's file set —
    // readSnapshot semantics for pure-SQL consumers — and every mutator's
    // commit re-pins it, so the append here must be visible through the
    // view without re-registration (TimeTravelSpec pins the mid-journal
    // exactness a listing-based table cannot give; PlanSpec pins that
    // pruning survives the view). The aggregate is layout- and
    // catalog-independent, so DuckDB replays it off the raw events.
    "x58b_snapshot_view" -> ((s, dir) => {
      val base = s"$scratchDir/x58b"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 100), "events_sv",
        Seq("user_id", "ts"), files = 8)
      store.registerSnapshotView("graft_x58b_snap", "events_sv")
      store.appendZordered(e.where(col("user_id") >= 100), "events_sv",
        Seq("user_id", "ts"), files = 4)
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM graft_x58b_snap
              |GROUP BY event_type""".stripMargin)
    }),
    // SQL time-travel face (x62 through pure SQL): the version view is
    // pinned to manifest epoch 0 — the PRE-delete, pre-recluster table —
    // and survives both mutations because their replaced files RETIRE
    // rather than delete. A vacuumed epoch turns the view loud-on-use
    // (TimeTravelSpec pins it); DuckDB replays the pre-mutation aggregate
    // over the raw events.
    "x62b_sql_time_travel" -> ((s, dir) => {
      val base = s"$scratchDir/x62b"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_hist",
        Seq("user_id", "ts"), files = 8)                      // epoch 0
      store.deleteWhere("events_hist",
        col("user_id").between(40, 49) && col("event_type") === "click") // epoch 1
      store.recluster("events_hist", Seq("user_id", "ts"), files = 8) // epoch 2
      store.registerVersionView("graft_x62b_v0", "events_hist", 0L)
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM graft_x62b_v0
              |GROUP BY event_type""".stripMargin)
    }),
    // The full lakehouse maintenance cycle as one declared operator:
    // curve-clustered base layout + two localized appends (each its own
    // internally-clustered layer) + SCOPED recluster (only the eroded
    // base files rewritten — StoreSpec pins byte/mtime identity of the
    // untouched ones) + full read-back aggregate. The aggregate is
    // layout-independent, so DuckDB replays it off the raw events — a
    // green row proves the write/append/journaled-rewrite cycle loses
    // and duplicates NOTHING, which is the whole contract of OPTIMIZE.
    "x59_scoped_optimize" -> ((s, dir) => {
      val base = s"$scratchDir/x59"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 100), "events_zm",
        Seq("user_id", "ts"), files = 8)
      store.appendZordered(e.where(col("user_id") >= 100 && col("user_id") < 125),
        "events_zm", Seq("user_id", "ts"), files = 4)
      store.appendZordered(e.where(col("user_id") >= 125), "events_zm",
        Seq("user_id", "ts"), files = 4)
      store.scopedRecluster("events_zm")
      s.read.parquet(s"$base/events_zm")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Copy-on-write DELETE scoped to touched files (right-to-erasure /
    // takedown on a 100 TB corpus without a table rewrite): matches are
    // located by one pushed-predicate scan, only the files containing
    // them are filtered + swapped through the scoped-commit journal
    // (StoreSpec pins untouched-file byte/mtime identity). The read-back
    // aggregate is layout-independent, so DuckDB replays it as a plain
    // NOT(predicate) aggregate — a green row proves the delete removed
    // exactly the matching rows and nothing else.
    "x60_cow_delete" -> ((s, dir) => {
      val base = s"$scratchDir/x60"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_del",
        Seq("user_id", "ts"), files = 8)
      store.deleteWhere("events_del",
        col("user_id").between(40, 49) && col("event_type") === "click")
      s.read.parquet(s"$base/events_del")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Copy-on-write UPDATE scoped to touched files (x60's sibling for
    // in-place corrections — re-labels, redactions, re-scores — without
    // a table rewrite): matching rows get the SET projection, everything
    // else passes through, only match-bearing files move (StoreSpec pins
    // untouched-file identity and the CASE-WHEN content law). DuckDB
    // replays the whole operation as a CASE WHEN over the raw rows.
    "x61_cow_update" -> ((s, dir) => {
      val base = s"$scratchDir/x61"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_upd",
        Seq("user_id", "ts"), files = 8)
      store.updateWhere("events_upd",
        col("user_id").between(40, 49) && col("event_type") === "click",
        Map("event_type" -> lit("click_redacted")))
      s.read.parquet(s"$base/events_upd")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Snapshot retention / time travel: the layout mutators retire
    // replaced files and snapshot every manifest epoch, so the table can
    // be read AS OF any un-vacuumed epoch. Here a COW delete and a full
    // recluster both mutate the table, a retention pass keeps the history,
    // and the declared read is epoch 0 — the PRE-delete table — whose
    // aggregate DuckDB replays over the raw events. A readVersion that
    // peeked at the live directory instead of the epoch manifest would
    // red this row (the live table is missing the deleted slice).
    "x62_time_travel" -> ((s, dir) => {
      val base = s"$scratchDir/x62"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_hist",
        Seq("user_id", "ts"), files = 8)                      // epoch 0
      store.deleteWhere("events_hist",
        col("user_id").between(40, 49) && col("event_type") === "click") // epoch 1
      store.recluster("events_hist", Seq("user_id", "ts"), files = 8) // epoch 2
      store.vacuum("events_hist", keepLast = 3)               // keeps 0..2
      store.readVersion("events_hist", 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // x60 driven through PURE SQL: `DELETE FROM` against the cataloged
    // layout table routes through the same journaled copy-on-write
    // deleteWhere via the SqlDmlRewrite optimizer rule (stock Spark
    // rejects DELETE on v1 parquet tables at planning). Same oracle as
    // x60 — the SQL face must be semantically identical to the API face.
    "x60b_sql_delete" -> ((s, dir) => {
      val base = s"$scratchDir/x60b"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_sdel",
        Seq("user_id", "ts"), files = 8)
      store.registerCatalog("graft_x60b_events", "events_sdel")
      s.sql("""DELETE FROM graft_x60b_events
              |WHERE user_id BETWEEN 40 AND 49 AND event_type = 'click'""".stripMargin)
      s.read.parquet(s"$base/events_sdel")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // x61 driven through PURE SQL: `UPDATE … SET` against the cataloged
    // layout table routes through updateWhere (same rewrite rule). Same
    // oracle as x61.
    "x61b_sql_update" -> ((s, dir) => {
      val base = s"$scratchDir/x61b"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_supd",
        Seq("user_id", "ts"), files = 8)
      store.registerCatalog("graft_x61b_events", "events_supd")
      s.sql("""UPDATE graft_x61b_events SET event_type = 'click_redacted'
              |WHERE user_id BETWEEN 40 AND 49 AND event_type = 'click'""".stripMargin)
      s.read.parquet(s"$base/events_supd")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // The DSv2 catalog face (x58b's per-statement sibling): a
    // `spark.sql.catalog.<name>` GraftCatalog resolves the MANIFEST at
    // every statement, so the SQL consumer needs no registration and no
    // re-pin — `FROM graft_x58c.events_z` is the committed epoch, always
    // (GraftCatalogSpec pins mid-journal exactness, pushdown through the
    // wrapped v2 ParquetTable, and read-only enforcement). Same
    // layout-independent aggregate; DuckDB replays it off raw events.
    "x58c_v2_catalog" -> ((s, dir) => {
      val base = s"$scratchDir/x58c"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 100), "events_z",
        Seq("user_id", "ts"), files = 8)
      s.conf.set("spark.sql.catalog.graft_x58c", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x58c.base", base)
      store.appendZordered(e.where(col("user_id") >= 100), "events_z",
        Seq("user_id", "ts"), files = 4)
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM graft_x58c.events_z
              |GROUP BY event_type""".stripMargin)
    }),
    // REAL `VERSION AS OF` SQL over the manifest epochs (x62b through the
    // DSv2 loadTable(ident, version) route instead of a pinned view):
    // epoch 0 is the pre-delete, pre-recluster table, resolved per
    // statement. Same pre-mutation oracle as x62/x62b.
    "x62c_sql_version_as_of" -> ((s, dir) => {
      val base = s"$scratchDir/x62c"
      val store = new graft.io.Store(s, base)
      store.writeZordered(Tables.events(s, dir), "events_hist",
        Seq("user_id", "ts"), files = 8)                      // epoch 0
      store.deleteWhere("events_hist",
        col("user_id").between(40, 49) && col("event_type") === "click") // epoch 1
      store.recluster("events_hist", Seq("user_id", "ts"), files = 8) // epoch 2
      s.conf.set("spark.sql.catalog.graft_x62c", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x62c.base", base)
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM graft_x62c.events_hist VERSION AS OF 0
              |GROUP BY event_type""".stripMargin)
    }),
    // The DAILY MAINTENANCE LOOP as one declared operator — not the
    // parts (x59 proves the scoped pass, x62 the retention machinery)
    // but their measured-trigger composition: erode with appends that
    // overlap the base in every curve dimension, let the MEASURED
    // erosion/file-count triggers decide the scoped pass (which retires
    // what it rewrites), then let the MEASURED retired-bytes trigger
    // decide the vacuum. A green row proves the full cycle — append,
    // triggered OPTIMIZE, triggered retention — loses and duplicates
    // nothing; the trigger laws themselves are spec-pinned
    // (TimeTravelSpec/StoreSpec). DuckDB replays the layout-independent
    // aggregate off the raw events.
    "x63_maintenance_cycle" -> ((s, dir) => {
      val base = s"$scratchDir/x63"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      // slices by event_id stripe: each spans the FULL (user_id, ts) key
      // space, so the appends genuinely erode the base layout
      store.writeZordered(e.where(col("event_id") % 3 === 0), "events_mc",
        Seq("user_id", "ts"), files = 8)
      store.appendZordered(e.where(col("event_id") % 3 === 1), "events_mc",
        Seq("user_id", "ts"), files = 2)
      store.appendZordered(e.where(col("event_id") % 3 === 2), "events_mc",
        Seq("user_id", "ts"), files = 2)
      store.maintainZordered("events_mc", maxTouchedPerProbe = 1.5,
        maxAppendFiles = Some(3))
      store.maintainRetention("events_mc", maxRetiredFraction = 0.05, keepLast = 1)
      s.read.parquet(s"$base/events_mc")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // x63's maintenance loop driven from PURE SQL: the CALL procedures
    // (ProcedureCatalog — Spark 4's stored-procedure face) run the same
    // measured triggers through the same journaled operators, and the
    // read-back goes through the catalog. The oracle is identical to
    // x63's: maintenance must never change what the table SAYS.
    "x69_sql_maintenance" -> ((s, dir) => {
      val base = s"$scratchDir/x69"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("event_id") % 3 === 0), "events_sm",
        Seq("user_id", "ts"), files = 8)
      store.appendZordered(e.where(col("event_id") % 3 === 1), "events_sm",
        Seq("user_id", "ts"), files = 2)
      store.appendZordered(e.where(col("event_id") % 3 === 2), "events_sm",
        Seq("user_id", "ts"), files = 2)
      s.conf.set("spark.sql.catalog.graft_x69", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x69.base", base)
      s.sql("CALL graft_x69.maintain('events_sm', 1.5, 3, 0.05, 1)").collect()
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  COUNT(DISTINCT user_id) AS n_users
              |FROM graft_x69.events_sm
              |GROUP BY event_type""".stripMargin)
    }),
    // SCHEMA EVOLUTION (the Delta/Iceberg add-column discipline): `ALTER
    // TABLE graft.t ADD COLUMN` commits a METADATA-ONLY epoch — same file
    // set, widened declared schema (SchemaEvolutionSpec pins that no data
    // file moves) — and every reader projects old files to it (new column
    // null), while a later append lands rows that carry it. At 100 TB
    // this is one snapshot write instead of a full-table rewrite. The
    // read-back goes through the catalog (declared schema applied);
    // DuckDB replays the two vintages as a UNION with a NULL column.
    "x70_schema_evolution" -> ((s, dir) => {
      val base = s"$scratchDir/x70"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 100), "events_se",
        Seq("user_id", "ts"), files = 4)                             // epoch 0
      s.conf.set("spark.sql.catalog.graft_x70", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x70.base", base)
      s.sql("ALTER TABLE graft_x70.events_se ADD COLUMN score DOUBLE") // epoch 1
      store.appendZordered(
        e.where(col("user_id").between(100, 149))
          .withColumn("score", col("value") * 2), "events_se",
        Seq("user_id", "ts"), files = 2)                             // epoch 2
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  ROUND(SUM(COALESCE(score, 0)), 2) AS sum_score,
              |  COUNT(score) AS n_scored
              |FROM graft_x70.events_se
              |GROUP BY event_type""".stripMargin)
    }),
    // ROW-LEVEL CHANGE FEED (the Delta CDF role): a MERGE commits one COW
    // epoch, and changeFeed diffs the retired vs replacement file sets
    // KEYED on event_id — updated rows emit an update_preimage/postimage
    // pair (old and new value), source rows matching nothing emit
    // inserts, and the region's pass-through rows emit NOTHING (content
    // equal), which is what makes maintenance invisible downstream. Cost
    // is O(delta files), never the table. DuckDB replays the same diff
    // from the merge's set algebra.
    "x71_change_feed" -> ((s, dir) => {
      val base = s"$scratchDir/x71"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 150), "events_cf",
        Seq("user_id", "ts"), files = 4)                             // epoch 0
      val src = e.where(col("user_id").between(100, 169))
        .withColumn("value", col("value") + 1000)
      store.mergeInto("events_cf", src,
        on = expr("__t.event_id = __s.event_id"),
        matched = Seq(graft.io.Store.MergeUpdate(
          Map("value" -> expr("__s.value")))),
        insert = Some((Map(
          "event_id" -> expr("__s.event_id"), "ts" -> expr("__s.ts"),
          "user_id" -> expr("__s.user_id"),
          "event_type" -> expr("__s.event_type"),
          "value" -> expr("__s.value"), "props" -> expr("__s.props")),
          None)))                                                    // epoch 1
      store.changeFeed("events_cf", Seq("event_id"), sinceEpoch = 0)
        .groupBy(col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    }),
    // Partitioned-store MAINTENANCE from pure SQL (x69's sibling on the
    // dt-shaped layout): the replace deliberately fragments every day
    // into 8 small files, CALL maintain routes to the per-partition
    // compaction (retire-backed epoch; PartCompactSpec pins that healthy
    // partitions keep byte/mtime identity and the change feed is silent),
    // and the catalog read-back must aggregate to exactly the raw rows —
    // maintenance never changes what the table SAYS.
    "x72_part_maintain" -> ((s, dir) => {
      val base = s"$scratchDir/x72"
      val store = new graft.io.Store(s, base)
      store.writePartitionedManaged(Tables.events(s, dir).repartition(8),
        "events_pc", tsCol = "ts")                                   // epoch 0
      s.conf.set("spark.sql.catalog.graft_x72", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x72.base", base)
      s.sql("CALL graft_x72.maintain('events_pc', 1.5, 2, 1000.0, 2)").collect()
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  COUNT(DISTINCT dt) AS n_days
              |FROM graft_x72.events_pc
              |GROUP BY event_type""".stripMargin)
    }),
    // x60b over the OTHER common lakehouse shape: `DELETE FROM` a
    // dt-PARTITIONED store (the date-scoped takedown every real operator
    // runs). The dt predicate partition-prunes the locate scan — the
    // table's own directories scope the COW search — and the replacement
    // files are re-staged per partition directory, so untouched dates
    // keep name/bytes/mtime (SqlDmlSpec pins both). DuckDB replays the
    // delete as NOT(predicate) with dt re-derived from ts.
    "x60c_sql_delete_part" -> ((s, dir) => {
      val base = s"$scratchDir/x60c"
      val store = new graft.io.Store(s, base)
      store.writePartitioned(Tables.events(s, dir), "events_pdel", tsCol = "ts")
      store.registerCatalog("graft_x60c_events", "events_pdel")
      s.catalog.recoverPartitions("graft_x60c_events")
      s.sql("""DELETE FROM graft_x60c_events
              |WHERE dt = DATE'2024-01-05' AND event_type = 'click'""".stripMargin)
      s.read.parquet(s"$base/events_pdel")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // MANAGED partitioned store (manifest epochs on the MOST COMMON ingest
    // shape): full replace commits epoch 0, the daily-ingest partition
    // upsert commits epoch 1 — only the touched day's files move (spec
    // pins untouched-partition byte/mtime identity) — and the declared
    // read is the manifest-pinned CURRENT snapshot, partition column
    // reconstructed. DuckDB replays the upsert as a CASE WHEN on the
    // day's rows (the upsert's replacement batch derives from raw events).
    "x64_part_upsert" -> ((s, dir) => {
      val base = s"$scratchDir/x64"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writePartitionedManaged(e, "events_pm", tsCol = "ts")   // epoch 0
      val day = e.where(to_date(col("ts")) === lit("2024-01-05").cast("date"))
      store.upsertPartitionsManaged(day.withColumn("value", col("value") + 1000),
        "events_pm", tsCol = "ts")                                  // epoch 1
      store.readSnapshot("events_pm")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("dt")).as("n_days"))
    }),
    // Time travel over the PARTITIONED mutation chain (x62's sibling on
    // the dt-shaped store): replace (epoch 0) -> partition upsert (epoch
    // 1) -> COW delete whose dt predicate partition-prunes its own locate
    // scan (epoch 2, RETIRES into the in-partition retired dirs). The
    // declared read is epoch 0 — the pre-mutation table — with the
    // partition column reconstructed across live AND retired files
    // (n_days counts dt); DuckDB replays the full raw aggregate.
    "x64b_part_time_travel" -> ((s, dir) => {
      val base = s"$scratchDir/x64b"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writePartitionedManaged(e, "events_pm", tsCol = "ts")   // epoch 0
      val day = e.where(to_date(col("ts")) === lit("2024-01-05").cast("date"))
      store.upsertPartitionsManaged(day.withColumn("value", col("value") + 1000),
        "events_pm", tsCol = "ts")                                  // epoch 1
      store.deleteWhere("events_pm",
        col("dt") === lit("2024-01-07").cast("date") && col("event_type") === "click") // epoch 2
      store.readVersion("events_pm", 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("dt")).as("n_days"))
    }),
    // x60c's takedown on the MANAGED partitioned store: the SQL DELETE
    // routes through the same journaled COW, but the manifest makes it
    // RETIRE instead of delete — the declared read is epoch 0 AFTER the
    // delete, so a green row proves the takedown is recoverable (the exact
    // property the manifest-less x60c shape lacks). DuckDB replays the
    // pre-delete table off raw events.
    "x64c_sql_delete_part_retire" -> ((s, dir) => {
      val base = s"$scratchDir/x64c"
      val store = new graft.io.Store(s, base)
      store.writePartitionedManaged(Tables.events(s, dir), "events_pr",
        tsCol = "ts")                                               // epoch 0
      store.registerCatalog("graft_x64c_events", "events_pr")
      s.catalog.recoverPartitions("graft_x64c_events")
      s.sql("""DELETE FROM graft_x64c_events
              |WHERE dt = DATE'2024-01-05' AND event_type = 'click'""".stripMargin) // epoch 1
      store.readVersion("events_pr", 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // REAL `VERSION AS OF` SQL over the PARTITIONED manifest epochs (x62c
    // on the dt-shaped store): the DSv2 catalog anchors the epoch-0 file
    // set at the table root, so the partition column reconstructs through
    // pure SQL even after the delete retired the day's files. DuckDB
    // replays the pre-mutation aggregate with dt re-derived from ts.
    "x64d_v2_part_version" -> ((s, dir) => {
      val base = s"$scratchDir/x64d"
      val store = new graft.io.Store(s, base)
      store.writePartitionedManaged(Tables.events(s, dir), "events_pm",
        tsCol = "ts")                                               // epoch 0
      store.deleteWhere("events_pm",
        col("dt") === lit("2024-01-05").cast("date") && col("event_type") === "click") // epoch 1
      s.conf.set("spark.sql.catalog.graft_x64d", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x64d.base", base)
      s.sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  CAST(COUNT(DISTINCT dt) AS BIGINT) AS n_days
              |FROM graft_x64d.events_pm VERSION AS OF 0
              |GROUP BY event_type""".stripMargin)
    }),
    // STREAMING read over a manifest store — epochs as offsets (x-named,
    // not st-named, deliberately: st* is the reference-parity §2.9 tier
    // that the fingerprinted CORE bench surface tracks; this is an
    // engine-side extension and must not shift that fingerprint): a REAL
    // `readStream.table` through the DSv2 catalog consumes the store as a
    // changelog (first batch = the start epoch's file set, then one delta
    // per committed append epoch), into a memory sink under
    // Trigger.AvailableNow. Batches diff manifest SNAPSHOTS, never a
    // directory listing, so the collected rows are exactly the table —
    // DuckDB replays the layout-independent aggregate off raw events.
    // StreamingSpec pins per-epoch batch identity and the loud
    // append-only (rewrite-refusing) contract.
    "x65_stream_epochs" -> ((s, dir) => {
      val base = s"$scratchDir/st5"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 100), "events_feed",
        Seq("user_id", "ts"), files = 4)
      store.appendZordered(e.where(col("user_id") >= 100 && col("user_id") < 150),
        "events_feed", Seq("user_id", "ts"), files = 2)
      store.appendZordered(e.where(col("user_id") >= 150), "events_feed",
        Seq("user_id", "ts"), files = 2)
      s.conf.set("spark.sql.catalog.graft_st5", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_st5.base", base)
      // fresh checkpoint + sink per invocation: a reused checkpoint would
      // make a second in-JVM run (bench warmup) see "nothing new" and
      // return an empty sink
      val uid = "graft_st5_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val ck = java.nio.file.Files.createTempDirectory("graft-st5-ck").toString
      val q = s.readStream.table("graft_st5.events_feed")
        .writeStream.format("memory").queryName(uid)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val agg = s.table(uid)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
      // materialize BEFORE dropping the sink, then clean up: each
      // invocation otherwise leaks a driver-memory sink holding the whole
      // table plus a checkpoint dir (bench warmup + runs accumulate)
      val rows = agg.collect().toSeq
      val out = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), agg.schema)
      s.catalog.dropTempView(uid)
      val ckPath = new org.apache.hadoop.fs.Path(ck)
      ckPath.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ckPath, true)
      out
    }),
    // MERGE INTO — the lakehouse upsert statement, through PURE SQL over
    // the cataloged z-store: matched rows take the source value, unmatched
    // source rows insert, all as ONE journaled epoch (touched files
    // retire — SqlDmlSpec pins untouched-file identity, the recoverable
    // epoch, and SQL's multi-match cardinality law). DuckDB replays the
    // merge as LEFT JOIN + NOT IN union semantics.
    "x66_merge_upsert" -> ((s, dir) => {
      val base = s"$scratchDir/x66"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 150), "events_mg",
        Seq("user_id", "ts"), files = 8)                            // epoch 0
      store.registerCatalog("graft_x66_events", "events_mg")
      e.where(col("user_id") >= 100)
        .withColumn("value", col("value") + 1000)
        .createOrReplaceTempView("graft_x66_src")
      s.sql("""MERGE INTO graft_x66_events t USING graft_x66_src s
              |ON t.event_id = s.event_id
              |WHEN MATCHED THEN UPDATE SET value = s.value
              |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props)
              |VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin)
      s.read.parquet(s"$base/events_mg")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // The CDC APPLY — ordered matched clauses, first match wins: one
    // MERGE statement deletes the feed's tombstones, upserts everything
    // else, and never inserts a tombstone for a row it doesn't have (the
    // gated NOT MATCHED). This is THE nightly shape a lakehouse table fed
    // by change capture runs; it commits as one retire-backed epoch.
    // DuckDB replays the final state directly off the raw slices.
    "x67_merge_cdc" -> ((s, dir) => {
      val base = s"$scratchDir/x67"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 150), "events_cdc",
        Seq("user_id", "ts"), files = 8)                            // epoch 0
      store.registerCatalog("graft_x67_events", "events_cdc")
      e.where(col("user_id").between(40, 49)).withColumn("op", lit("D"))
        .unionByName(e.where(col("user_id").between(100, 199))
          .withColumn("value", col("value") + 1000).withColumn("op", lit("U")))
        .unionByName(e.where(col("user_id").between(200, 209))
          .withColumn("op", lit("D")))
        .createOrReplaceTempView("graft_x67_src")
      s.sql("""MERGE INTO graft_x67_events t USING graft_x67_src s
              |ON t.event_id = s.event_id
              |WHEN MATCHED AND s.op = 'D' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET value = s.value
              |WHEN NOT MATCHED AND s.op != 'D' THEN
              |  INSERT (event_id, ts, user_id, event_type, value, props)
              |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin)
      s.read.parquet(s"$base/events_cdc")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // The FULL DML statement surface through the DSv2 catalog ident
    // (graft.t): UPDATE and MERGE INTO route to the same journaled COW
    // core the v1 face uses (post-optimizer router recognizing the
    // GraftTable relation), CAS-guarded and retire-backed — a pure-SQL
    // consumer needs no registerCatalog and no path. The read-back is
    // ALSO through the catalog (manifest-exact, per-statement
    // resolution). DuckDB replays update-then-merge as CASE + LEFT JOIN
    // + NOT-IN union.
    "x68_v2_dml" -> ((s, dir) => {
      val base = s"$scratchDir/x68"
      val store = new graft.io.Store(s, base)
      val e = Tables.events(s, dir)
      store.writeZordered(e.where(col("user_id") < 150), "events_v2",
        Seq("user_id", "ts"), files = 8)                            // epoch 0
      s.conf.set("spark.sql.catalog.graft_x68", "graft.sql.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_x68.base", base)
      s.sql("""UPDATE graft_x68.events_v2 SET value = value + 500
              |WHERE user_id BETWEEN 10 AND 19""".stripMargin)      // epoch 1
      e.where(col("user_id").between(120, 169))
        .withColumn("value", col("value") + 1000)
        .createOrReplaceTempView("graft_x68_src")
      s.sql("""MERGE INTO graft_x68.events_v2 t USING graft_x68_src s
              |ON t.event_id = s.event_id
              |WHEN MATCHED THEN UPDATE SET value = s.value
              |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props)
              |VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin) // epoch 2
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  ROUND(SUM(value), 2) AS sum_value,
              |  COUNT(DISTINCT user_id) AS n_users
              |FROM graft_x68.events_v2
              |GROUP BY event_type""".stripMargin)
    }),
    // CDC-style snapshot diff (incremental-recompute driver): one row per
    // changed key between a synthetic "previous" snapshot (missing the
    // mod-11 slice -> inserts; n_chars bumped on the mod-7 slice ->
    // updates; extra offset rows -> deletes) and the current corpus.
    // Emitting ONLY the changed slice is what lets a 100-TB pipeline
    // re-clean/re-embed/re-index a nightly delta instead of the world;
    // DuckDB replays the full-outer join and the null-safe row compare.
    "x49_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.where(col("doc_id") % 11 =!= 3)
        .withColumn("n_chars",
          when(col("doc_id") % 7 === 2, col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(docs.where(col("doc_id") % 13 === 5)
          .withColumn("doc_id", col("doc_id") + 500000))
      graft.operators.SnapshotDiff.diff(prev, docs, "doc_id",
        Seq("text", "lang", "source", "n_chars"))
    }),
    // SCD2 history build (x49's longitudinal twin): collapse each user's
    // event_type observations into validity intervals — one row per value
    // RUN with [valid_from, valid_to) bounds and an is_current flag, the
    // point-in-time-join shape for dimension history. DuckDB replays the
    // change-point lag and the interval-closing lead verbatim.
    "x52_scd2_history" -> ((s, dir) =>
      graft.operators.Scd2.history(Tables.events(s, dir), "user_id",
        Seq("ts", "event_id"), Seq("event_type"))),
    // Point-in-time join over the x52 history — the query shape SCD2
    // exists for ("which status did this user have when the fact
    // happened?"): each fact row picks up the dimension value whose
    // half-open interval covers its timestamp (null valid_to = current).
    // The equality conjunct on user_id keys the join — a SortMergeJoin
    // with the interval bounds as residual conditions, never a cartesian
    // (PlanSpec pins it; this is also the band-join family BandJoinRewrite
    // guards on the SQL surface, where the equi-key makes the rewrite
    // unnecessary). Intervals partition each key's timeline, so every
    // fact matches exactly one history row; DuckDB replays history build
    // and join verbatim.
    "x52b_point_in_time" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val h = graft.operators.Scd2.history(events, "user_id",
          Seq("ts", "event_id"), Seq("event_type"))
        .select(col("user_id").as("h_user"), col("event_type").as("status_at_ts"),
          col("valid_from"), col("valid_to"))
      events.where(col("event_id") % 3 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
        .join(h, col("user_id") === col("h_user") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("status_at_ts"), col("valid_from"))
    }),
    // Incremental SCD2 maintenance (x52's O(delta) face): the history
    // built from the first half of the log, with the second half applied
    // as a batch — untouched keys anti-join through, touched keys rebuild
    // from (open run ∪ batch) only. The DECLARED law: the result hashes
    // identically to x52's full-log rebuild (same oracle SQL verbatim),
    // which is exactly the incremental==full contract the operator
    // promises. At 100 TB this is the difference between re-sorting an
    // append-only event log per batch and touching O(batch) state.
    "x52c_scd2_incremental" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val initial = graft.operators.Scd2.history(events.where(col("ts") < cut),
        "user_id", Seq("ts", "event_id"), Seq("event_type"))
      graft.operators.Scd2.applyBatch(initial, events.where(col("ts") >= cut),
        "user_id", Seq("ts", "event_id"), Seq("event_type"))
    }),
    // Trailing-window rate features ("events / value in the last hour",
    // "sum of the last 5 readings") — fraud-velocity / rate-limit /
    // trend-feature shape. RANGE frame over whole epoch seconds (equal
    // ticks are peers, so intra-tick order can't change the result), ROWS
    // frame tie-broken by event_id; DuckDB replays both frames.
    "x53_rolling_features" -> ((s, dir) =>
      graft.operators.Rolling.trailing(Tables.events(s, dir), "user_id",
        "ts", "event_id", "value", windowSeconds = 3600L, lastN = 5)),
    // The bucketed skew-safe face of x53 (hot keys pay rows x frame_size
    // in ONE task on the plain path — Spark recomputes sliding frames per
    // row; measured 5x the stage median under zipf(1.2), see PLANS.md
    // round 13): windows run per (key, 6h bucket) with exact carry rows
    // across boundaries. Output-identical to trailing (RollingSpec law),
    // so it shares x53's DuckDB oracle verbatim — a full hash-match on
    // the fixture, the same declaration pattern as w2b vs w2.
    "x53b_rolling_skewsafe" -> ((s, dir) =>
      graft.operators.Rolling.trailingSkewSafe(Tables.events(s, dir), "user_id",
        "ts", "event_id", "value", windowSeconds = 3600L, lastN = 5)),
    // Per-source document cap (domain-domination control): at most 40 docs
    // per source, chosen by deterministic md5-hash order — a hard count
    // guarantee per group, complementing x15's rate-based sampling. DuckDB
    // replays the hash order and the window verbatim.
    "x41_source_cap" -> ((s, dir) =>
      Sampling.capPerGroup(Tables.documents(s, dir), "source", cap = 40,
        key = "doc_id").select("doc_id", "source", "n_chars")),
    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis): exactly
    // 100 docs, selection proportional to document size — the
    // quality-weighted subsample shape rate sampling (x15) only gets in
    // expectation and the hard cap (x41) ignores weights for. DuckDB
    // replays md5 -> ln -> divide -> top-n verbatim; the plan is
    // TakeOrderedAndProject (PlanSpec) — per-task top-n, no global sort.
    "x54_weighted_sample" -> ((s, dir) =>
      Sampling.sampleWeighted(Tables.documents(s, dir), n = 100,
        weight = col("n_chars"), key = "doc_id")
        .select("doc_id", "source", "n_chars")),
    // Per-source weighted cap: x41's hard per-group guarantee, but the
    // survivors within each source favor weight (E-S within group) —
    // "at most 20 docs per domain, prefer the big ones". Same map-side
    // WindowGroupLimit shape as x41 (PlanSpec pins it).
    "x54b_weighted_cap" -> ((s, dir) =>
      Sampling.sampleWeightedPerGroup(Tables.documents(s, dir), "source",
        n = 20, weight = col("n_chars"), key = "doc_id")
        .select("doc_id", "source", "n_chars")),
    // Single-pass approximate per-group quantiles, AUDITED: the sketch
    // values are engine-specific (GK vs DuckDB's reservoir), so the
    // declared query is the exact rank-error check — per event_type, the
    // p50/p95 sketch answers' empirical ranks must sit within the
    // published GK bound n/accuracy (+1 discretization slack). The flags
    // hash-match the constant-1 oracle (the bound is a theorem; red =
    // sketch regression), same gate discipline as x2b/x7c/x47b. This is
    // a6's scale face: percentile_disc sorts each group somewhere;
    // percentile_approx folds bounded mergeable sketches task-side and
    // runs unchanged inside a streaming aggregation.
    "x55_quantile_audit" -> ((s, dir) =>
      graft.operators.Quantiles.withRankAudit(Tables.events(s, dir),
        "event_type", col("value"), probs = Seq(0.5, 0.95), accuracy = 1000)),
    // Resample + forward-fill onto a 6-hour grid: one row per (user,
    // tick) between the user's first and last observation — latest
    // reading carried forward, raw observation count per tick. The grid
    // is exact integer arithmetic, the fill copies parquet doubles
    // bit-for-bit, so DuckDB replays tick derivation, struct-max last
    // reading, generate_series spine, and IGNORE NULLS fill verbatim.
    "x56_resample_ffill" -> ((s, dir) =>
      graft.operators.Resample.toGrid(Tables.events(s, dir), "user_id",
        "ts", "event_id", "value", stepSeconds = 21600L)),
    // Mergeable persisted corpus card (x45's card without the rescan):
    // two batches each contribute one (split, source) stats row carrying
    // an HLL sketch column; the card MERGES stored rows (sums + sketch
    // union) and never rereads the corpus (mod-3 batches: the fixture's
    // source is a function of doc_id parity, so mod 3 puts every
    // (split, source) cell in BOTH batches — a genuine sketch union).
    // Declared through the x55-style
    // audit: the additive stats replay exactly in DuckDB (count_ok/
    // tokens_ok are sums), and distinct_ok pins the union-merged HLL
    // estimate inside the published Datasketches 3-RSE bound against an
    // exactly recomputed truth — a theorem unless the sketch bytes or the
    // merge broke (SketchCardSpec proves the red path with withheld rows).
    "x57_sketch_card" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val stats = graft.ext.Sampling.sketchStats(docs.where(col("doc_id") % 3 === 0))
        .unionByName(
          graft.ext.Sampling.sketchStats(docs.where(col("doc_id") % 3 =!= 0)))
      graft.ext.Sampling.sketchCardAudit(stats, docs)
    }),
    // Corpus-frequent span mining (boilerplate detection): all word
    // trigrams occurring >= 5 times anywhere, found via a count-min-sketch
    // prefilter + exact confirm on the survivors. The composition is EXACT
    // (a CMS never underestimates, so no frequent span can be lost; the
    // confirm pass drops every false candidate), so DuckDB replays it as a
    // plain string-trigram count with HAVING — no gate needed, the oracle
    // checks the sketch path outright.
    "x40_frequent_spans" -> ((s, dir) =>
      TextStats.frequentSpans(Tables.documents(s, dir), k = 3, minCount = 5)),
    // Boilerplate REMOVAL: trigrams in >= 5 distinct docs are cut from
    // every document (x40 only reports them). The CMS prefilter is
    // one-sided (occurrences upper-bound distinct docs) and the exact
    // countDistinct confirms, so DuckDB replays the whole decision —
    // distinct-doc counting, coverage union, rebuilt text — outright.
    "x43_boilerplate_removal" -> ((s, dir) =>
      TextStats.removeBoilerplate(Tables.documents(s, dir), k = 3, minDocs = 5)),
    // Within-document repetition (duplicate-shingle fraction) — the
    // standard boilerplate/template quality filter; DuckDB recomputes the
    // same fraction over string shingles (hash-collision-equal).
    "x22_text_repetition" -> ((s, dir) =>
      TextStats.withRepetition(Tables.documents(s, dir))
        .select("doc_id", "n_shingles", "n_distinct_shingles", "dup_fraction")),
    "x11_fingerprint" -> ((s, dir) =>
      TextStats.withFingerprint(Tables.documents(s, dir))
        .select("doc_id", "fp_min", "fp_max", "fp_full")),
    // Structural fingerprint invariants DuckDB can verify WITHOUT computing
    // xxhash64: every doc satisfies fp_min <= fp_max, and fp_full is a pure
    // function of text (distinct texts == distinct (text, fp_full) pairs —
    // identical texts always share a fingerprint). Turns the rows-only x11
    // into an oracle-checked quality gate. The distinct counts run over the
    // 64-bit content hash, not the text — shuffling full documents for a
    // distinct count is the wrong shape at scale; equal up to xxhash64
    // collisions (~2^-64), and the oracle counts its own distinct texts.
    "x11b_fingerprint_inv" -> ((s, dir) =>
      TextStats.withFingerprint(Tables.documents(s, dir)).agg(
        count(lit(1)).as("n_docs"),
        sum((col("fp_min") <= col("fp_max")).cast("long")).as("n_min_le_max"),
        countDistinct(xxhash64(col("text"))).as("n_texts"),
        countDistinct(xxhash64(col("text")), col("fp_full")).as("n_text_fp"))),

    // Per-source corpus report — the summary a curation pipeline emits per
    // ingestion round: volume, token mass, exact-dup pressure, quality
    // mass. Sums of already-6-decimal scores (never ROUND(AVG): boundary
    // ulps flip digits cross-engine); dup counting over the content hash.
    "x25_corpus_report" -> ((s, dir) => {
      val docs = TextStats.withQuality(Tables.documents(s, dir))
      docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col("text"))).as("n_tokens"),
        (count(lit(1)) - countDistinct(xxhash64(col("text")))).as("n_exact_dups"),
        round(sum(col("quality_score")), 6).as("sum_quality"))
    }),

    // ---- end-to-end curation ----------------------------------------------
    // The full composed pipeline (CurateJob): one decision row per batch
    // doc. Batch = doc_id % 7 = 0 (x20's convention), corpus = the rest,
    // split into train corpus vs held-out eval set by the x16 hash split.
    // Every stage is hash-deterministic, so DuckDB replays the ENTIRE
    // composition — clean, repetition filter, both dedup tiers,
    // decontamination, budget mix, and packing — in one query.
    "x27_curate_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      CurateJob.curate(docs.where(col("doc_id") % 7 === 0),
        docs.where(col("doc_id") % 7 =!= 0))
    }),
    // The end product a trainer consumes: one manifest row per packed
    // training sequence — how many docs it holds, its token mass, and the
    // doc stream in pack order (hash order within the sequence, the same
    // (pu, doc_id) key the packing window sorted by). The ENTIRE chain —
    // curation decisions AND sequence assembly — replays in one DuckDB
    // query built from the shared x27 CTE prefix.
    // Built through CurateJob.manifestsOnly: the manifest aggregates the
    // packed keep-frame straight off the stage chain instead of filtering
    // `action = 'keep'` back out of the 9-branch decision union, so this
    // query never evaluates the drop branches at all — and (round 11) the
    // chain skips the three checkpoints that exist solely for those drop
    // branches, removing their blocking materialization rounds too.
    // Values identical to manifests over curate(...)'s keep rows
    // (CurateJobSpec law).
    "x36_training_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      CurateJob.manifestsOnly(docs.where(col("doc_id") % 7 === 0),
        docs.where(col("doc_id") % 7 =!= 0))
    }),
    "x27b_curate_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      CurateJob.report(CurateJob.curate(docs.where(col("doc_id") % 7 === 0),
        docs.where(col("doc_id") % 7 =!= 0)))
    }),

    // ---- reproducible sampling / mixing -----------------------------------
    // Hash-deterministic decisions: the EXACT selected row set is replayed
    // by DuckDB from the same md5 arithmetic — reproducibility is the
    // contract, and the oracle proves it holds across engines.
    "x15_sample_stratified" -> ((s, dir) =>
      Sampling.sampleStratified(Tables.documents(s, dir), "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1),
        defaultRate = 0.25, key = "doc_id", salt = "mix")
        .select("doc_id", "source")),
    "x16_split" -> ((s, dir) =>
      Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))),
    // Token-budget data mixing: each source downsampled to an expected 500
    // tokens via the broadcast-threshold hash filter (mixing by token
    // mass, the unit an LLM training mix specifies). DuckDB replays the
    // totals, the threshold arithmetic, and the md5 decisions exactly.
    "x23_token_budget_mix" -> ((s, dir) =>
      Sampling.sampleByTokenBudget(Tables.documents(s, dir), "source",
        TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
        .select("doc_id", "source", "n_tokens")),
    // Epoch-aware UPsampling: budget 1400 sits inside the per-source token
    // range (~1136-1553 at sf0.01), so some sources repeat (floor(f) = 1
    // plus a fractional extra epoch) while others downsample (f < 1) in
    // the same run. DuckDB replays the totals, the floor/frac split, the
    // md5 draw, and the per-copy epoch indexes exactly.
    "x44_upsample_epochs" -> ((s, dir) =>
      Sampling.upsampleToBudget(Tables.documents(s, dir), "source",
        TextStats.tokenCount(col("text")), budgetTokens = 1400.0, key = "doc_id")
        .select("doc_id", "source", "n_tokens", "epoch")),
    // Temperature mixing (alpha = 0.5): per-source keep rates
    // sqrt(min_tokens / source_tokens) — sqrt is IEEE-correctly-rounded,
    // so the rate doubles and therefore the selected row SET replay
    // bit-identically in DuckDB.
    "x31_temperature_mix" -> ((s, dir) =>
      Sampling.sampleByTemperature(Tables.documents(s, dir), "source",
        TextStats.tokenCount(col("text")), alpha = 0.5, key = "doc_id")
        .select("doc_id", "source", "n_tokens", "keep_rate")),
    // Hard-cap variant: per-stratum cumsum over the hash order, keep while
    // the inclusive total stays <= 500 — the selection can never exceed
    // the budget. DuckDB replays the hash order, the ROWS-frame window,
    // and the cutoff exactly (cum_tokens in the output pins the window
    // arithmetic itself, not just the final row set).
    "x23b_token_budget_exact" -> ((s, dir) =>
      Sampling.sampleByTokenBudgetExact(Tables.documents(s, dir), "source",
        TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
        .select("doc_id", "source", "n_tokens", "cum_tokens")),

    // ---- multimodal -------------------------------------------------------
    // REAL codec round trip: synthetic per-doc pixel patterns encoded to
    // PNG and decoded back with javax.imageio inside each partition; the
    // oracle replays the decoded per-plane checksums as pure arithmetic
    // (possible because PNG is lossless and the pattern is a fixed
    // function of (doc_id, x, y, channel)).
    "x12_multimodal" -> ((s, dir) =>
      Multimodal.decodeDocuments(s, Tables.documents(s, dir)).toDF()),
    "x13_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.asMedia(s, Tables.documents(s, dir)), 4).toDF()),
    // Frame metadata minus the checksum is pure byte arithmetic DuckDB can
    // replay exactly (chunk boundaries from octet_length) — upgrades the
    // frame-sampling plumbing from rows-only to an oracle-checked row.
    "x13b_frames_meta" -> ((s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.asMedia(s, Tables.documents(s, dir)), 4).toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("n_bytes")))
  )

  /** DuckDB cosine between two DOUBLE[] expressions (sequential double
    * summation — bit-identical to the Spark `zip_with`+`aggregate` form).
    */
  private def duckCos(a: String, b: String): String =
    s"list_inner_product($a,$b) / (sqrt(list_inner_product($a,$a)) * sqrt(list_inner_product($b,$b)))"

  /** The x17 cleaning chain as a DuckDB expression over `text` — shared by
    * the x17 oracle and the x27 curation oracle so the replayed redaction
    * can never diverge between them. Same Java-regex/RE2-identical
    * patterns as [[TextStats.withCleaned]].
    */
  private val duckPhonePat =
    """\+[0-9]{1,3}[- ]?\(?[0-9]{2,4}\)?[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}|\([0-9]{2,4}\)[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}|[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}"""
  private val duckIpPat =
    """\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"""
  private val duckCleanExpr =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |    'https?://[^\\s]+', '<URL>', 'g'),
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '$duckPhonePat', '<PHONE>', 'g'),
       |    '$duckIpPat', '<IP>', 'g'),
       |    '\\s+', ' ', 'g'))""".stripMargin

  /** `Sampling.hashUnit(key, salt)` replayed as a DuckDB expression. */
  private def duckHashUnit(key: String, salt: String): String =
    s"CAST(concat('0x', substr(md5(concat(CAST($key AS VARCHAR), '|$salt')), 1, 8)) AS BIGINT) / 4294967296.0"

  /** Word 3-shingle comprehension over a `ws` split-list column. */
  private def duckShingles(ws: String): String =
    s"[array_to_string($ws[i:i+2], ' ') for i in range(1, len($ws)-1)]"

  /** The whole CurateJob composition replayed in DuckDB (default
    * CurateParams: tol 16, J >= 0.5, dup_fraction <= 0.3, structural
    * quality rules [10, 100000] words / mean len [3, 10] / max len <= 20,
    * eval = hash split u >= 0.9, budget 500 tokens/source,
    * 256-token/8-bucket packing). Stage CTEs mirror the
    * x17/x22/x30/x20/x19/x23/x21 oracles.
    */
  private lazy val x27Cte: String =
    s"""WITH RECURSIVE cl AS (
       |  SELECT doc_id, source, $duckCleanExpr AS ct FROM documents),
       |c2 AS (SELECT doc_id, source, ct, len(ct) AS nc, string_split(ct, ' ') AS ws,
       |         CAST(len(string_split(ct, ' ')) AS BIGINT) AS nt
       |       FROM cl),
       |rd AS (SELECT *, ROUND(CASE WHEN len(sha) = 0 THEN 0.0
       |         ELSE 1.0 - CAST(len(list_distinct(sha)) AS DOUBLE) / len(sha) END, 6) AS dupf
       |       FROM (SELECT *, ${duckShingles("ws")} AS sha
       |             FROM c2 WHERE doc_id % 7 = 0)),
       |rq AS (SELECT *,
       |         CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
       |           / greatest(len(ws), 1.0) AS ml,
       |         list_max(list_transform(ws, w -> len(w))) AS xl,
       |         len(list_distinct(ws)) AS nty,
       |         list_max(list_transform(list_distinct(ws),
       |           u -> len(list_filter(ws, x -> x = u)))) AS topc
       |       FROM rd WHERE dupf <= 0.3),
       |rk AS (SELECT doc_id, source, ct, nc, nt, list_distinct(sha) AS sh
       |       FROM rq WHERE nt >= 10 AND nt <= 100000
       |         AND ml >= 3.0 AND ml <= 10.0 AND xl <= 20
       |         AND nty * 5 >= nt * 2 AND topc * 8 <= nt),
       |be AS (SELECT ct, MIN(doc_id) AS m FROM rk GROUP BY ct),
       |rke AS (SELECT rk.* FROM rk JOIN be ON rk.ct = be.ct AND rk.doc_id = be.m),
       |bp AS (SELECT a.doc_id id_a, b.doc_id id_b
       |       FROM rke a JOIN rke b ON a.doc_id < b.doc_id AND abs(a.nc - b.nc) <= 16
       |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
       |e2 AS (SELECT id_a a, id_b b FROM bp UNION ALL SELECT id_b, id_a FROM bp),
       |reach2(s, t) AS (
       |  SELECT doc_id, doc_id FROM rke
       |  UNION
       |  SELECT r.s, e2.b FROM reach2 r JOIN e2 ON r.t = e2.a),
       |comp2 AS (SELECT s AS doc_id, MIN(t) AS rep FROM reach2 GROUP BY s),
       |rkn AS (SELECT rke.* FROM rke JOIN comp2
       |        ON rke.doc_id = comp2.doc_id AND comp2.rep = rke.doc_id),
       |co AS (SELECT *, ${duckHashUnit("doc_id", "split")} AS su
       |       FROM c2 WHERE doc_id % 7 <> 0),
       |tc AS (SELECT * FROM co WHERE su < 0.9),
       |ev AS (SELECT * FROM co WHERE su >= 0.9),
       |ch AS (SELECT ct, MIN(doc_id) AS exact_of FROM tc GROUP BY ct),
       |ex AS (SELECT rkn.doc_id, ch.exact_of FROM rkn LEFT JOIN ch ON rkn.ct = ch.ct),
       |tsh AS (SELECT doc_id, nc, list_distinct(${duckShingles("ws")}) AS sh FROM tc),
       |np AS (SELECT a.doc_id id_in, b.doc_id id_corp,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |         len(a.sh) + len(b.sh) AS tot
       |       FROM rkn a JOIN tsh b ON abs(a.nc - b.nc) <= 16),
       |nj AS (SELECT id_in, id_corp, ROUND(inter / (tot - inter), 6) AS j
       |       FROM np WHERE inter / (tot - inter) >= 0.5),
       |nb AS (SELECT id_in, id_corp, j FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY id_in
       |           ORDER BY j DESC, id_corp ASC) AS rn FROM nj) WHERE rn = 1),
       |ded AS (SELECT ex.doc_id,
       |          CASE WHEN ex.exact_of IS NOT NULL THEN 'drop_exact'
       |               WHEN nb.id_corp IS NOT NULL THEN 'drop_neardup'
       |               ELSE 'keep' END AS action,
       |          COALESCE(ex.exact_of, nb.id_corp) AS dup_of,
       |          CASE WHEN ex.exact_of IS NULL THEN nb.j END AS j
       |        FROM ex LEFT JOIN nb ON ex.doc_id = nb.id_in),
       |dk AS (SELECT rkn.* FROM rkn JOIN ded ON rkn.doc_id = ded.doc_id
       |       WHERE ded.action = 'keep'),
       |esh AS (SELECT doc_id, nc, list_distinct(${duckShingles("ws")}) AS sh FROM ev),
       |cp AS (SELECT a.doc_id id_in, b.doc_id id_ev,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |         len(a.sh) + len(b.sh) AS tot
       |       FROM dk a JOIN esh b ON abs(a.nc - b.nc) <= 16),
       |cj AS (SELECT id_in, id_ev, ROUND(inter / (tot - inter), 6) AS j
       |       FROM cp WHERE inter / (tot - inter) >= 0.5),
       |cb AS (SELECT id_in, id_ev, j FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY id_in
       |           ORDER BY j DESC, id_ev ASC) AS rn FROM cj) WHERE rn = 1),
       |ck AS (SELECT dk.* FROM dk LEFT JOIN cb ON dk.doc_id = cb.id_in
       |       WHERE cb.id_in IS NULL),
       |bt AS (SELECT source, SUM(nt) AS tot FROM ck GROUP BY source),
       |bu AS (SELECT ck.*, bt.tot, ${duckHashUnit("ck.doc_id", "curate-budget")} AS hu
       |       FROM ck JOIN bt USING (source)),
       |mx AS (SELECT * FROM bu WHERE hu < least(500.0 / tot, 1.0)),
       |pc AS (SELECT doc_id, source, nt, pu,
       |         CAST(floor(pu * 8) AS BIGINT) AS bucket
       |       FROM (SELECT doc_id, source, nt,
       |               ${duckHashUnit("doc_id", "curate-pack")} AS pu FROM mx)),
       |pk AS (SELECT doc_id, source, nt, pu, bucket,
       |         CAST(floor((SUM(nt) OVER (PARTITION BY bucket ORDER BY pu, doc_id
       |           ROWS UNBOUNDED PRECEDING) - 1.0) / 256) AS BIGINT) AS seq_id
       |       FROM pc)""".stripMargin

  private lazy val x27Sql: String =
    s"""$x27Cte
       |SELECT doc_id, source, 'drop_invalid' AS action,
       |       CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS jaccard,
       |       CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS bucket,
       |       CAST(NULL AS BIGINT) AS seq_id
       |FROM documents WHERE text IS NULL
       |UNION ALL
       |SELECT doc_id, source, 'drop_repetition',
       |       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       |       nt, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
       |FROM rd WHERE dupf > 0.3
       |UNION ALL
       |SELECT doc_id, source, 'drop_quality', NULL, NULL, nt, NULL, NULL
       |FROM rq WHERE NOT (nt >= 10 AND nt <= 100000
       |  AND ml >= 3.0 AND ml <= 10.0 AND xl <= 20
       |  AND nty * 5 >= nt * 2 AND topc * 8 <= nt)
       |UNION ALL
       |SELECT rk.doc_id, rk.source, 'drop_batch_exact', be.m, NULL, rk.nt, NULL, NULL
       |FROM rk JOIN be ON rk.ct = be.ct WHERE rk.doc_id <> be.m
       |UNION ALL
       |SELECT rke.doc_id, rke.source, 'drop_batch_neardup', comp2.rep, NULL, rke.nt, NULL, NULL
       |FROM rke JOIN comp2 ON rke.doc_id = comp2.doc_id WHERE comp2.rep <> rke.doc_id
       |UNION ALL
       |SELECT d.doc_id, rkn.source, d.action, d.dup_of, d.j, rkn.nt, NULL, NULL
       |FROM ded d JOIN rkn ON d.doc_id = rkn.doc_id WHERE d.action <> 'keep'
       |UNION ALL
       |SELECT cb.id_in, dk.source, 'drop_contaminated', cb.id_ev, cb.j, dk.nt, NULL, NULL
       |FROM cb JOIN dk ON dk.doc_id = cb.id_in
       |UNION ALL
       |SELECT doc_id, source, 'drop_budget', NULL, NULL, nt, NULL, NULL
       |FROM bu WHERE hu >= least(500.0 / tot, 1.0)
       |UNION ALL
       |SELECT doc_id, source, 'keep', NULL, NULL, nt, bucket, seq_id FROM pk""".stripMargin

  /** The [[Bpe.train]] derivation replayed as a generated DuckDB CTE
    * chain, one block per merge round. Pair counts and the arg-max mirror
    * the Spark side 1:1. The greedy left-to-right merge is replayed with
    * a window-parity formulation instead of a fold: a selected candidate
    * consumes its right neighbor, and two candidates can only be adjacent
    * when l = r (syms[j+1] must equal both r and l), i.e. inside an
    * identical-symbol run — where greedy keeps the 1st, 3rd, 5th...
    * candidate of the run. So: group consecutive candidate positions
    * (j - row_number), select odd parity within each run, emit `l || r`
    * at selected positions, skip the position after a selected one, and
    * re-assemble with an ordered list() aggregate.
    */
  private def bpeChainSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS (
             |  SELECT word, COUNT(*) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |  WHERE len(word) > 0 GROUP BY word),
             |s0 AS (SELECT word, freq, regexp_extract_all(word, '[\s\S]') AS syms FROM w0)""".stripMargin
    for (i <- 1 to k) {
      val prev = s"s${i - 1}"
      sb ++= s""",
               |p$i AS (SELECT s.syms[t.j] AS l, s.syms[t.j+1] AS r, SUM(s.freq) AS cnt
               |       FROM $prev s, unnest(range(1, len(s.syms))) AS t(j)
               |       GROUP BY 1, 2),
               |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
               |e$i AS (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS j FROM $prev),
               |c$i AS (SELECT e.word, e.freq, e.syms, e.j, b.l, b.r,
               |         CASE WHEN e.j < len(e.syms) AND e.syms[e.j] = b.l AND e.syms[e.j+1] = b.r
               |              THEN 1 ELSE 0 END AS cand
               |       FROM e$i e CROSS JOIN b$i b),
               |g$i AS (SELECT *, j - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY j) AS grp
               |       FROM c$i),
               |h$i AS (SELECT *, CASE WHEN cand = 1 AND
               |           ROW_NUMBER() OVER (PARTITION BY word, cand, grp ORDER BY j) % 2 = 1
               |         THEN 1 ELSE 0 END AS sel FROM g$i),
               |m$i AS (SELECT word, freq, j,
               |         CASE WHEN sel = 1 THEN l || r
               |              WHEN COALESCE(LAG(sel) OVER (PARTITION BY word ORDER BY j), 0) = 1 THEN NULL
               |              ELSE syms[j] END AS sym
               |       FROM h$i),
               |s$i AS (SELECT word, freq, list(sym ORDER BY j) FILTER (WHERE sym IS NOT NULL) AS syms
               |       FROM m$i GROUP BY word, freq)""".stripMargin
    }
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    // BPE vocab: the K winning (pair, count) rows, re-derived end to end.
    "x28_bpe_vocab" -> {
      val rows = (1 to BPE_MERGES).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$i")
      s"WITH ${bpeChainSql(BPE_MERGES)}\n${rows.mkString("\nUNION ALL\n")}"
    },
    // Tokenize-and-count with the trained vocab: corpus words inner-join
    // the final segmentation (empty words exist in neither side).
    "x28b_bpe_tokens" ->
      s"""WITH ${bpeChainSql(BPE_MERGES)},
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |SELECT t.doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens
         |FROM tok t JOIN s$BPE_MERGES s USING (word)
         |GROUP BY t.doc_id""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT sha256(text) AS text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    "x3_dedup_ngram" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b,
        |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |         len(a.sh) + len(b.sh) AS tot
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16)
        |SELECT id_a, id_b, ROUND(inter / (tot - inter), 6) AS jaccard
        |FROM p WHERE inter / (tot - inter) >= 0.5""".stripMargin,
    // Connected components by transitive closure over the exact-Jaccard
    // >= 0.5 pair graph; component representative = reachable minimum.
    "x14_dedup_resolve" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT id_a a, id_b b FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, t) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a)
        |SELECT s AS doc_id, MIN(t) AS rep_id,
        |       CAST(MIN(t) = s AS BIGINT) AS is_kept
        |FROM reach GROUP BY s""".stripMargin,
    // Component collapse: x14's transitive closure, then an arg-max per
    // component by (n_chars DESC, doc_id ASC) plus member count and total
    // mass.
    "x34_dedup_collapse" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT id_a a, id_b b FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, t) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a),
        |comp AS (SELECT s AS doc_id, MIN(t) AS rep_id FROM reach GROUP BY s),
        |j AS (SELECT c.rep_id, dd.doc_id, dd.n_chars
        |      FROM comp c JOIN documents dd USING (doc_id)),
        |ranked AS (
        |  SELECT rep_id, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY rep_id ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY rep_id) AS n_members,
        |         SUM(n_chars) OVER (PARTITION BY rep_id) AS total_weight
        |  FROM j)
        |SELECT doc_id, CAST(n_members AS BIGINT) AS n_members,
        |       CAST(total_weight AS BIGINT) AS total_weight
        |FROM ranked WHERE rn = 1""".stripMargin,
    // Truth side of the sketch recall gates: exact Jaccard >= 0.9 pair
    // count (same CTE as x3); recall_ok is the Spark-computed comparison.
    "x2b_minhash_recall" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |         len(a.sh) + len(b.sh) AS tot
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16)
        |SELECT COUNT(*) AS n_true, CAST(1 AS BIGINT) AS recall_ok
        |FROM p WHERE inter / (tot - inter) >= 0.9""".stripMargin,
    "x4b_simhash_recall" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |         len(a.sh) + len(b.sh) AS tot
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16)
        |SELECT COUNT(*) AS n_true, CAST(1 AS BIGINT) AS recall_ok
        |FROM p WHERE inter / (tot - inter) >= 0.9""".stripMargin,
    // Incremental dedup: exact tier = sha256 lookup against the corpus
    // side's min-id-per-text; near tier = the x3 shingle CTE restricted to
    // batch x corpus pairs; arg-max near-dup by (jaccard desc, id asc).
    "x20_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |ch AS (SELECT sha256(text) AS h, MIN(doc_id) AS exact_of
        |       FROM documents WHERE doc_id % 7 <> 0 GROUP BY sha256(text)),
        |p AS (
        |  SELECT a.doc_id id_in, b.doc_id id_corp,
        |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |         len(a.sh) + len(b.sh) AS tot
        |  FROM d a JOIN d b
        |    ON a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |   AND abs(a.n_chars - b.n_chars) <= 16),
        |j AS (SELECT id_in, id_corp, ROUND(inter / (tot - inter), 6) AS jaccard
        |      FROM p WHERE inter / (tot - inter) >= 0.5),
        |best AS (SELECT id_in, id_corp, jaccard,
        |           ROW_NUMBER() OVER (PARTITION BY id_in
        |             ORDER BY jaccard DESC, id_corp ASC) AS rk FROM j),
        |e AS (SELECT i.doc_id, ch.exact_of FROM documents i
        |      LEFT JOIN ch ON sha256(i.text) = ch.h WHERE i.doc_id % 7 = 0)
        |SELECT e.doc_id,
        |  CASE WHEN e.exact_of IS NOT NULL THEN 'drop_exact'
        |       WHEN b.id_corp IS NOT NULL THEN 'drop_neardup'
        |       ELSE 'keep' END AS action,
        |  COALESCE(e.exact_of, b.id_corp) AS dup_of,
        |  CASE WHEN e.exact_of IS NULL THEN b.jaccard END AS jaccard
        |FROM e LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
        |  ON e.doc_id = b.id_in""".stripMargin,
    // Batch-vs-corpus probe gate: DuckDB recomputes the exact brute-force
    // truth count over the same mod-7 split; recall_ok is Spark-computed.
    "x20b_incremental_probe" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id % 7 = 0),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings WHERE vec_id % 7 <> 0),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok
         |FROM r WHERE rank <= 5""".stripMargin,
    // Chunk windows replayed with DuckDB's clamped 1-based list slicing:
    // chunk i of doc with words ws covers ws[i*24+1 : i*24+32].
    "x26_chunk_docs" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, ws,
        |        greatest(CAST(ceil((n - 8) / 24.0) AS BIGINT), 1) AS n_chunks
        |      FROM w),
        |i AS (SELECT doc_id, ws, unnest(range(n_chunks)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(len(ws[ci * 24 + 1 : ci * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ws[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
        |FROM i""".stripMargin,
    // Same md5 order, bucket, and chunked-cumsum arithmetic as
    // Packing.packSequences (maxTokens 256, 8 buckets, salt "pack").
    "x21_pack_sequences" ->
      """WITH u AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|pack')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS u
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens, u, CAST(floor(u * 8) AS BIGINT) AS bucket FROM u),
        |c AS (SELECT doc_id, n_tokens, bucket,
        |        SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY u, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM b)
        |SELECT doc_id, n_tokens, bucket,
        |       CAST(floor((cum - 1.0) / 256) AS BIGINT) AS seq_id
        |FROM c""".stripMargin,
    // In-order subword streams: positions via the same lateral-range
    // pattern as the training chain (DuckDB has no WITH ORDINALITY),
    // reassembled with an ordered list aggregate.
    "x28c_bpe_tokenize" ->
      s"""WITH ${bpeChainSql(BPE_MERGES)},
         |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tok AS (SELECT d.doc_id, d.ws[t.i] AS word, t.i AS pos
         |        FROM dw d, unnest(range(1, len(d.ws)+1)) AS t(i)
         |        WHERE len(d.ws[t.i]) > 0)
         |SELECT t.doc_id,
         |  CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(flatten(list(s.syms ORDER BY t.pos)), '|') AS bpe_tokens
         |FROM tok t JOIN s$BPE_MERGES s USING (word)
         |GROUP BY t.doc_id""".stripMargin,
    // BPE counts feeding the x21 window arithmetic, end to end.
    "x21b_pack_bpe" ->
      s"""WITH ${bpeChainSql(BPE_MERGES)},
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |bc0 AS (SELECT t.doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_tokens
         |        FROM tok t JOIN s$BPE_MERGES s USING (word) GROUP BY t.doc_id),
         |bc AS (SELECT d.doc_id, COALESCE(bc0.n_tokens, 0) AS n_tokens
         |       FROM (SELECT DISTINCT doc_id FROM documents) d
         |       LEFT JOIN bc0 USING (doc_id)),
         |u AS (SELECT doc_id, n_tokens,
         |        CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|pack')), 1, 8)) AS BIGINT)
         |          / 4294967296.0 AS u
         |      FROM bc),
         |b AS (SELECT doc_id, n_tokens, u, CAST(floor(u * 8) AS BIGINT) AS bucket FROM u),
         |c AS (SELECT doc_id, n_tokens, bucket,
         |        SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY u, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM b)
         |SELECT doc_id, n_tokens, bucket,
         |       CAST(floor((cum - 1.0) / 256) AS BIGINT) AS seq_id
         |FROM c""".stripMargin,
    "x5_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |p AS (SELECT a.vec_id id_a, b.vec_id id_b, ${duckCos("a.v", "b.v")} AS cos
         |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, ROUND(cos, 5) AS cos FROM p WHERE cos >= 0.25""".stripMargin,
    // Cell-blocked near-dup gate: DuckDB recomputes the exact probe-set
    // truth count; recall_ok is Spark-computed.
    "x5b_neardup_cell_recall" ->
      s"""WITH p AS (SELECT vec_id p_id, CAST(embedding AS DOUBLE[]) pv FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT least(p_id, vec_id) AS id_a, greatest(p_id, vec_id) AS id_b
         |      FROM p CROSS JOIN c
         |      WHERE p_id <> vec_id AND ${duckCos("pv", "cv")} >= 0.25)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS recall_ok
         |FROM (SELECT DISTINCT id_a, id_b FROM s)""".stripMargin,
    "x6_ann_brute" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, neighbor_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT q_id, neighbor_id, rank, ROUND(cos, 5) AS cos FROM r WHERE rank <= 5""".stripMargin,
    // Recall gate: DuckDB recomputes the exact-truth row count; recall_ok=1
    // asserts both approximate tiers clear ANN_RECALL_MIN (the Spark side
    // computes the real recall and emits the comparison result).
    "x7c_ann_recall" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s),
         |t AS (SELECT COUNT(*) AS n_truth FROM r WHERE rank <= 5)
         |SELECT m.method, CAST(t.n_truth AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok
         |FROM (VALUES ('ivf'), ('lsh')) m(method) CROSS JOIN t""".stripMargin,
    // Exact filtered top-k: the x6 replay with the predicate inside the
    // corpus CTE — pre-filtering is part of the contract being verified.
    "x38_ann_filtered" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings WHERE label % 3 = 0),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, neighbor_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT q_id, neighbor_id, rank, ROUND(cos, 5) AS cos FROM r WHERE rank <= 5""".stripMargin,
    "x38b_ann_filtered_recall" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings WHERE label % 3 = 0),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s),
         |t AS (SELECT COUNT(*) AS n_truth FROM r WHERE rank <= 5)
         |SELECT CAST(t.n_truth AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok FROM t""".stripMargin,
    // Exact-membership replay of the Bloom verdict: value-identical as long
    // as the sketch produces no false positive at oracle scale (verified;
    // deterministic seed, and x39b bounds the fp budget every round).
    "x39_dedup_bloom" ->
      """WITH incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id,
        |  CASE WHEN text IN (SELECT text FROM documents WHERE doc_id % 7 <> 0)
        |       THEN 'drop' ELSE 'keep' END AS action
        |FROM incoming""".stripMargin,
    // Audit gate: DuckDB recomputes the exact probe/dup counts; bloom_ok
    // (no false negatives + fp within budget) is Spark-verified.
    "x39b_bloom_audit" ->
      """WITH incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  CAST(SUM(CASE WHEN text IN (SELECT text FROM documents WHERE doc_id % 7 <> 0)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
        |  CAST(1 AS BIGINT) AS bloom_ok
        |FROM incoming""".stripMargin,
    // Same scale/floor arithmetic over the DOUBLE-cast embedding; integer
    // outputs are hash-exact across engines.
    "x24_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS scale
        |      FROM e),
        |q AS (SELECT vec_id,
        |        list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
        |      FROM s)
        |SELECT vec_id,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum
        |FROM q""".stripMargin,
    // Serving-path gate: DuckDB recomputes the exact brute-force truth
    // count (same CTE as x7c, one row); recall_ok is Spark-computed.
    "x24b_quantized_recall" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok
         |FROM r WHERE rank <= 5""".stripMargin,
    // IVF+PQ gate: same exact-truth replay; recall_ok is Spark-computed
    // over the composed cell-probe + ADC + re-rank path.
    "x50_ivfpq_recall" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok
         |FROM r WHERE rank <= 5""".stripMargin,
    // PQ serving gate: DuckDB recomputes the exact brute-force truth count
    // (same CTE as x7c/x24b); recall_ok is Spark-computed end-to-end over
    // the trained-codebook ADC path.
    "x47b_pq_recall" ->
      s"""WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings),
         |s AS (SELECT q_id, vec_id AS neighbor_id, ${duckCos("qv", "cv")} AS cos
         |      FROM q CROSS JOIN c WHERE q_id <> vec_id),
         |r AS (SELECT q_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, CAST(1 AS BIGINT) AS recall_ok
         |FROM r WHERE rank <= 5""".stripMargin,
    // Quality mass per source: same quality formula as x9 (already proven
    // hash-identical), summed after its own 6-decimal round.
    "x25_corpus_report" ->
      """WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') ws FROM documents),
        |q AS (SELECT doc_id, source, text,
        |        len(ws) AS n_tokens,
        |        ROUND(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
        |          * (CAST(len(list_distinct(ws)) AS DOUBLE) / greatest(len(ws), 1.0)), 6) AS quality_score
        |      FROM w)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_exact_dups,
        |  ROUND(SUM(quality_score), 6) AS sum_quality
        |FROM q GROUP BY source""".stripMargin,
    "x8_text_lang" -> {
      val langs = TextStats.stopwords.keys.toSeq.sorted
      val ratio = (l: String) => {
        val set = TextStats.stopwords(l).map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(ws, w -> w IN ($set))) AS DOUBLE) / greatest(len(ws), 1)"
      }
      val ratios = langs.map(l => s"${ratio(l)} AS r_$l").mkString(", ")
      val maxExpr = "greatest(" + langs.map(l => s"r_$l").mkString(", ") + ")"
      val pick = langs.reverse.foldLeft("'und'") { (acc, l) =>
        s"CASE WHEN r_$l = mx AND r_$l >= 0.02 THEN '$l' ELSE $acc END"
      }
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
         |r AS (SELECT doc_id, ws, $ratios FROM w),
         |m AS (SELECT *, $maxExpr AS mx FROM r)
         |SELECT doc_id, $pick AS pred_lang, ROUND(r_en, 6) AS en_stop_ratio FROM m""".stripMargin
    },
    "x9_text_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |q AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) n_terms,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) n_distinct,
        |        CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) total_len
        |      FROM w)
        |SELECT doc_id,
        |  CAST(n_terms AS BIGINT) AS n_terms,
        |  CAST(n_distinct AS BIGINT) AS n_distinct_terms,
        |  ROUND(total_len / greatest(n_terms, 1.0), 6) AS avg_term_len,
        |  ROUND(n_distinct / greatest(n_terms, 1.0), 6) AS type_token_ratio,
        |  ROUND(least(n_terms / 100.0, 1.0) * (n_distinct / greatest(n_terms, 1.0)), 6) AS quality_score
        |FROM q""".stripMargin,
    "x10_text_tokens" ->
      """SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term""".stripMargin,
    "x10b_token_counts" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpeish_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_regex_tokens
        |FROM documents""".stripMargin,
    // Span decontamination replayed over string 8-grams (hash-collision-
    // equal to the Spark side's xxhash64 spans); same split CTE as x19,
    // same positions/coverage conventions as x29.
    "x19b_span_decontaminate" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |            / 4294967296.0 AS u
        |        FROM documents)),
        |w AS (SELECT d.doc_id, string_split(text, ' ') AS ws,
        |        len(string_split(text, ' ')) AS n, sp.split
        |      FROM documents d JOIN sp USING (doc_id)),
        |ev AS (SELECT DISTINCT unnest([array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE split = 'test'),
        |tg AS (SELECT doc_id, t.j AS pos, array_to_string(ws[t.j:t.j+7], ' ') AS sh
        |       FROM w, unnest(range(1, n - 6)) AS t(j) WHERE split = 'train'),
        |hp AS (SELECT doc_id, list(pos ORDER BY pos) AS ps
        |       FROM tg JOIN ev USING (sh) GROUP BY doc_id),
        |tr AS (SELECT doc_id, n FROM w WHERE split = 'train'),
        |v AS (SELECT tr.doc_id, tr.n, COALESCE(hp.ps, CAST([] AS BIGINT[])) AS ps
        |      FROM tr LEFT JOIN hp USING (doc_id))
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |  CAST(len(ps) AS BIGINT) AS n_eval_spans,
        |  CAST(len(list_distinct(flatten(list_transform(ps, p -> range(p, p + 8))))) AS BIGINT) AS n_covered,
        |  CAST(len(ps) = 0 AS BIGINT) AS keep
        |FROM v""".stripMargin,
    "x19_decontaminate" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |            / 4294967296.0 AS u
        |        FROM documents)),
        |d AS (
        |  SELECT doc_id, n_chars,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS sh
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
        |p AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b,
        |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
        |         len(a.sh) + len(b.sh) AS tot
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 16),
        |j AS (SELECT id_a, id_b, ROUND(inter / (tot - inter), 6) AS jaccard
        |      FROM p WHERE inter / (tot - inter) >= 0.5),
        |x AS (SELECT j.*, sa.split AS split_a, sb.split AS split_b
        |      FROM j JOIN sp sa ON j.id_a = sa.doc_id JOIN sp sb ON j.id_b = sb.doc_id
        |      WHERE (sa.split = 'train' AND sb.split = 'test')
        |         OR (sa.split = 'test' AND sb.split = 'train'))
        |SELECT CASE WHEN split_a = 'test' THEN id_a ELSE id_b END AS test_doc,
        |       CASE WHEN split_a = 'test' THEN id_b ELSE id_a END AS train_doc,
        |       jaccard
        |FROM x""".stripMargin,
    "x18_tfidf_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        ROUND(tf.tf * ln(CAST(n.nn AS DOUBLE) / df.df), 6) AS tfidf
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term ASC) AS rk FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rk FROM r WHERE rk <= 3""".stripMargin,
    // Same redaction regexes (Java-regex/RE2-identical constructs),
    // replayed with RE2 'g' replacement via the shared duckCleanExpr.
    "x17_text_clean" ->
      s"""SELECT doc_id,
         |  $duckCleanExpr AS clean_text,
         |  CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$duckPhonePat')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$duckIpPat')) AS BIGINT) AS n_ips
         |FROM documents""".stripMargin,
    "x27_curate_e2e" -> x27Sql,
    // Sequence manifests: group the replayed pk frame; doc order within a
    // sequence is the packing window's own (pu, doc_id) sort key.
    "x36_training_sequences" ->
      s"""$x27Cte
         |SELECT bucket, seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS seq_tokens,
         |  array_to_string(list(doc_id ORDER BY pu, doc_id), ',') AS doc_ids
         |FROM pk GROUP BY bucket, seq_id""".stripMargin,
    "x27b_curate_report" ->
      s"""SELECT source, COUNT(*) AS n_in,
         |  CAST(SUM(CASE WHEN action = 'drop_invalid' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_invalid,
         |  CAST(SUM(CASE WHEN action = 'drop_repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_repetition,
         |  CAST(SUM(CASE WHEN action = 'drop_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
         |  CAST(SUM(CASE WHEN action = 'drop_batch_exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_batch_exact,
         |  CAST(SUM(CASE WHEN action = 'drop_batch_neardup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_batch_neardup,
         |  CAST(SUM(CASE WHEN action = 'drop_exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_exact,
         |  CAST(SUM(CASE WHEN action = 'drop_neardup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_neardup,
         |  CAST(SUM(CASE WHEN action = 'drop_contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_contaminated,
         |  CAST(SUM(CASE WHEN action = 'drop_budget' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_budget,
         |  CAST(SUM(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN action = 'keep' THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM (
         |$x27Sql
         |) GROUP BY source""".stripMargin,
    // fp_min<=fp_max holds for every doc and fp_full is text-determined, so
    // DuckDB states both invariants without computing any hash.
    "x11b_fingerprint_inv" ->
      """SELECT COUNT(*) AS n_docs, COUNT(*) AS n_min_le_max,
        |  COUNT(DISTINCT text) AS n_texts, COUNT(DISTINCT text) AS n_text_fp
        |FROM documents""".stripMargin,
    // Unigram-LM NLL: the whole derivation (term counts, corpus total,
    // per-token logprob, round-before-sum) replayed; ln-ulp divergence
    // can only matter if a logprob sits within ~1e-15 of a 0.5e-6
    // boundary (transcendental values — checked across all three SFs).
    "x32_unigram_nll" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
        |tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS T FROM tf)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(SUM(ROUND(-ln(tf.tf / tot.T), 6)), 6) AS nll_total
        |FROM t JOIN tf USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    // Per-source KL vs the corpus distribution, same round-before-sum
    // discipline; every source term has corpus support, so no log(0).
    "x33_source_divergence" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT source, term, COUNT(*) AS stf FROM t GROUP BY source, term),
        |ct AS (SELECT term, SUM(stf) AS ctf FROM st GROUP BY term),
        |stot AS (SELECT source, SUM(stf) AS sT FROM st GROUP BY source),
        |ctot AS (SELECT SUM(ctf) AS cT FROM ct)
        |SELECT st.source, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  ROUND(SUM(ROUND((st.stf / stot.sT)
        |    * ln((st.stf / stot.sT) / (ct.ctf / ctot.cT)), 6)), 6) AS kl_divergence
        |FROM st JOIN ct USING (term) JOIN stot USING (source) CROSS JOIN ctot
        |GROUP BY st.source""".stripMargin,
    // Same split thresholds as x16 (salt "split"), md5-prefix XOR checksum.
    "x42_dataset_card" ->
      """WITH s AS (
        |  SELECT doc_id, source, text,
        |         CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |                   / 4294967296.0 < 0.8 THEN 'train'
        |              WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |                   / 4294967296.0 < 0.9 THEN 'val'
        |              ELSE 'test' END AS split,
        |         CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT split, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(h) AS BIGINT) AS checksum,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM s GROUP BY split, source""".stripMargin,
    // The round trip must ship EXACTLY the card x42 derives in memory —
    // same SQL, so any sink/scan loss (a dropped shard, JSON mangling a
    // text value, a double-written row) shows as a checksum/count diff.
    "x45_release_roundtrip" ->
      """WITH s AS (
        |  SELECT doc_id, source, text,
        |         CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |                   / 4294967296.0 < 0.8 THEN 'train'
        |              WHEN CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |                   / 4294967296.0 < 0.9 THEN 'val'
        |              ELSE 'test' END AS split,
        |         CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT split, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(h) AS BIGINT) AS checksum,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM s GROUP BY split, source""".stripMargin,
    // The partitioned-sink round trip: DuckDB derives each row's day
    // straight from ts, so a green row proves the dt= layout partitions
    // and the pruned scan reads exactly the 3-day window's rows.
    "x46_partition_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1, 2""".stripMargin,
    // The ORC round trip must preserve every row and every text byte: the
    // oracle aggregates the ORIGINAL parquet rows, so any sink/scan loss
    // shows as a count or checksum diff.
    "x48_orc_roundtrip" ->
      """SELECT source, lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(bit_xor(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // The clustered layout must preserve the range's rows exactly: the
    // oracle aggregates the RAW events, so any loss/duplication in the
    // cluster-sort write diffs a count or sum.
    "x51_clustered_prune" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id BETWEEN 40 AND 49
        |GROUP BY 1""".stripMargin,
    // Layout-independent replay of the z-store read-back: both predicates
    // straight off the raw table.
    "x51b_zorder_prune" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 40 AND 49
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY 1""".stripMargin,
    // Catalog-independent replay of the SQL-face z-store read: both
    // predicates straight off the raw table (x51b's discipline).
    "x58_catalog_zorder" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 90 AND 99
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'
        |GROUP BY 1""".stripMargin,
    // Layout-independent replay: the maintained store must hold exactly
    // the raw rows, so the oracle aggregates events directly.
    "x59_scoped_optimize" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // SQL DELETE semantics replayed directly: rows where the predicate
    // is true are gone, everything else (false or null) survives.
    "x60_cow_delete" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE NOT (user_id BETWEEN 40 AND 49 AND event_type = 'click')
        |GROUP BY 1""".stripMargin,
    // SQL UPDATE semantics replayed as a CASE WHEN over the raw rows.
    "x61_cow_update" ->
      """SELECT CASE WHEN user_id BETWEEN 40 AND 49 AND event_type = 'click'
        |            THEN 'click_redacted' ELSE event_type END AS event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // Epoch 0 = the table BEFORE the delete and the recluster: the time
    // travel read must reproduce the full raw table exactly.
    "x62_time_travel" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The SQL face must be semantically identical to the API face: x60's
    // oracle verbatim.
    "x60b_sql_delete" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE NOT (user_id BETWEEN 40 AND 49 AND event_type = 'click')
        |GROUP BY 1""".stripMargin,
    // x61's oracle verbatim.
    "x61b_sql_update" ->
      """SELECT CASE WHEN user_id BETWEEN 40 AND 49 AND event_type = 'click'
        |            THEN 'click_redacted' ELSE event_type END AS event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The v2-catalog read serves the full written+appended corpus with no
    // registration: the layout-independent aggregate replays off raw rows.
    "x58c_v2_catalog" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // VERSION AS OF 0 = the table before the delete and recluster: x62's
    // oracle verbatim.
    "x62c_sql_version_as_of" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The maintained store must hold exactly the raw rows after the full
    // triggered cycle: the oracle aggregates events directly.
    "x63_maintenance_cycle" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The SQL-driven (CALL) maintenance cycle holds the same law: the
    // catalog read-back aggregates to exactly the raw rows.
    "x69_sql_maintenance" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The two schema vintages replay as a UNION: the pre-ALTER slice with
    // a NULL score, the post-ALTER appended slice carrying value*2.
    "x70_schema_evolution" ->
      """WITH t AS (
        |  SELECT event_type, value, CAST(NULL AS DOUBLE) AS score
        |  FROM events WHERE user_id < 100
        |  UNION ALL
        |  SELECT event_type, value, value * 2 AS score
        |  FROM events WHERE user_id BETWEEN 100 AND 149)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  ROUND(SUM(COALESCE(score, 0)), 2) AS sum_score,
        |  CAST(COUNT(score) AS BIGINT) AS n_scored
        |FROM t
        |GROUP BY 1""".stripMargin,
    // The CDF rows replay as set algebra over the merge: matched targets
    // emit their pre and post images, unmatched source rows insert.
    "x71_change_feed" ->
      """WITH tgt AS (SELECT * FROM events WHERE user_id < 150),
        |src AS (SELECT event_id, event_type, value + 1000 AS value
        |        FROM events WHERE user_id BETWEEN 100 AND 169),
        |changes AS (
        |  SELECT 'update_preimage' AS _change_type, t.event_type, t.value
        |  FROM tgt t JOIN src s ON t.event_id = s.event_id
        |  UNION ALL
        |  SELECT 'update_postimage', t.event_type, s.value
        |  FROM tgt t JOIN src s ON t.event_id = s.event_id
        |  UNION ALL
        |  SELECT 'insert', s.event_type, s.value FROM src s
        |  WHERE s.event_id NOT IN (SELECT event_id FROM tgt))
        |SELECT _change_type, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM changes
        |GROUP BY 1, 2""".stripMargin,
    // The compacted store must hold exactly the raw rows: the oracle
    // aggregates events directly, dt re-derived from ts.
    "x72_part_maintain" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The pinned view serves the full written+appended corpus: the
    // layout- and catalog-independent aggregate replays off raw events.
    "x58b_snapshot_view" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // Epoch 0 through SQL = the table before the delete and recluster:
    // x62's oracle verbatim.
    "x62b_sql_time_travel" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The partitioned-store SQL delete replays like x60b, with the
    // partition value re-derived from ts (UTC session on both sides).
    "x60c_sql_delete_part" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-05' AND event_type = 'click')
        |GROUP BY 1""".stripMargin,
    // The managed partition upsert replaces the day's rows with the
    // derived batch: a CASE WHEN on the day replays it exactly; the
    // partition column is CAST(ts AS DATE) by construction.
    "x64_part_upsert" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |                 THEN value + 1000 ELSE value END), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events
        |GROUP BY 1""".stripMargin,
    // Epoch 0 = the table before the upsert and the delete: the raw
    // aggregate, with the partition column re-derived from ts.
    "x64b_part_time_travel" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events
        |GROUP BY 1""".stripMargin,
    // Epoch 0 read AFTER the SQL takedown = the full pre-delete table:
    // x62's oracle shape (the retire, not the delete, is what's proven).
    "x64c_sql_delete_part_retire" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // VERSION AS OF 0 on the partitioned store = the pre-delete table,
    // dt re-derived from ts.
    "x64d_v2_part_version" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The epoch stream delivers the whole store exactly once across its
    // batches: the sink aggregate replays off the raw events.
    "x65_stream_epochs" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1""".stripMargin,
    // MERGE semantics replayed without MERGE syntax: matched targets take
    // the source value (LEFT JOIN + COALESCE), unmatched source rows
    // union in (NOT IN on the non-null key).
    "x66_merge_upsert" ->
      """WITH tgt AS (SELECT * FROM events WHERE user_id < 150),
        |     src AS (SELECT event_id, ts, user_id, event_type, value + 1000 AS value
        |             FROM events WHERE user_id >= 100),
        |     merged AS (
        |       SELECT t.event_type, COALESCE(s.value, t.value) AS value, t.user_id
        |       FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
        |       UNION ALL
        |       SELECT s.event_type, s.value, s.user_id FROM src s
        |       WHERE s.event_id NOT IN (SELECT event_id FROM tgt))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM merged
        |GROUP BY 1""".stripMargin,
    // The applied CDC state reconstructs directly: target was user_id <
    // 150; tombstones removed 40-49; updates bumped 100-149; inserts
    // added 150-199 bumped; ghost tombstones (200-209) never landed.
    "x67_merge_cdc" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN user_id BETWEEN 100 AND 199
        |                 THEN value + 1000 ELSE value END), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE user_id < 200 AND NOT (user_id BETWEEN 40 AND 49)
        |GROUP BY 1""".stripMargin,
    // UPDATE applied first (the 10-19 bump), then MERGE semantics
    // replayed as in x66: matched targets take the source value
    // (overwriting the earlier bump never collides — key ranges are
    // disjoint), unmatched source rows (150-169) union in.
    "x68_v2_dml" ->
      """WITH tgt AS (
        |  SELECT event_id, ts, user_id, event_type,
        |    CASE WHEN user_id BETWEEN 10 AND 19 THEN value + 500
        |         ELSE value END AS value
        |  FROM events WHERE user_id < 150),
        |src AS (SELECT event_id, ts, user_id, event_type, value + 1000 AS value
        |        FROM events WHERE user_id BETWEEN 120 AND 169),
        |merged AS (
        |  SELECT t.event_type, COALESCE(s.value, t.value) AS value, t.user_id
        |  FROM tgt t LEFT JOIN src s ON t.event_id = s.event_id
        |  UNION ALL
        |  SELECT s.event_type, s.value, s.user_id FROM src s
        |  WHERE s.event_id NOT IN (SELECT event_id FROM tgt))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM merged
        |GROUP BY 1""".stripMargin,
    // Same prev-snapshot derivation, full-outer join, and null-safe
    // column compare as SnapshotDiff.diff.
    "x49_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, text, lang, source,
        |         CASE WHEN doc_id % 7 = 2 THEN n_chars + 1 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 500000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 = 5),
        |nxt AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT COALESCE(n.doc_id, p.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'insert'
        |       WHEN n.doc_id IS NULL THEN 'delete'
        |       WHEN (p.text IS DISTINCT FROM n.text)
        |         OR (p.lang IS DISTINCT FROM n.lang)
        |         OR (p.source IS DISTINCT FROM n.source)
        |         OR (p.n_chars IS DISTINCT FROM n.n_chars) THEN 'update' END AS change
        |FROM prev p FULL OUTER JOIN nxt n ON p.doc_id = n.doc_id
        |WHERE change IS NOT NULL""".stripMargin,
    // Same change-point detection (null-safe lag compare, (ts, event_id)
    // total order) and interval-closing lead as Scd2.history. The
    // row_number()=1 guard matches Spark's null<=>struct=false opener even
    // if a fixture regen ever ships a null first event_type.
    "x52_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts, event_type,
        |        CASE WHEN row_number() OVER w0 = 1
        |              OR lag(event_type) OVER w0 IS DISTINCT FROM event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM e WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM m WHERE chg = 1)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  CAST(lead(valid_from) OVER w IS NULL AS BIGINT) AS is_current
        |FROM p WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)""".stripMargin,
    // The incremental face must equal the full rebuild — the oracle IS
    // x52's full-log SQL, unchanged; the split/merge happens only on the
    // Spark side.
    "x52c_scd2_incremental" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts, event_type,
        |        CASE WHEN row_number() OVER w0 = 1
        |              OR lag(event_type) OVER w0 IS DISTINCT FROM event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM e WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM m WHERE chg = 1)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  CAST(lead(valid_from) OVER w IS NULL AS BIGINT) AS is_current
        |FROM p WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)""".stripMargin,
    // x52's history CTE composed with the interval join: same change-point
    // and lead arithmetic, then each mod-3 fact joins the one history row
    // whose [valid_from, valid_to) covers its ts.
    "x52b_point_in_time" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts, event_type,
        |        CASE WHEN row_number() OVER w0 = 1
        |              OR lag(event_type) OVER w0 IS DISTINCT FROM event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM e WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM m WHERE chg = 1),
        |h AS (SELECT user_id, event_type, valid_from,
        |        lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
        |      FROM p),
        |f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_id % 3 = 0)
        |SELECT f.event_id, f.user_id, f.ts, h.event_type AS status_at_ts, h.valid_from
        |FROM f JOIN h ON f.user_id = h.user_id
        |  AND h.valid_from <= f.ts AND (h.valid_to IS NULL OR f.ts < h.valid_to)""".stripMargin,
    // Same two frames as Rolling.trailing: RANGE over whole epoch seconds
    // (epoch_us // 1e6 = Spark's cast-to-long truncation), ROWS over
    // (ts, event_id). SUM inputs are 2-decimal, so ROUND(...,2) is exact.
    "x53_rolling_features" ->
      """WITH e AS (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tsec
        |           FROM events)
        |SELECT event_id, user_id, ts,
        |  CAST(COUNT(*) OVER wt AS BIGINT) AS n_window,
        |  ROUND(SUM(value) OVER wt, 2) AS sum_window,
        |  ROUND(SUM(value) OVER wr, 2) AS sum_lastn
        |FROM e
        |WINDOW wt AS (PARTITION BY user_id ORDER BY tsec
        |              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
        |       wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    // The skew-safe face is output-identical to x53 (RollingSpec law), so
    // the oracle is x53's query verbatim — the hash-match proves the
    // bucketed carry reconstruction, not just the law's random fixtures.
    "x53b_rolling_skewsafe" ->
      """WITH e AS (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tsec
        |           FROM events)
        |SELECT event_id, user_id, ts,
        |  CAST(COUNT(*) OVER wt AS BIGINT) AS n_window,
        |  ROUND(SUM(value) OVER wt, 2) AS sum_window,
        |  ROUND(SUM(value) OVER wr, 2) AS sum_lastn
        |FROM e
        |WINDOW wt AS (PARTITION BY user_id ORDER BY tsec
        |              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
        |       wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    // E-S priority replayed verbatim: same md5-unit stream (salt "es"),
    // ln(u)/w descending, doc_id tie-break, LIMIT n. Only the selected
    // SET is compared (the harness sorts), so the ORDER BY exists purely
    // to pick the same 100 rows.
    "x54_weighted_sample" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|es')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, source, n_chars FROM u
        |ORDER BY ln(unit) / n_chars DESC, doc_id ASC
        |LIMIT 100""".stripMargin,
    // Same priority stream as x54, ranked within source.
    "x54b_weighted_cap" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|es')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY ln(unit) / n_chars DESC, doc_id ASC) AS rk
        |  FROM u)
        |WHERE rk <= 20""".stripMargin,
    // The audit flags are 1 by the GK theorem; n replays exactly. A red
    // flag is a sketch regression (accuracy arg dropped, wrong percentile
    // column wiring), not a data property.
    "x55_quantile_audit" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // The "last reading per tick" replays as QUALIFY rk=1 (the engine
    // uses a partial-agg'd struct max — same total order (tsec, id)).
    "x56_resample_ffill" ->
      """WITH o AS (
        |  SELECT user_id, value, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tsec
        |  FROM events),
        |t AS (
        |  SELECT user_id, tsec - tsec % 21600 AS tick, value,
        |         row_number() OVER (PARTITION BY user_id, tsec - tsec % 21600
        |                            ORDER BY tsec DESC, event_id DESC) AS rk,
        |         COUNT(*) OVER (PARTITION BY user_id, tsec - tsec % 21600) AS n_obs
        |  FROM o),
        |lastobs AS (SELECT user_id, tick, n_obs, value FROM t WHERE rk = 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(MIN(tick), MAX(tick), 21600)) AS tick
        |  FROM lastobs GROUP BY user_id)
        |SELECT s.user_id, s.tick,
        |       COALESCE(l.n_obs, 0) AS n_obs,
        |       last_value(l.value IGNORE NULLS)
        |         OVER (PARTITION BY s.user_id ORDER BY s.tick
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM spine s LEFT JOIN lastobs l
        |  ON s.user_id = l.user_id AND s.tick = l.tick""".stripMargin,
    // The additive card stats replay exactly; the audit flags replay as
    // constant 1 (the HLL 3-RSE bound and the sum identities are theorems
    // on a correct pipeline — the falsifiable red path lives in
    // SketchCardSpec).
    "x57_sketch_card" ->
      """WITH u AS (
        |  SELECT doc_id, source, text,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents)
        |SELECT CASE WHEN unit < 0.8 THEN 'train'
        |            WHEN unit < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       source, COUNT(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |       CAST(1 AS BIGINT) AS count_ok, CAST(1 AS BIGINT) AS tokens_ok,
        |       CAST(1 AS BIGINT) AS distinct_ok
        |FROM u GROUP BY 1, 2""".stripMargin,
    // Same md5-unit order and window as Sampling.capPerGroup (salt "cap").
    "x41_source_cap" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|cap')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY unit, doc_id) AS rk
        |      FROM u)
        |SELECT doc_id, source, n_chars FROM r WHERE rk <= 40""".stripMargin,
    // Exact string-trigram counting with HAVING — the sketch path's output
    // is exact by construction (one-sided CMS error + confirm pass), so
    // the replay needs no sketch at all.
    "x40_frequent_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS span
        |      FROM w, unnest(range(1, greatest(len(ws) - 1, 1))) t(i))
        |SELECT span, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY span HAVING COUNT(*) >= 5""".stripMargin,
    // Boilerplate removal replayed over string trigrams: distinct-doc
    // counting (NOT occurrence counting — within-doc repeats are x22's
    // signal, not boilerplate), interval-union coverage, rebuilt text.
    // Positions are 1-based on both sides; DuckDB range(a,b) = [a, b).
    "x43_boilerplate_removal" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |g AS (SELECT doc_id, t.j AS pos, array_to_string(ws[t.j:t.j+2], ' ') AS sh
        |      FROM w, unnest(range(1, n - 1)) AS t(j)),
        |c AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 5),
        |bp AS (SELECT doc_id, list(pos ORDER BY pos) AS ps
        |       FROM g JOIN c USING (sh) GROUP BY doc_id),
        |j AS (SELECT w.doc_id, w.ws, w.n, COALESCE(bp.ps, CAST([] AS BIGINT[])) AS ps
        |      FROM w LEFT JOIN bp USING (doc_id)),
        |v AS (SELECT doc_id, ws, n, ps,
        |        list_distinct(flatten(list_transform(ps, p -> range(p, p + 3)))) AS cov
        |      FROM j)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |  CAST(len(ps) AS BIGINT) AS n_boiler_spans,
        |  CAST(len(cov) AS BIGINT) AS n_covered,
        |  COALESCE(array_to_string(
        |    [ws[k] for k in range(1, n + 1) if NOT list_contains(cov, k)], ' '), '') AS clean_text
        |FROM v""".stripMargin,
    // Full naive-Bayes replay: per-source Laplace-smoothed unigram model,
    // per-(doc, candidate) scores with round-before-sum logs (x32
    // discipline, so the argmax is reproducible), argmax via the same
    // (score DESC, source ASC) window on the ROUNDED score.
    "x37_source_classify" ->
      """WITH t AS (SELECT doc_id, source AS true_source,
        |             unnest(string_split(text, ' ')) AS term FROM documents),
        |toks AS (SELECT doc_id, true_source, term, CAST(COUNT(*) AS BIGINT) AS tf
        |         FROM t GROUP BY 1, 2, 3),
        |st AS (SELECT source, term, COUNT(*) AS cnt
        |       FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |       GROUP BY source, term),
        |stot AS (SELECT source, SUM(cnt) AS sT FROM st GROUP BY source),
        |v AS (SELECT COUNT(DISTINCT term) AS V FROM st),
        |priors AS (SELECT source, COUNT(*) AS nd FROM documents GROUP BY source),
        |ntot AS (SELECT COUNT(*) AS n FROM documents),
        |srcs AS (SELECT DISTINCT source AS cand_source FROM documents),
        |scored AS (
        |  SELECT tk.doc_id, tk.true_source, sc.cand_source,
        |         SUM(tk.tf * ROUND(ln((COALESCE(st.cnt, 0) + 1.0)
        |           / (stot.sT + v.V)), 6)) AS s_terms
        |  FROM toks tk CROSS JOIN srcs sc
        |  LEFT JOIN st ON st.source = sc.cand_source AND st.term = tk.term
        |  JOIN stot ON stot.source = sc.cand_source
        |  CROSS JOIN v
        |  GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT scored.doc_id, true_source, cand_source,
        |         ROUND(s_terms + ROUND(ln(priors.nd / ntot.n), 6), 6) AS score
        |  FROM scored JOIN priors ON priors.source = cand_source CROSS JOIN ntot),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, cand_source ASC) AS rn FROM fin)
        |SELECT doc_id, true_source, cand_source AS predicted_source, score,
        |       CAST(cand_source = true_source AS BIGINT) AS is_correct
        |FROM r WHERE rn = 1""".stripMargin,
    // Span dedup replayed over string 8-grams: occurrence counts, per-doc
    // duplicated positions, interval-union coverage, and the rebuilt text.
    // Positions are 1-based on both sides; DuckDB range(a,b) = [a, b).
    "x29_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |g AS (SELECT doc_id, t.j AS pos, array_to_string(ws[t.j:t.j+7], ' ') AS sh
        |      FROM w, unnest(range(1, n - 6)) AS t(j)),
        |c AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(*) > 1),
        |dp AS (SELECT doc_id, list(pos ORDER BY pos) AS ps
        |       FROM g JOIN c USING (sh) GROUP BY doc_id),
        |j AS (SELECT w.doc_id, w.ws, w.n, COALESCE(dp.ps, CAST([] AS BIGINT[])) AS ps
        |      FROM w LEFT JOIN dp USING (doc_id)),
        |v AS (SELECT doc_id, ws, n, ps,
        |        list_distinct(flatten(list_transform(ps, p -> range(p, p + 8)))) AS cov
        |      FROM j)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |  CAST(len(ps) AS BIGINT) AS n_dup_spans,
        |  CAST(len(cov) AS BIGINT) AS n_covered,
        |  COALESCE(array_to_string(
        |    [ws[k] for k in range(1, n + 1) if NOT list_contains(cov, k)], ' '), '') AS dedup_text
        |FROM v""".stripMargin,
    // Gopher-style rule flags: every threshold is int/int arithmetic,
    // replayed exactly; the stopword list is generated from the same map
    // the Spark side reads.
    "x30_quality_rules" -> {
      val set = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |q AS (SELECT doc_id,
         |        len(ws) AS nw,
         |        CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |          / greatest(len(ws), 1.0) AS ml,
         |        list_max(list_transform(ws, w -> len(w))) AS xl,
         |        CAST(len(list_filter(ws, w -> w IN ($set))) AS DOUBLE)
         |          / greatest(len(ws), 1) AS sr
         |      FROM w)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         |  ROUND(ml, 6) AS mean_word_len,
         |  CAST(xl AS BIGINT) AS max_word_len,
         |  CAST(nw >= 30 AND nw <= 1000 AS BIGINT) AS ok_n_words,
         |  CAST(ml >= 3.0 AND ml <= 10.0 AS BIGINT) AS ok_word_len,
         |  CAST(xl <= 20 AS BIGINT) AS ok_max_len,
         |  CAST(sr >= 0.02 AS BIGINT) AS ok_stopwords,
         |  CAST(nw >= 30 AND nw <= 1000 AND ml >= 3.0 AND ml <= 10.0
         |       AND xl <= 20 AND sr >= 0.02 AS BIGINT) AS keep
         |FROM q""".stripMargin
    },
    // Lexical diversity: the dominant-word count via per-(doc, word)
    // grouping — semantically identical to the Spark side's sorted-run
    // fold; thresholds are the same integer cross-multiplications.
    "x30b_lexical_diversity" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tw AS (SELECT doc_id, MAX(c) AS top FROM (
        |         SELECT doc_id, COUNT(*) AS c
        |         FROM (SELECT doc_id, unnest(ws) AS word FROM w)
        |         GROUP BY doc_id, word)
        |       GROUP BY doc_id),
        |q AS (SELECT w.doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nt, tw.top
        |      FROM w JOIN tw USING (doc_id))
        |SELECT doc_id,
        |  CAST(nw AS BIGINT) AS n_words,
        |  CAST(nt AS BIGINT) AS n_types,
        |  CAST(top AS BIGINT) AS top_word_count,
        |  CAST(nt * 5 >= nw * 2 AS BIGINT) AS ok_ttr,
        |  CAST(top * 8 <= nw AS BIGINT) AS ok_dominance,
        |  CAST(nt * 5 >= nw * 2 AND top * 8 <= nw AS BIGINT) AS keep
        |FROM q""".stripMargin,
    // Temperature mixing: token totals, the sqrt rate (correctly-rounded
    // IEEE, bit-identical cross-engine), and the md5 keep decisions.
    "x31_temperature_mix" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, SUM(n_tokens) AS tot FROM toks GROUP BY source),
        |m AS (SELECT MIN(tot) AS mn FROM t),
        |r AS (SELECT source, sqrt(CAST(mn AS DOUBLE) / CAST(tot AS DOUBLE)) AS rate
        |      FROM t CROSS JOIN m),
        |u AS (SELECT toks.*,
        |        CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|temp')), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM toks)
        |SELECT u.doc_id, u.source, u.n_tokens, r.rate AS keep_rate
        |FROM u JOIN r USING (source)
        |WHERE u.u < r.rate""".stripMargin,
    // Duplicate-shingle fraction over string shingles — equal to the
    // hashed-shingle fraction up to xxhash64 collisions; same slice
    // comprehension as x3's CTE minus the distinct.
    "x22_text_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)] AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT doc_id,
        |  CAST(len(sh) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_shingles,
        |  ROUND(CASE WHEN len(sh) = 0 THEN 0.0
        |        ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) END, 6) AS dup_fraction
        |FROM d""".stripMargin,
    // Per-source token totals, broadcast threshold, md5 keep decisions —
    // the whole mixing surface replayed cross-engine.
    "x23_token_budget_mix" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, SUM(n_tokens) AS tot FROM toks GROUP BY source),
        |u AS (SELECT toks.*,
        |        CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|budget')), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM toks)
        |SELECT u.doc_id, u.source, u.n_tokens
        |FROM u JOIN t USING (source)
        |WHERE u.u < least(500.0 / t.tot, 1.0)""".stripMargin,
    // Upsampling replay: per-source totals, f = budget/total split into
    // floor(f) guaranteed copies + one md5-decided fractional epoch, the
    // per-copy epoch index generated by range(). floor and the division
    // are IEEE-exact/correctly-rounded, so the emitted multiset matches
    // bit for bit.
    "x44_upsample_epochs" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM toks GROUP BY source),
        |u AS (SELECT toks.*,
        |        CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|budget')), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM toks),
        |c AS (SELECT u.doc_id, u.source, u.n_tokens,
        |        CAST(floor(1400.0 / t.tot) AS BIGINT)
        |          + CASE WHEN u.u < 1400.0 / t.tot - floor(1400.0 / t.tot)
        |                 THEN 1 ELSE 0 END AS n_copies
        |      FROM u JOIN t USING (source)
        |      WHERE u.doc_id IS NOT NULL)
        |SELECT doc_id, source, n_tokens, CAST(e.epoch AS INT) AS epoch
        |FROM c, unnest(range(n_copies)) AS e(epoch)""".stripMargin,
    // Hash-ordered per-stratum cumsum with an explicit ROWS frame — the
    // exact-cutoff window replayed end to end.
    "x23b_token_budget_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |u AS (SELECT toks.*,
        |        CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|budget')), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM toks),
        |c AS (SELECT doc_id, source, n_tokens,
        |        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM u)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 500""".stripMargin,
    // Same md5-hex arithmetic as Sampling.hashUnit, replayed by DuckDB.
    "x15_sample_stratified" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|mix')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents)
        |SELECT doc_id, source FROM u
        |WHERE unit < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                          WHEN 'src2' THEN 0.1 ELSE 0.25 END""".stripMargin,
    "x16_split" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|split')), 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS unit
        |  FROM documents)
        |SELECT CASE WHEN unit < 0.8 THEN 'train'
        |            WHEN unit < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM u GROUP BY 1""".stripMargin,
    // Frame chunk boundaries replayed in SQL: step = max(n/4, 1); frame i
    // (i < m = min(4, n)) spans [i*step, (i+1)*step) except the LAST frame,
    // which extends to n — coverage is complete, sum(n_bytes) == n.
    "x13b_frames_meta" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n, greatest(n // 4, 1) AS step, least(4, n) AS m FROM d),
        |i AS (SELECT doc_id, n, step, m, unnest(range(m)) AS frame_idx FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(CASE WHEN frame_idx = m - 1 THEN n - frame_idx * step
        |            ELSE step END AS BIGINT) AS n_bytes
        |FROM i""".stripMargin,
    // Decoded-plane checksums replayed as arithmetic: pixel(c) =
    // floorMod(doc_id*31 + x*7 + y*13 + c*5, 256) over width =
    // floorMod(doc_id,8)+4, height = floorMod(doc_id,5)+3
    // (Multimodal.pixel/imageDims). A codec bug — wrong plane order,
    // truncation, lossy write — breaks the hash. DuckDB's % is C-style
    // (sign of dividend) while the engine uses Math.floorMod, so every
    // mod here is written ((e % m) + m) % m — identical for the
    // non-negative ids in the fixtures AND correct for negative doc_ids,
    // instead of silently diverging on them (ADVICE r9 #2).
    "x12_multimodal" ->
      """WITH p AS (SELECT doc_id,
        |         ((doc_id % 8) + 8) % 8 + 4 AS w,
        |         ((doc_id % 5) + 5) % 5 + 3 AS h FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(list_sum([(((doc_id*31 + (k % w)*7 + (k // w)*13) % 256) + 256) % 256 for k in range(w*h)]) AS BIGINT) AS r_sum,
        |  CAST(list_sum([(((doc_id*31 + (k % w)*7 + (k // w)*13 + 5) % 256) + 256) % 256 for k in range(w*h)]) AS BIGINT) AS g_sum,
        |  CAST(list_sum([(((doc_id*31 + (k % w)*7 + (k // w)*13 + 10) % 256) + 256) % 256 for k in range(w*h)]) AS BIGINT) AS b_sum,
        |  'png' AS format
        |FROM p""".stripMargin
  )
}
