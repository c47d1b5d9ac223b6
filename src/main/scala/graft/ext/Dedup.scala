package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline
  * (SURVEY.md §7.4): exact (content-hash), MinHash+LSH, SimHash, and exact
  * n-gram Jaccard.
  *
  * Scale design notes (the 100 TB story):
  *   - Exact dedup groups on `sha2(text)` — 64-byte keys shuffle instead of
  *     full documents; partial aggregation keeps the shuffle tiny.
  *   - MinHash signatures are computed per-document with array expressions —
  *     shuffle-free, stays inside whole-stage codegen. Candidate generation
  *     explodes each doc into `bands` rows and hash-joins on
  *     (band, bandHash): only docs agreeing on a full band ever meet, which
  *     is the standard sub-quadratic LSH join. No cross join anywhere.
  *   - SimHash pairs join on any equal 16-bit chunk (pigeonhole: hamming
  *     distance <= 3 over 64 bits guarantees one equal chunk; we use 4
  *     chunks and verify the true distance after the equi-join).
  *   - n-gram Jaccard is quadratic by nature, so it only ever runs over a
  *     blocked/candidate pair set, never the full corpus.
  */
object Dedup {

  /** Spread a (byte-wise tiny, CPU-wise heavy) side across all cores with an
    * EXPLICIT partition count: fixture corpora arrive as one parquet split,
    * and both AQE coalescing and broadcast-join planning would otherwise run
    * the per-pair hot loops (set intersection, hamming) in a single task.
    * An explicit count makes the exchange REPARTITION_BY_NUM, which AQE
    * never coalesces. Skipped when the scan already has enough splits (the
    * 100 TB case) so no gratuitous full-corpus shuffle is added at scale.
    * The split-count decision reads the OPTIMIZER's size estimate
    * (`optimizedPlan.stats.sizeInBytes` vs. target × maxPartitionBytes) —
    * logical-plan-only, so unlike a `df.rdd.getNumPartitions` probe it
    * never forces a second physical planning of the frame. A checkpointed
    * frame is NOT exempt: a `localCheckpoint` keeps its plan's size
    * estimate, so a small checkpoint is re-shuffled here even when it
    * already carries a hash partitioning on `cols`. With no `cols` the
    * spread is round-robin — the even split a pure per-row map wants,
    * since its values do not depend on placement.
    */
  private[graft] def spread(df: DataFrame, cols: Column*): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxSplit) * target)
      df.repartition(target, cols: _*)
    else df
  }

  /** Distinct word k-shingles as 64-bit hashes, built WITHOUT string
    * concatenation: hash each word once, then fold k consecutive word
    * hashes with xxhash64. ~6x cheaper than concatenating shingle strings
    * and hashing those (string building dominates the interpreted
    * higher-order-function path) and set-equivalent to it up to hash
    * collisions, so Jaccard values are unchanged. Documents shorter than
    * k words yield an empty set.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    array_distinct(shingleHashesAll(text, k))

  /** All word k-shingle hashes WITH multiplicity (position order) — the
    * input to within-document repetition stats, where repeats are the
    * signal that [[shingleHashes]] deliberately discards.
    *
    * One codegen'd expression ([[graft.functions.WordShingleHashes]]) —
    * value-identical to the builtin `split` -> `transform(xxhash64)` ->
    * `zip_with(xxhash64)` fold it replaces (pinned in FunctionsSpec), but
    * a tight byte loop instead of interpreted per-element lambdas.
    */
  def shingleHashesAll(text: Column, k: Int = 3): Column =
    graft.functions.WordShingleHashes(text, k)

  /** Exact dedup: keep the smallest id per identical text; report copies.
    * Groups on a 256-bit content hash, not the text itself.
    */
  def exact(df: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame =
    df.groupBy(sha2(col(text), 256).as("text_hash"))
      .agg(min(col(id)).as(id), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature: `perms` independent min-hashes over the
    * shingle set. Each permutation is xxhash64 re-keyed by the permutation
    * index — deterministic, seedless, identical across executors.
    *
    * Shape: explode shingles -> hash-aggregate `perms` MINs per doc. MIN is
    * partial-aggregable, so the heavy hashing happens map-side inside
    * whole-stage codegen and only (doc, 64 longs) rows shuffle. (An
    * array-lambda formulation keeps everything shuffle-free but runs on the
    * interpreted higher-order-function path — measured ~4x slower.)
    */
  def minhashSignatures(df: DataFrame, text: String = "text", id: String = "doc_id",
                        k: Int = 3, perms: Int = 64): DataFrame = {
    val exploded = spread(df, col(id))
      .select(col(id), explode(shingleHashes(col(text), k)).as("__h"))
    val mins = (0 until perms).map(i => min(xxhash64(col("__h"), lit(i))).as(s"__m$i"))
    exploded.groupBy(col(id))
      .agg(mins.head, mins.tail: _*)
      .select(col(id), array((0 until perms).map(i => col(s"__m$i")): _*).as("signature"))
  }

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * bands x rowsPerBand must equal the signature length; the LSH threshold
    * is roughly (1/bands)^(1/rowsPerBand) (defaults: (1/16)^(1/4) ~ 0.5).
    * Returns (idA, idB, est_jaccard) with idA < idB, est >= minJaccard.
    */
  def minhashPairs(df: DataFrame, text: String = "text", id: String = "doc_id",
                   k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   minJaccard: Double = 0.8): DataFrame = {
    val perms = bands * rowsPerBand
    // Referenced three times below (banding + both sides of the estimate
    // join). An eager localCheckpoint materializes the (id, `perms` longs)
    // frame ONCE and cuts the lineage; unlike `.persist()` the blocks are
    // not pinned in the CacheManager — the ContextCleaner frees them as
    // soon as the returned plan is dropped, so repeated calls in one
    // session don't accumulate cached data. (Local checkpoints don't
    // survive executor loss; a lost block recomputes the whole signature
    // stage — acceptable for a 3-read temp. Reliable-checkpoint instead if
    // the cluster preempts executors routinely.)
    val sigs = minhashSignatures(df, text, id, k, perms).localCheckpoint(true)

    val banded = sigs.select(
      col(id),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "band_hash")))

    val a = spread(banded, col(id)).as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col(s"a.band") === col(s"b.band") &&
        col(s"a.band_hash") === col(s"b.band_hash") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()

    val sa = sigs.select(col(id).as("id_a"), col("signature").as("sig_a"))
    val sb = sigs.select(col(id).as("id_b"), col("signature").as("sig_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      // ArrayEqCount = the zip_with/filter/size chain as one precompiled
      // kernel call (that chain ran interpreted per candidate pair)
      // optimizer fence (guide §4.4's trick, arithmetic form): the
      // always-zero nondeterministic term makes this Project
      // nondeterministic, so the threshold filter cannot be pushed below
      // it with the kernel substituted for `est_jaccard` — the kernel runs
      // once, in this Project, per candidate pair. Inside the filter the
      // term does not fence: the filter still pushes through a
      // deterministic Project (2 evaluations per survivor). PlanSpec's
      // "optimizer fences" row pins one kernel node per plan.
      .withColumn("est_jaccard",
        graft.functions.ArrayEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / perms.toDouble + spark_partition_id() * lit(0.0))
      .where(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 64-bit SimHash as 4x16-bit chunks (array<long> of length 4) — the
    * chunk layout doubles as the hamming-LSH blocking key.
    *
    * Shape: explode words -> LANE-PACKED partial-aggregable bit-count SUMs.
    * Each word hash contributes 4 bits per long as four 16-bit lanes
    * (`((h>>j)&1) << 16k`), so 16 SUM aggregates replace 64 — lanes add
    * independently with no carry while per-doc word counts stay < 2^16
    * (documents beyond 65k words need pre-chunking anyway). Map-side
    * combined, codegen'd hash aggregate; the majority vote and chunk
    * assembly are per-group scalar arithmetic.
    */
  def simhashChunks(df: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame = {
    val exploded = spread(df, col(id))
      .select(col(id), explode(split(col(text), " ")).as("__w"))
      .withColumn("__h", xxhash64(col("__w")))
    // lane l packs bit counts for bits {l, l+16, l+32, l+48}
    val laneSums = (0 until 16).map { l =>
      val packed = (0 until 4).map { k =>
        shiftleft(shiftright(col("__h"), l + 16 * k).bitwiseAND(1L), 16 * k)
      }.reduce(_ + _)
      sum(packed).as(s"__l$l")
    }
    val counted = exploded.groupBy(col(id))
      .agg(count(lit(1)).as("__n"), laneSums: _*)
    // unpack: count for bit j = (lane(j%16) >> 16*(j/16)) & 0xFFFF
    def bitCount(j: Int): Column =
      shiftright(col(s"__l${j % 16}"), 16 * (j / 16)).bitwiseAND(0xFFFFL)
    val chunk = (c: Int) => (0 until 16).map { j =>
      val bit = (bitCount(c * 16 + j) * 2 > col("__n")).cast("long")
      bit * lit(1L << j)
    }.reduce(_ + _)
    counted.select(col(id), array((0 until 4).map(chunk): _*).as("simhash"))
  }

  /** SimHash near-dup pairs: equi-join on any shared 16-bit chunk, then
    * verify true hamming distance <= maxHamming. Sub-quadratic: only docs
    * sharing a chunk value ever pair up.
    */
  def simhashPairs(df: DataFrame, text: String = "text", id: String = "doc_id",
                   maxHamming: Int = 10): DataFrame = {
    // both join sides read it; eager localCheckpoint, not persist — same
    // lifecycle rationale as in minhashPairs above
    val sh = simhashChunks(df, text, id).localCheckpoint(true)
    val banded = sh.select(col(id), col("simhash"),
      posexplode(col("simhash")).as(Seq("chunk_idx", "chunk_val")))
    val a = spread(banded, col(id)).as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
    cand
      // HammingCount = the aggregate/zip_with/bit_count chain as one
      // precompiled kernel call (interpreted per candidate pair before)
      // optimizer fence, arithmetic form — see minhashPairs: one kernel
      // evaluation per candidate pair (the added term is always zero;
      // PlanSpec's "optimizer fences" row pins it)
      .withColumn("hamming",
        graft.functions.HammingCount(col("sh_a"), col("sh_b")) + spark_partition_id() * lit(0))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Resolve near-duplicate PAIRS into per-document keep/drop decisions:
    * connected components over the undirected pair graph, keeping the
    * smallest id of each component as the representative. Returns
    * (id, rep_id, is_kept).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — each
    * round contracts the graph toward per-component stars rooted at the
    * component minimum, converging in O(log n) rounds on ANY topology
    * (vs. O(diameter) for plain min-label propagation, which a
    * pathological chain of near-dups could drag to thousands of rounds at
    * corpus scale; dedup cliques converge in 2-3 rounds under either).
    *
    * Scale shape: each star step is one partial-aggregable MIN groupBy
    * plus one keyed equi-join — nothing driver-side but the per-round
    * convergence bit. The component root's post-convergence degree equals
    * the component size by design (that is what a star IS); the MIN agg
    * is map-side combinable so the root key never concentrates an
    * aggregation, and the root-keyed join side is one row joined against
    * many, which AQE skew-split handles. Per-round eager localCheckpoints
    * cut the exponentially-growing lineage that sinks naive iterative
    * DataFrame algorithms.
    *
    * INPUT CONTRACT: `pairs` producers must emit each pair (near-)once.
    * The raw pair stream is materialized UNDEDUPED (duplicate pairs cannot
    * change a min-aggregate, and both star steps end in their own
    * distinct), so a producer that emitted a pair once per colliding LSH
    * band would inflate the checkpoint AND fan smallStar's first join out
    * quadratically in the duplication factor before its distinct. Every
    * in-repo producer honors this — [[minhashPairs]]/[[simhashPairs]] end
    * in distinct, the Jaccard family meets each pair in exactly one length
    * bucket; route any new multi-emitting producer through its own
    * distinct before resolving.
    */
  def resolveComponents(docs: DataFrame, pairs: DataFrame,
                        id: String = "doc_id", maxRounds: Int = 25): DataFrame = {
    // canonical parent-pointer edges (u, v) with u > v, self-loops dropped.
    // NO distinct here: duplicate pairs cannot change a min-aggregate, and
    // both star steps end in their own distinct. EAGER checkpoint, kept
    // deliberately (round 11 measured the alternatives): lazy would let
    // smallStar's two reads — the MIN-groupBy stage and the join-probe
    // stage, which have NO dependency edge between them — race the cache
    // fill and recompute the expensive pair join (measured ~+1 s / +6 s
    // CPU on x27 at sf0.1); uncheckpointed is strictly worse (the probe
    // side has no exchange above the pair join to reuse). The blocking
    // round this costs is the price of single-materialization.
    val edges0 = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint(true)
    // Fast path: ONE small-star round (a keyed min + a keyed join) already
    // resolves any pair graph whose components are cliques or near-cliques
    // — the overwhelmingly common dedup shape, since LSH/Jaccard emit every
    // intra-group pair. The star check below certifies the result
    // structurally, so the full large-star/small-star alternation only runs
    // when genuine chaining (a~b, b~c without a~c) survives the first
    // round. This is the x27/x36 constant-factor lever: a trivial batch
    // pair graph costs 1 contraction + 1 check instead of 2-3 full rounds
    // of fixpoint machinery.
    var edges = smallStar(edges0).localCheckpoint(true)
    var resolved = isStarSet(edges)
    var round = 0
    while (!resolved && round < maxRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      resolved = isStarSet(edges)
      round += 1
    }
    require(resolved, s"component labels did not converge in $maxRounds rounds")
    // at fixpoint the edges are exactly (member, component-min) stars
    val reps = edges.select(col("u").as(id), col("v").as("rep"))
    docs.select(col(id)).join(reps, Seq(id), "left")
      .select(col(id), coalesce(col("rep"), col(id)).as("rep_id"),
        (coalesce(col("rep"), col(id)) === col(id)).cast("long").as("is_kept"))
  }

  /** Span-level train-vs-eval decontamination — the verbatim n-gram-
    * collision discipline (GPT-3's appendix-C 13-gram filter, in word
    * k-gram form): any eval-set k-gram appearing verbatim in a train
    * document marks the overlapping positions, and a document with any
    * marked span is contaminated. Complements doc-level Jaccard
    * decontamination ([[ngramJaccardPairsBetween]] / x19), which misses a
    * short quoted answer inside an otherwise-unrelated document. Returns
    * one row per train doc: (id, n_words, n_eval_spans, n_covered, keep).
    *
    * Scale shape (same skeleton as [[duplicatedSpans]]): the eval side
    * collapses to ONE row per distinct span hash (eval sets are bounded —
    * benchmarks, not corpora); train explodes once into (id, pos, hash)
    * and left-semi-joins the eval hash set on the hash key; per-doc stats
    * are one partial-agg'd groupBy; the coverage union is a bounded
    * per-row expression. Nothing all-pairs, nothing driver-side.
    */
  def spanDecontaminate(train: DataFrame, eval: DataFrame, k: Int = 8,
                        text: String = "text", id: String = "doc_id"): DataFrame = {
    val evalSpans = eval
      .select(explode(shingleHashesAll(col(text), k)).as("__h")).distinct()
    val trainSpans = spread(train, col(id))
      .select(col(id), posexplode(shingleHashesAll(col(text), k)).as(Seq("__p0", "__h")))
      .select(col(id), (col("__p0") + 1).as("__pos"), col("__h"))
    // sort_array: collect_list order is partition-dependent, the output isn't
    val hitPos = trainSpans.join(evalSpans, Seq("__h"), "left_semi")
      .groupBy(col(id)).agg(sort_array(collect_list(col("__pos"))).as("__hp"))
    val ws = split(col(text), " ")
    val n = size(ws)
    val hp = coalesce(col("__hp"), array().cast("array<int>"))
    val cov = array_distinct(flatten(transform(hp, p => sequence(p, p + (k - 1)))))
    train.join(hitPos, Seq(id), "left")
      .select(col(id),
        n.cast("long").as("n_words"),
        size(hp).cast("long").as("n_eval_spans"),
        size(cov).cast("long").as("n_covered"),
        (size(hp) === 0).cast("long").as("keep"))
  }

  /** Collapse resolved components into the surviving corpus: one canonical
    * document per near-dup component — the highest-[[weight]] member
    * (ties: smallest id), i.e. "keep the longest copy", the usual corpus-
    * dedup policy — plus the component's member count and total weight so
    * downstream mixing can see how much mass each survivor represents.
    *
    * Scale shape: [[resolveComponents]] hands back (id, rep_id) stars; the
    * canonical pick is then ONE rep_id-keyed groupBy whose `max_by` /
    * `count` / `sum` aggregates are all partial-aggregable (the arg-max
    * rides a lexicographic (weight, -id) struct) — no per-component window,
    * no sort, and singleton components never concentrate anywhere.
    */
  def collapseComponents(docs: DataFrame, pairs: DataFrame, id: String = "doc_id",
                         weight: String = "n_chars"): DataFrame = {
    val reps = resolveComponents(docs, pairs, id).select(col(id), col("rep_id"))
    docs.join(reps, Seq(id))
      .groupBy("rep_id")
      .agg(
        max_by(col(id), struct(col(weight), (-col(id)).as("__tie"))).as("kept_id"),
        count(lit(1)).as("n_members"),
        sum(col(weight)).cast("long").as("total_weight"))
      .select(col("kept_id").as(id), col("n_members"), col("total_weight"))
  }

  /** Structural convergence certificate for [[resolveComponents]]: a
    * canonical edge set is a finished component labeling iff it is a union
    * of disjoint stars — every child has exactly ONE parent and no node is
    * both child and parent. Both star operations preserve connected
    * components (Kiveris et al. §3), and canonical orientation (u > v
    * always) means a component's minimum can never appear as a child, so a
    * star-shaped edge set IS the (member → component-min) answer. This is a
    * DETERMINISTIC check — it certifies the output's shape directly instead
    * of comparing consecutive rounds, so no hash-collision probability
    * (however small) sits under the convergence decision, and it costs one
    * partial-agg'd job over the (tiny, contracted) edge set per round.
    */
  private def isStarSet(edges: DataFrame): Boolean =
    edges.select(col("u").as("n"), lit(1L).as("c"), lit(0L).as("p"))
      .unionAll(edges.select(col("v").as("n"), lit(0L).as("c"), lit(1L).as("p")))
      .groupBy("n").agg(sum("c").as("nc"), sum("p").as("np"))
      // nc > 1: a node with two parents; nc*np > 0: a parent that is itself
      // re-pointed (a chain) — either way, not yet a star decomposition
      .where(col("nc") > 1 || (col("nc") > 0 && col("np") > 0))
      .isEmpty

  /** Large-star: every node strictly larger than u in u's neighborhood is
    * re-pointed at min(N(u) ∪ {u}). Emitted edges stay canonical (child >
    * parent) because the target m <= u < child.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("mn"))
      .select(col("a"), least(col("mn"), col("a")).as("m"))
    sym.join(mins, "a")
      .where(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: u and all of u's SMALLER neighbors are re-pointed at the
    * smallest of them. Operates directly on the canonical (u > v)
    * orientation, so N(u) here is exactly the smaller-neighbor set.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min("v").as("m"))
    edges.join(mins, "u")
      .select(col("v").as("node"), col("m"))
      .unionAll(mins.select(col("u").as("node"), col("m")))
      .where(col("node") =!= col("m"))
      .select(col("node").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Blocked exact n-gram Jaccard BETWEEN two frames (no within-frame
    * pairs): same length-bucket equi-join as [[ngramJaccardPairs]], but the
    * LEFT side is the one exploded into its 3 adjacent buckets. Call with
    * the bounded batch on the left and the big corpus on the right — the
    * corpus then contributes exactly one row per document to the shuffle
    * while only the batch triples. Each cross pair meets in exactly one
    * bucket (the right doc's own), so no distinct is needed.
    */
  def ngramJaccardPairsBetween(left: DataFrame, right: DataFrame, lenCol: String,
                               tol: Int = 16, text: String = "text",
                               id: String = "doc_id", k: Int = 3,
                               minJaccard: Double = 0.5): DataFrame = {
    val l = spread(left, col(id))
      .select(col(id).as("id_l"), col(lenCol).as("len_l"),
        array_sort(shingleHashes(col(text), k)).as("sh_l"))
      .withColumn("__b0", floor(col("len_l") / tol))
      .withColumn("__bucket", explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    val r = spread(right, col(id))
      .select(col(id).as("id_r"), col(lenCol).as("len_r"),
        array_sort(shingleHashes(col(text), k)).as("sh_r"),
        floor(col(lenCol) / tol).as("__bucket"))
    l.join(r, Seq("__bucket"))
      .where(abs(col("len_l") - col("len_r")) <= tol)
      // the whole verify step — positional early-abort, ANSI 0/0 guard,
      // exact division — as ONE nondeterministic-flagged expression, so
      // the two-pointer merge runs exactly once per candidate pair (the
      // r20 chain collapsed into the join condition and ran it up to 4x
      // per survivor — see BoundedJaccard's class doc)
      .withColumn("jaccard",
        graft.functions.BoundedJaccard(col("sh_l"), col("sh_r"), minJaccard))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental corpus dedup — the production shape of D1/D2 applied to a
    * training corpus: decide, for each document of an INCOMING batch,
    * whether it duplicates the EXISTING corpus. Returns one row per
    * incoming doc: (id, action, dup_of, jaccard) with action one of
    * `drop_exact` (byte-identical text in the corpus; dup_of = smallest
    * such corpus id), `drop_neardup` (blocked exact Jaccard >= minJaccard;
    * dup_of = the highest-Jaccard corpus doc, ties to the smaller id), or
    * `keep`. `jaccard` is null unless action = drop_neardup.
    *
    * Scale shape: the exact tier shuffles 64-byte sha2 keys (corpus side
    * partial-agg'd to one row per distinct text); the near tier is
    * [[ngramJaccardPairsBetween]] with the bounded batch exploded, corpus
    * linear; the arg-max is a map-side WindowGroupLimit over batch-keyed
    * pairs. Nothing driver-side. At deployment the near tier's candidate
    * generation would swap in the prebuilt LSH index probe
    * ([[graft.ext.SimSearch.lshTopKFromIndex]]) — same decision frame,
    * sub-quadratic candidates; the x20b gate exercises exactly that path.
    */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame, lenCol: String,
                       tol: Int = 16, minJaccard: Double = 0.5,
                       text: String = "text", id: String = "doc_id",
                       k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusHash = corpus
      .groupBy(sha2(col(text), 256).as("__h")).agg(min(col(id)).as("__exact_of"))
    val exact = incoming.select(col(id), sha2(col(text), 256).as("__h"))
      .join(corpusHash, Seq("__h"), "left")
    val pairs = ngramJaccardPairsBetween(incoming, corpus, lenCol, tol, text, id, k, minJaccard)
    val best = pairs
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id_l")).orderBy(col("jaccard").desc, col("id_r").asc)))
      .where(col("__rk") === 1)
      .select(col("id_l").as(id), col("id_r").as("__near_of"), col("jaccard").as("__near_j"))
    exact.join(best, Seq(id), "left")
      .select(col(id),
        when(col("__exact_of").isNotNull, "drop_exact")
          .when(col("__near_of").isNotNull, "drop_neardup")
          .otherwise("keep").as("action"),
        coalesce(col("__exact_of"), col("__near_of")).as("dup_of"),
        when(col("__exact_of").isNull, col("__near_j")).as("jaccard"))
  }

  /** Serialized Bloom filter over the corpus's exact-content hashes — the
    * membership SKETCH behind [[bloomDedup]]. Built fully distributed with
    * Spark's own `BloomFilterAggregate` (the engine primitive behind
    * runtime join filters): every partition fills a local filter over
    * `xxhash64(text)`, partial filters OR-merge up the agg tree, and ONE
    * bounded binary blob (numBits/8 bytes — ~5.5 MB at the 1 M-item /
    * 1e-8-fpp default, independent of corpus size) reaches the driver.
    * That driver materialization is the point of a sketch: like the BPE
    * trainer's top-1 rows ([[graft.ext.Bpe]]), it is O(sketch), never
    * O(data).
    *
    * Bit sizing is the standard Bloom formula (Bloom 1970):
    * m = -n·ln(p)/ln²2, and the aggregate derives its hash count k from
    * (m, n) the same way `BloomFilter.create` does.
    */
  def corpusBloom(corpus: DataFrame, text: String = "text",
                  expectedItems: Long = 1L << 20, fpp: Double = 1e-8): Array[Byte] = {
    import org.apache.spark.sql.GraftBridge
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val numBits = math.ceil(-expectedItems * math.log(fpp)
      / (math.log(2) * math.log(2))).toLong
    // graft's own aggregate, not Spark's BloomFilterAggregate: Spark's
    // silently clamps geometry to the runtime-JOIN-filter session confs
    // (maxNumItems 4M / maxNumBits 67M defaults), so a 1e9-item build
    // would come back saturated; round 9's conf-inflation workaround
    // leaked the caps to concurrent queries and raced concurrent builds.
    // BloomBuildAgg takes the geometry as constructor values — no session
    // state is read or written anywhere in this build.
    val agg = graft.functions.BloomBuildAgg(
      GraftBridge.toExpression(xxhash64(col(text))),
      expectedItems, numBits).toAggregateExpression()
    // null texts are EXCLUDED from the sketch: xxhash64 hashes a null to
    // the bare seed, so a single null corpus row would otherwise insert
    // that sentinel hash and make every null-text probe read "duplicate" —
    // the opposite of the exact anti-join face, where a null key never
    // matches and the row is kept. With nulls excluded both faces agree:
    // null-text rows always pass through. An EMPTY corpus yields an empty
    // filter from the aggregate itself (its zero-row buffer serializes;
    // nothing is a duplicate) — no null sketch, no fallback path.
    corpus.where(col(text).isNotNull)
      .select(GraftBridge.toColumn(agg).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** `might_contain` probe of a [[corpusBloom]] sketch — a codegen'd row
    * predicate (Spark's `BloomFilterMightContain`, fed the same
    * `xxhash64(text)` the build side used) with the serialized filter as a
    * constant, so executors test membership against task-local bytes with
    * NO join, NO shuffle, and no corpus-side state beyond the sketch.
    */
  def bloomMightContain(bloom: Array[Byte], text: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftBridge.toColumn(BloomFilterMightContain(
      Literal(bloom, BinaryType), GraftBridge.toExpression(xxhash64(text))))
  }

  /** Sketch-based incremental exact dedup — the 100 TB shape of
    * [[incrementalDedup]]'s exact tier. The exact tier's hash join is
    * already cheap (64-byte keys), but it still shuffles BOTH sides every
    * batch; production pipelines instead keep ONE compact membership
    * sketch of the corpus and answer "seen before?" with a map-only probe
    * (the Bloom-filter dedup used by open pretraining-data pipelines such
    * as AI2's Dolma; reference's pandas `drop_duplicates` at
    * `data_engineering.py:23` is the single-node ancestor of both tiers).
    * Returns one row per incoming doc: (id, action) with action `drop`
    * (text already in the corpus, up to the sketch's false-positive rate)
    * or `keep`.
    *
    * Error semantics are one-sided, the right direction for dedup: a Bloom
    * filter has NO false negatives, so a true duplicate is never kept; a
    * false positive drops a unique document with probability <= fpp
    * (1e-8 default — expected loss of a few docs per billion), the usual
    * accepted trade for removing the per-batch corpus shuffle entirely.
    * The x39b audit gate re-derives both bounds against the exact join
    * every round.
    *
    * Scale shape: corpus is read ONCE per sketch refresh (partial-agg'd
    * bloom build); each incoming batch is a scan + codegen'd predicate —
    * no shuffle, no join, no skew surface at all. At 1000 executors the
    * probe is embarrassingly parallel and the sketch rides task broadcast
    * (~MBs).
    */
  def bloomDedup(incoming: DataFrame, corpus: DataFrame,
                 text: String = "text", id: String = "doc_id",
                 expectedItems: Long = 1L << 20, fpp: Double = 1e-8): DataFrame = {
    val bf = corpusBloom(corpus, text, expectedItems, fpp)
    incoming.select(col(id),
      when(bloomMightContain(bf, col(text)), lit("drop"))
        .otherwise(lit("keep")).as("action"))
  }

  /** Corpus-level duplicated-SPAN removal — the exact-substring counterpart
    * of document-level dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022), at word k-gram granularity: a span
    * is any word k-gram occurring more than once ANYWHERE in the corpus
    * (across documents or within one), and every word covered by such a
    * span is removed from the document rather than dropping the whole doc.
    * Returns one row per input doc: (id, n_words, n_dup_spans, n_covered,
    * dedup_text) where dedup_text is the input with covered words removed
    * (word order preserved).
    *
    * Scale shape (suffix arrays are the single-machine tool for this; the
    * distributed shape is shingle counting): explode to (doc, pos, 64-bit
    * k-gram hash) — one partial-agg'd count groupBy on 8-byte keys, one
    * semi-join back on the same keys, then one bounded per-doc groupBy
    * (positions per doc <= doc length, and pretraining docs are length-
    * bounded upstream). The coverage mask and text rebuild are per-row
    * array expressions. Nothing all-pairs, nothing driver-side. Spans are
    * compared by xxhash64, so removal decisions equal string-k-gram
    * decisions up to hash collisions (~2^-64 per occurrence pair).
    */
  def duplicatedSpans(df: DataFrame, k: Int = 8, text: String = "text",
                      id: String = "doc_id",
                      cmsEps: Option[Double] = None): DataFrame = {
    val exploded = spread(df, col(id))
      .select(col(id), posexplode(shingleHashesAll(col(text), k)).as(Seq("__p0", "__h")))
      .select(col(id), (col("__p0") + 1).as("__pos"), col("__h"))
    // Optional CMS prefilter (the x40/x43 move): an estimate below 2 proves
    // a span unique (CMS never underestimates), so only candidate
    // occurrences reach the count shuffle and the answer stays COMPLETE —
    // at corpus scale most spans are unique and the span-key exchange
    // shrinks to the duplicated head + eps*N overcount. Off by default:
    // at fixture scale the extra sketch pass costs more than the shuffle
    // it saves (measured; see PLANS.md x29).
    val counted = cmsEps match {
      case Some(eps) =>
        val sketch = graft.functions.CmsEstimate.sketchOf(exploded, col("__h"), eps)
        // checkpoint: the candidate stream feeds both the count and the
        // semi-join — see removeBoilerplate's matching note
        exploded.where(graft.functions.CmsEstimate(sketch, col("__h")) >= 2)
          .localCheckpoint(false)
      case None => exploded
    }
    val dupHashes = counted.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cnt")).where(col("__cnt") > 1)
    // sort_array: collect_list order is partition-dependent, the output isn't
    // (probing `counted` is exact: it retains EVERY occurrence of every
    // duplicated span — only provably-unique occurrences are dropped)
    val dupPos = counted.join(dupHashes, Seq("__h"), "left_semi")
      .groupBy(col(id)).agg(sort_array(collect_list(col("__pos"))).as("__dp"))
    // HOIST the split out of the rebuild lambda: an expression referenced
    // inside `transform`'s lambda is evaluated PER ELEMENT, so
    // `element_at(split(text), j)` re-split the whole document once per
    // surviving word — O(words^2) chars per doc (measured as a 16 s
    // single-task rebuild stage at sf0.1). As a projected column the
    // split runs once per row and the lambda reads an attribute.
    val ws = col("__ws")
    val n = size(ws)
    val dp = coalesce(col("__dp"), array().cast("array<int>"))
    // covered word indexes (1-based): union of [p, p+k-1] over dup positions
    val cov = array_distinct(flatten(transform(dp, p => sequence(p, p + (k - 1)))))
    df.withColumn("__ws", split(col(text), " "))
      .join(dupPos, Seq(id), "left")
      .select(col(id),
        n.cast("long").as("n_words"),
        size(dp).cast("long").as("n_dup_spans"),
        size(cov).cast("long").as("n_covered"),
        array_join(
          transform(array_except(sequence(lit(1), n), cov), j => element_at(ws, j)),
          " ").as("dedup_text"))
  }

  /** Exact n-gram Jaccard over a length-blocked pair space: only pairs whose
    * `lenCol` differs by <= `tol` are compared (near-duplicates have
    * near-equal lengths). Like [[graft.operators.AsofJoin]], the band
    * predicate is turned into an equi-join on overlapping `lenCol / tol`
    * buckets (right side exploded into its 3 adjacent buckets), so Catalyst
    * plans a hash join, never a cartesian product — sub-quadratic and
    * shuffle-partitioned at any scale.
    */
  def ngramJaccardPairs(df: DataFrame, lenCol: String, tol: Int = 16,
                        text: String = "text", id: String = "doc_id", k: Int = 3,
                        minJaccard: Double = 0.5): DataFrame = {
    // shingles live as SORTED long-hash sets: the shuffled payload shrinks
    // ~8x vs strings, and |A ∩ B| becomes a two-pointer merge (custom
    // codegen'd expression) instead of a per-pair hash-set build. Jaccard
    // over hashed sets equals Jaccard over the string sets up to xxhash64
    // collisions (~2^-64 per pair).
    val withSh = spread(df, col(id)).select(col(id), col(lenCol),
      array_sort(shingleHashes(col(text), k)).as("sh"))
    val a = withSh
      .withColumn("__bucket", floor(col(lenCol) / tol))
      .select(col(id).as("id_a"), col(lenCol).as("len_a"), col("sh").as("sh_a"), col("__bucket"))
    val b = withSh
      .withColumn("__b0", floor(col(lenCol) / tol))
      .withColumn("__bucket", explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .select(col(id).as("id_b"), col(lenCol).as("len_b"), col("sh").as("sh_b"), col("__bucket"))
    // the Jaccard predicate gets pushed into the join condition, so the
    // probe side's partitioning IS the parallelism of the intersection loop
    spread(a, col("id_a")).join(b, Seq("__bucket"))
      .where(col("id_a") < col("id_b") && abs(col("len_a") - col("len_b")) <= tol)
      // the whole verify step as ONE expression, evaluated once per
      // candidate pair — see ngramJaccardPairsBetween / BoundedJaccard
      .withColumn("jaccard",
        graft.functions.BoundedJaccard(col("sh_a"), col("sh_b"), minJaccard))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
