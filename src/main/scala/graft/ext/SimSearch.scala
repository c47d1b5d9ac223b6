package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — SURVEY.md §7.4.
  *
  * Two tiers:
  *   - [[bruteTopK]]: exact cosine top-k. The query side is broadcast, so
  *     the "cross" join is a broadcast nested loop over a SMALL query set —
  *     linear in the corpus, embarrassingly parallel, no shuffle of the big
  *     side. This is the correct baseline even at 100 TB when |queries| is
  *     bounded (the corpus streams through executors once).
  *   - [[lshTopK]]: random-hyperplane LSH. Both sides hash to sign-bit
  *     buckets; candidates equi-join on bucket (shuffle-hash, sub-linear
  *     candidate set), then exact cosine re-ranks. Multi-probe = also visit
  *     buckets at hamming distance 1 on the query side, trading recall for
  *     fan-out without touching the corpus again.
  *
  * All dot products run in double precision via `zip_with`+`aggregate`
  * column expressions (codegen'd, no UDF).
  */
object SimSearch {

  /** Sequential-order double-precision dot product of two float arrays —
    * a custom codegen'd expression (bit-identical to the zip_with/aggregate
    * formulation, ~60x cheaper per pair; see
    * [[graft.functions.FloatDotProduct]]).
    */
  def dot(a: Column, b: Column): Column = graft.functions.FloatDotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine for each query row. Exclude self-matches via id
    * inequality when query ids live in the same id space as the corpus.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                qId: String = "q_id", qVec: String = "q_vec",
                cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    // norms are computed ONCE per vector before the join — the per-pair work
    // is a single dot product, not three
    val q = queries.withColumn("__qn", norm(col(qVec)))
    val c = corpus.withColumn("__cn", norm(col(cVec)))
    val joined = c.crossJoin(broadcast(q))
      .where(col(qId) =!= col(cId))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")))
    topKSelect(joined, k, qId, cId)
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded). */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** All per-table sign-bit bucket ids at once (see
    * [[graft.functions.HyperplaneBuckets]]): value-identical to an array
    * of 16 [[graft.functions.HyperplaneBucket]] nodes but one generated
    * hashing loop instead of 16 — the 16-node form's generated-class size
    * made its COLD first execution ~50x the actual hashing work.
    */
  def lshBuckets(vec: Column, tables: Seq[Seq[Array[Double]]], nBits: Int): Column =
    graft.functions.HyperplaneBuckets(vec, tables.flatten, nBits)

  /** Shared ANN epilogue: rank candidates per query by (score desc, id
    * asc) and emit the tier-uniform output schema. ONE definition — the
    * probe set or tie-break changing in one tier but not another is
    * exactly the drift this prevents.
    */
  private def topKSelect(scored: DataFrame, k: Int, qId: String,
                         cId: String, cosCol: String = "cos"): DataFrame = {
    val w = Window.partitionBy(col(qId)).orderBy(col(cosCol).desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(qId), col(cId).as("neighbor_id"), col("rank"),
        round(col(cosCol), 5).as("cos"))
  }

  /** Per-table multi-probe bucket expansion — own bucket plus every
    * hamming-1 flip — shared by the float and quantized LSH probes.
    * Emits (input columns) + (tbl, bucket).
    */
  private def multiProbe(df: DataFrame, vecCol: String,
                         tables: Seq[Seq[Array[Double]]], nBits: Int): DataFrame = {
    val flips = array((lit(0L) +: (0 until nBits).map(i => lit(1L << i))): _*)
    df.select(col("*"),
        posexplode(lshBuckets(col(vecCol), tables, nBits))
          .as(Seq("tbl", "bucket0")))
      .withColumn("bucket", explode(transform(flips, f => col("bucket0").bitwiseXOR(f))))
      .drop("bucket0")
  }

  /** Multi-table LSH ANN (the standard OR-construction): `nTables`
    * independent sign-bit hash tables of `nBits` each; a corpus vector is a
    * candidate for a query if they share a bucket in ANY table (query side
    * additionally multi-probes each table's hamming-1 neighbor buckets).
    * Exact cosine then re-ranks and keeps top-k per query.
    *
    * Recall/cost knobs: per-table match probability for a pair at angle θ
    * is p^nBits (p = 1 − θ/π) and tables union, so recall ≈
    * 1 − (1 − P_probe)^nTables. The defaults (8 bits × 16 tables,
    * hamming-1 probe) were chosen against the synthetic embeddings —
    * measured recall@5 ≈ 0.8 at every SF on genuinely hard data (true
    * top-5 cosines of only 0.26–0.49, nearly angle-random). On real
    * embedding corpora (top-k cosine ≥ 0.7) the same setting prunes
    * dramatically harder — candidate volume falls with neighbor angle,
    * recall rises.
    *
    * Scale shape: the corpus is posexploded ×nTables into (table, bucket)
    * rows — exactly the L-table LSH index layout, linear in corpus, built
    * map-side with codegen'd [[graft.functions.HyperplaneBucket]]. The
    * bounded query side (×nTables×(nBits+1) probes) broadcasts; candidates
    * meet in an equi-join on (table, bucket); pairs meeting in several
    * tables collapse with one (q, c) hash-agg before the top-k window.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    lshTopKFromIndex(queries,
      lshIndex(corpus, nBits, nTables, dim, seed, cId, cVec),
      k, nBits, nTables, dim, seed, qId, qVec, cId, cVec)

  /** The persistent LSH index layout: one (table, bucket) row per corpus
    * vector per table, norms precomputed. In a deployment this is built
    * ONCE and written bucketed by (tbl, bucket) (Spark's
    * `bucketBy(n, "tbl", "bucket").saveAsTable`), so every later query
    * batch probes a pre-shuffled, co-located table
    * instead of re-hashing 100 TB of corpus — the parameters (nBits,
    * nTables, dim, seed) ARE the index identity and must match at query
    * time.
    */
  def lshIndex(corpus: DataFrame,
               nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
               cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val tables = hyperplanes(nBits * nTables, dim, seed).grouped(nBits).toSeq
    // spread BEFORE the explode so the nTables x nBits x dim hashing loop
    // uses every core even on a single-split fixture corpus
    Dedup.spread(corpus, col(cId))
      .withColumn("__cn", norm(col(cVec)))
      .select(col(cId), col(cVec), col("__cn"),
        posexplode(lshBuckets(col(cVec), tables, nBits))
          .as(Seq("tbl", "bucket")))
  }

  /** Probe a prebuilt [[lshIndex]] with a bounded query set. */
  def lshTopKFromIndex(queries: DataFrame, index: DataFrame, k: Int,
                       nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
                       qId: String = "q_id", qVec: String = "q_vec",
                       cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val tables = hyperplanes(nBits * nTables, dim, seed).grouped(nBits).toSeq
    val q = multiProbe(
      queries.select(col(qId), col(qVec)).withColumn("__qn", norm(col(qVec))),
      qVec, tables, nBits)

    // a pair can meet in several tables -> collapse before ranking (cos is
    // identical for every copy, so max() is pure dedup)
    val cand = index.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col(qId) =!= col(cId))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")))
      .groupBy(col(qId), col(cId)).agg(max(col("cos")).as("cos"))
    topKSelect(cand, k, qId, cId)
  }

  /** IVF-style ANN with a TRAINED coarse quantizer: k-means centroids
    * (spherical Lloyd, cosine assignment) assign every corpus vector to a
    * cell ONCE; each query probes its `nProbe` nearest cells and only
    * re-ranks those candidates exactly.
    *
    * Scale shape: cell assignment is a shuffle-free map over the corpus
    * (custom codegen'd [[graft.functions.NearestCentroid]]); the probe
    * list is a tiny (query x cell) frame built from a broadcast centroid
    * table; candidates equi-join on cell. With nCells ~ sqrt(corpus) the
    * candidate set is ~nProbe/nCells of the corpus per query. Quantizer
    * training is `lloydIters` DataFrame jobs, each one partial-agg'd
    * shuffle (see below) — only the nCells centroid vectors ever reach
    * the driver.
    *
    * Driver-memory bound: the two bounded collects (10k-row init sample,
    * per-round (cell, pos) stats) hold O(nCells x dim) doubles plus the
    * fixed 10k x dim sample. At nCells = sqrt(corpus) on a 1e12-vector
    * corpus with dim 1024 that is ~1e6 x 1024 x 8B = 8 GB of centroid
    * state — size driver memory accordingly, or cap nCells and accept
    * coarser cells (recall is recovered by raising nProbe).
    */
  /** Spherical-k-means coarse-quantizer training (shared by [[ivfTopK]]
    * and [[nearDupPairsByCell]]).
    *
    * Deterministic INIT: the 10k corpus vectors with the SMALLEST id-hash
    * — a seedless pseudo-random sample of the whole corpus (ordering by
    * raw id would take the first 10k rows, a biased slice at scale).
    * Plans as TakeOrderedAndProject: per-partition top-k, no global sort
    * materialization. Bounded driver collect.
    *
    * Lloyd refinement, pure DataFrame ops: assignment is the codegen'd
    * [[graft.functions.NearestCentroid]] map; the update is one shuffle
    * of (cell, pos) PARTIAL sums — map-side combine reduces every
    * partition to <= nCells x dim rows, so at 100 TB the shuffle and the
    * driver collect are both O(nCells x dim), never O(corpus). Means are
    * re-normalized (cosine k-means); a cell that captures no vectors
    * keeps its previous centroid.
    */
  private[ext] def trainCentroids(corpus: DataFrame, nCells: Int, lloydIters: Int,
                                  cId: String, cVec: String): Array[Array[Double]] = {
    // train only on well-formed vectors: a null vector or null ELEMENT
    // would otherwise surface as an opaque driver-side NPE (null init
    // sample row) or a cell=NULL stats row (NearestCentroid poisons null
    // elements to a null cell by design) — skipping them keeps the
    // quantizer defined by the data that can actually be assigned
    val clean = corpus.where(col(cVec).isNotNull &&
      !exists(col(cVec), e => e.isNull))
    // PERSIST across the Lloyd rounds — the canonical iterate-over-cached
    // -input shape: without it every round re-scans the source and re-runs
    // the spread shuffle, which at 100 TB multiplies the full corpus read
    // by lloydIters. MEMORY_AND_DISK so a corpus bigger than executor
    // memory degrades to local disk re-reads, still far cheaper than
    // re-scanning remote storage per round.
    val spreadCorpus = Dedup.spread(clean.select(col(cId), col(cVec)), col(cId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sampled = spreadCorpus
        .orderBy(xxhash64(col(cId)).asc, col(cId).asc).limit(10000)
        .collect()
      require(sampled.nonEmpty,
        "cannot train a quantizer: corpus has no non-null embedding vectors")
      // Uniform-dimension contract. The Lloyd update divides the WHOLE-
      // vector sum by the per-cell ROW count (VectorSumAgg), which is the
      // per-position mean only when every vector has the same length — a
      // ragged corpus would silently shift the means. Enforce it loudly on
      // the init sample, and FILTER the per-round stats scan to the
      // sampled dimension below (a per-row size() check fused into the
      // codegen'd scan of the cached frame — a full-corpus min/max(size)
      // assertion would cost an extra cached-corpus pass per train call).
      val dim = sampled.head.getSeq[Float](1).length
      val ragged = sampled.find(_.getSeq[Float](1).length != dim)
      require(ragged.isEmpty, s"cannot train a quantizer on ragged vectors: " +
        s"saw dims $dim and ${ragged.get.getSeq[Float](1).length} in the init sample")
      val step = math.max(sampled.length / nCells, 1)
      var centroids = sampled.zipWithIndex.collect { case (r, i) if i % step == 0 => r }
        .take(nCells)
        .map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble).toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / math.max(n, 1e-12))
        }
      for (_ <- 0 until lloydIters) {
        // one row per cell reaches the shuffle/driver: vectors aggregate
        // WHOLE via graft_vector_sum (per-partition double[dim] partials,
        // element-wise merges) instead of exploding into dim (cell, pos)
        // rows first — O(nCells x dim) bytes moved either way, but no
        // dim-x row inflation ahead of the shuffle and a far smaller
        // generated aggregate
        val stats = spreadCorpus
          .where(size(col(cVec)) === dim) // ragged rows: see dim contract above
          .select(graft.functions.NearestCentroid(col(cVec), centroids).as("cell"),
            col(cVec))
          .groupBy(col("cell"))
          .agg(org.apache.spark.sql.GraftBridge.toColumn(
            graft.functions.VectorSumAgg(
              org.apache.spark.sql.GraftBridge.toExpression(col(cVec)))
              .toAggregateExpression()).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val means = new Array[Array[Double]](nCells)
        stats.foreach { r =>
          val s = r.getSeq[Double](1)
          means(r.getInt(0)) = s.map(_ / r.getLong(2)).toArray
        }
        centroids = centroids.zipWithIndex.map { case (prev, c) =>
          if (means(c) == null) prev
          else {
            val nrm = math.sqrt(means(c).map(x => x * x).sum)
            means(c).map(_ / math.max(nrm, 1e-12))
          }
        }
      }
      centroids
    } finally spreadCorpus.unpersist(blocking = false)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 8, lloydIters: Int = 2,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val (cells, centroidDF) = ivfIndex(corpus, nCells, lloydIters, cId, cVec)
    ivfTopKFromIndex(queries, cells, centroidDF, k, nProbe, qId, qVec, cId, cVec)
  }

  /** Metadata-filtered exact top-k: neighbors restricted to corpus rows
    * satisfying `pred`, applied below the scoring join (the filtered-search
    * discipline — see [[ivfTopKFromIndexFiltered]] for why pre-filtering
    * is the only correct shape).
    */
  def bruteTopKFiltered(queries: DataFrame, corpus: DataFrame, k: Int,
                        pred: Column,
                        qId: String = "q_id", qVec: String = "q_vec",
                        cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    bruteTopK(queries, corpus.where(pred), k, qId, qVec, cId, cVec)

  /** The persistent IVF index: the cell-assigned corpus (persist bucketed
    * by `cell` — every later probe batch hits co-located cells) and the
    * tiny centroid table (nCells rows; this pair IS the index identity,
    * persist them together). Training runs once here; probes never touch
    * the quantizer again.
    */
  def ivfIndex(corpus: DataFrame, nCells: Int = 16, lloydIters: Int = 2,
               cId: String = "vec_id", cVec: String = "embedding"): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val centroids = trainCentroids(corpus, nCells, lloydIters, cId, cVec)
    // same partitioning-inheritance fix as lshTopK: spread the corpus so
    // cell assignment + candidate dot products use every core
    val cells = Dedup.spread(corpus, col(cId))
      .withColumn("cell", graft.functions.NearestCentroid(col(cVec), centroids))
      .withColumn("__cn", norm(col(cVec)))
    import spark.implicits._
    val centroidDF = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq.toDF("cell", "c_vec")
    (cells, centroidDF)
  }

  /** Probe a prebuilt [[ivfIndex]]: rank the broadcast centroid table per
    * query, equi-join the `nProbe` chosen cells against the cell-assigned
    * corpus, exact-cosine re-rank. The corpus side reads only its probed
    * cells when the index is persisted bucketed by `cell`.
    */
  def ivfTopKFromIndex(queries: DataFrame, cells: DataFrame, centroidDF: DataFrame,
                       k: Int, nProbe: Int = 8,
                       qId: String = "q_id", qVec: String = "q_vec",
                       cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val probes = queries.crossJoin(broadcast(centroidDF))
      .withColumn("c_dot", dot(col(qVec), col("c_vec")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("c_dot").desc, col("cell").asc)))
      .where(col("__pr") <= nProbe)
      .select(col(qId), col(qVec), col("cell"))
      .withColumn("__qn", norm(col(qVec)))

    val cand = cells.join(broadcast(probes), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")))
    topKSelect(cand, k, qId, cId)
  }

  /** Metadata-filtered probe of a prebuilt [[ivfIndex]] — ONE index serves
    * every predicate. The predicate filters the cell-assigned corpus
    * BEFORE candidate scoring and the top-k (pre-filtering): post-filtering
    * the returned top-k instead silently starves results whenever the
    * filter is selective — with selectivity s, an unfiltered top-k keeps
    * only ~s·k qualifying rows and loses every true neighbor that sat
    * outside it. Index rows keep their metadata columns precisely so
    * predicates can push down here (onto the bucketed cell scan when the
    * index is persisted); with `nProbe = nCells` the result is exactly
    * [[bruteTopKFiltered]].
    */
  def ivfTopKFromIndexFiltered(queries: DataFrame, cells: DataFrame,
                               centroidDF: DataFrame, k: Int, pred: Column,
                               nProbe: Int = 8,
                               qId: String = "q_id", qVec: String = "q_vec",
                               cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    ivfTopKFromIndex(queries, cells.where(pred), centroidDF, k, nProbe,
      qId, qVec, cId, cVec)

  /** Symmetric per-vector int8 quantization: `scale = 127 / max|v_i|`,
    * `q_i = floor(v_i * scale + 0.5)` (round-half-toward-+inf — `floor`
    * is bit-identical across engines, unlike round-half-away ties). By
    * construction every `q_i` fits [-127, 127], so the output element
    * type is a real `tinyint` — a 4x storage/bandwidth cut for ANN
    * serving, with reconstruction error <= 0.5/scale per element.
    * Shuffle-free per-row expressions; all-zero vectors quantize to zeros
    * via the 1e-12 floor on the divisor.
    */
  def quantizeInt8(df: DataFrame, vec: String = "embedding",
                   outCol: String = "q_vec", scaleCol: String = "q_scale"): DataFrame =
    df.withColumn(scaleCol,
        lit(127.0) / greatest(
          array_max(transform(col(vec), x => abs(x.cast("double")))), lit(1e-12)))
      .withColumn(outCol,
        transform(col(vec),
          x => floor(x.cast("double") * col(scaleCol) + lit(0.5)).cast("byte")))

  /** The QUANTIZED serving index: same (tbl, bucket) LSH layout as
    * [[lshIndex]], but the stored payload per corpus vector is its int8
    * code array + dequantization scale + float norm — the float embedding
    * itself never enters the index. For a `dim`-float vector that is a
    * ~4x cut in index bytes (dim tinyints + 16 bytes vs 4*dim), which at
    * 100 TB of embeddings is the difference between an index that fits
    * executor page cache and one that doesn't. Hashing still runs on the
    * float vectors — quantization error never moves a bucket boundary.
    */
  def lshIndexQuantized(corpus: DataFrame,
                        nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
                        cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val tables = hyperplanes(nBits * nTables, dim, seed).grouped(nBits).toSeq
    Dedup.spread(quantizeInt8(corpus, cVec, "__code", "__cscale"), col(cId))
      .withColumn("__cn", norm(col(cVec)))
      .select(col(cId), col("__code"), col("__cscale"), col("__cn"),
        posexplode(lshBuckets(col(cVec), tables, nBits))
          .as(Seq("tbl", "bucket")))
  }

  /** Quantized ANN serving: LSH candidate generation over the int8 index,
    * candidate scoring on integer codes only, exact float re-rank of the
    * bounded survivor set.
    *
    * The candidate stage approximates cosine as
    * `int8_dot(q_code, c_code) / (q_scale * c_scale) / (|q| * |c|)` —
    * per-element quantization error is <= 0.5/scale, so the score is
    * within ~1% of true cosine, easily enough to pick the top
    * `k * rerankFactor` survivors. Only those survivors (<= |queries| *
    * k * rerankFactor rows, a bounded set) fetch their float vectors back
    * from the primary store via a keyed join for the exact re-rank — at
    * serving scale the hot loop reads 1-byte codes, and full-precision
    * vectors are touched for a few dozen rows per query.
    *
    * Scale shape: index side is the [[lshIndexQuantized]] layout (build
    * once, persist bucketed); the probe side broadcasts; candidates meet
    * in an equi-join on (tbl, bucket); the survivor top-k runs as a
    * map-side WindowGroupLimit; the re-rank is a broadcast semi-join
    * against the corpus scan. Nothing all-pairs, nothing driver-side.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    rerankFactor: Int = 4,
                    nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
                    qId: String = "q_id", qVec: String = "q_vec",
                    cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    quantizedTopKFromIndex(queries,
      lshIndexQuantized(corpus, nBits, nTables, dim, seed, cId, cVec),
      corpus, k, rerankFactor, nBits, nTables, dim, seed, qId, qVec, cId, cVec)

  /** Probe a PREBUILT [[lshIndexQuantized]] — the deployment path: the
    * index is built once (persisted with Spark's `bucketBy` on (tbl,
    * bucket); new batches append under the same bucket spec), query
    * batches probe it without re-hashing or re-quantizing the corpus, and
    * only the exact re-rank touches the primary `corpus` store for float
    * vectors. The (nBits, nTables, dim,
    * seed) parameters are the index identity and must match build time.
    */
  def quantizedTopKFromIndex(queries: DataFrame, index: DataFrame, corpus: DataFrame,
                             k: Int, rerankFactor: Int = 4,
                             nBits: Int = 8, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
                             qId: String = "q_id", qVec: String = "q_vec",
                             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val tables = hyperplanes(nBits * nTables, dim, seed).grouped(nBits).toSeq
    // queries quantize with their own per-vector scale; the float vector
    // is only needed to compute buckets and drops before the broadcast
    val q = multiProbe(
      quantizeInt8(queries, qVec, "__qcode", "__qscale")
        .withColumn("__qn", norm(col(qVec)))
        .select(col(qId), col(qVec), col("__qcode"), col("__qscale"), col("__qn")),
      qVec, tables, nBits)
      .drop(qVec)

    // candidate scoring touches ONLY int8 codes + two scalars per side
    val cand = index.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col(qId) =!= col(cId))
      .withColumn("acos",
        graft.functions.Int8DotProduct(col("__qcode"), col("__code")).cast("double")
          / (col("__qscale") * col("__cscale")) / (col("__qn") * col("__cn")))
      .groupBy(col(qId), col(cId)).agg(max(col("acos")).as("acos"))
    val wa = Window.partitionBy(col(qId)).orderBy(col("acos").desc, col(cId).asc)
    val survivors = cand.withColumn("__ar", row_number().over(wa))
      .where(col("__ar") <= k * rerankFactor)
      .select(col(qId), col(cId))

    // exact float re-rank of the bounded survivor set
    val cf = corpus.select(col(cId), col(cVec)).withColumn("__cn", norm(col(cVec)))
    val qf = queries.select(col(qId), col(qVec)).withColumn("__qn", norm(col(qVec)))
    val rr = cf.join(broadcast(survivors), Seq(cId))
      .join(broadcast(qf), Seq(qId))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")))
    topKSelect(rr, k, qId, cId)
  }

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011): `m`
    * per-subspace codebooks of `ksub` centroids over unit-normalized
    * vectors, trained by Lloyd iterations on a BOUNDED deterministic
    * sample. Sample-based codebook training is the published practice at
    * any corpus size (codebook quality saturates at a few hundred samples
    * per centroid — the same regime FAISS trains in), so the driver-side
    * Lloyd here is O(sampleN·dim·ksub·iters) ≈ 100 M flops at the
    * defaults and INDEPENDENT of corpus size; the corpus-sized work
    * (encode, ADC scan) stays fully distributed. The sample is
    * xxhash-ordered (one distributed TakeOrdered job, bounded driver
    * payload — same discipline as [[trainCentroids]]'s init), so the
    * codebooks — and every code derived from them — are identical across
    * partition layouts and cluster sizes.
    *
    * Subspace centroids are NOT re-normalized (unlike the IVF centroids):
    * PQ reconstructs subvectors, and a subvector of a unit vector is not
    * itself unit. Ties in assignment break toward the lower index; empty
    * cells keep their previous centroid — both deterministic.
    */
  def pqTrain(corpus: DataFrame, m: Int = 16, ksub: Int = 64,
              lloydIters: Int = 5, sampleN: Int = 10000,
              cId: String = "vec_id", cVec: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m > 0 && ksub > 0 && ksub <= 256, s"pqTrain needs m>0 and 1<=ksub<=256, got m=$m ksub=$ksub")
    val clean = corpus.where(col(cVec).isNotNull && !exists(col(cVec), e => e.isNull))
    val sampled = clean.select(col(cId), col(cVec))
      .orderBy(xxhash64(col(cId)).asc, col(cId).asc).limit(sampleN)
      .collect()
    require(sampled.nonEmpty, "cannot train PQ codebooks: corpus has no non-null embedding vectors")
    val dim = sampled.head.getSeq[Float](1).length
    val ragged = sampled.find(_.getSeq[Float](1).length != dim)
    require(ragged.isEmpty, s"cannot train PQ codebooks on ragged vectors: " +
      s"saw dims $dim and ${ragged.get.getSeq[Float](1).length} in the sample")
    require(dim % m == 0, s"pqTrain needs dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    // unit-normalize once on the driver; all subspace math sees the same
    // vectors PqEncode/PqLut will normalize at scan time
    val xs: Array[Array[Double]] = sampled.map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
      v.map(_ / n)
    }
    val k = math.min(ksub, xs.length)
    val step = math.max(xs.length / k, 1)
    Array.tabulate(m) { j =>
      // init by striding the hash-ordered sample — same scheme as the IVF
      // init, per subspace
      var cents: Array[Array[Double]] =
        xs.indices.collect { case i if i % step == 0 => xs(i).slice(j * dsub, (j + 1) * dsub) }
          .take(k).toArray
      for (_ <- 0 until lloydIters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        xs.foreach { x =>
          var best = 0
          var bestDist = Double.PositiveInfinity
          var c = 0
          while (c < cents.length) {
            var acc = 0.0
            var t = 0
            while (t < dsub) {
              val d = x(j * dsub + t) - cents(c)(t)
              acc += d * d
              t += 1
            }
            if (acc < bestDist) { bestDist = acc; best = c }
            c += 1
          }
          var t = 0
          while (t < dsub) { sums(best)(t) += x(j * dsub + t); t += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (counts(c) == 0) prev else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  /** Map-only PQ index build: each corpus vector compresses to `m` bytes
    * (`pq_code` binary) via [[graft.functions.PqEncode]]. No shuffle, no
    * driver traffic — the 100-TB index build is a single scan+write.
    * Rows whose vector is null/ragged/null-element encode to null and are
    * dropped (they can never be served).
    */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Double]]],
               cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    df.select(col(cId), graft.functions.PqEncode(col(cVec), codebooks).as("pq_code"))
      .where(col("pq_code").isNotNull)

  /** PQ ANN serving over a PREBUILT code index (the IVFADC family's
    * exhaustive-compressed-scan member): per query, one
    * [[graft.functions.PqLut]] lookup table (O(dim·ksub), once), then an
    * ADC scan of the codes — `m` table reads per candidate, never the
    * float vectors — keeps the best `k·oversample` candidates, and an
    * exact float re-rank of that bounded survivor set emits the final
    * top-k in the tier-uniform schema.
    *
    * Scale shape: the scan side is the code index (m bytes + id per
    * vector — 16x less scan traffic than float vectors at the
    * defaults: 16 one-byte codes vs 64 floats); the query side broadcasts (LUTs are m·ksub doubles per
    * query); the per-query top-N runs as a map-side WindowGroupLimit;
    * the re-rank fetches float vectors for survivors only via a
    * broadcast-keyed join against the primary store. Nothing all-pairs
    * on floats, nothing driver-side.
    */
  def pqTopKFromIndex(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
                      codebooks: Array[Array[Array[Double]]], k: Int,
                      oversample: Int = 16,
                      qId: String = "q_id", qVec: String = "q_vec",
                      cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId),
      graft.functions.PqLut(col(qVec), codebooks).as("__lut"))
    val scored = codes.join(broadcast(q), col(qId) =!= col(cId))
      .withColumn("adist", graft.functions.PqAdcScore(col("__lut"), col("pq_code")))
    adcSurvivorsRerank(scored, queries, corpus, k, oversample, qId, qVec, cId, cVec)
  }

  /** Shared ADC epilogue: cut the ADC-scored candidates to the best
    * `k·oversample` per query (ascending — ADC is a squared distance on
    * unit vectors, 2 − 2cosθ, so smallest ≈ highest cosine; map-side
    * WindowGroupLimit), then re-rank that bounded survivor set on exact
    * float cosine fetched from the primary store via broadcast-keyed
    * joins. Final scores never come from compressed codes.
    */
  private def adcSurvivorsRerank(scored: DataFrame, queries: DataFrame,
                                 corpus: DataFrame, k: Int, oversample: Int,
                                 qId: String, qVec: String,
                                 cId: String, cVec: String): DataFrame = {
    val wa = Window.partitionBy(col(qId)).orderBy(col("adist").asc, col(cId).asc)
    val survivors = scored.withColumn("__ar", row_number().over(wa))
      .where(col("__ar") <= k * oversample)
      .select(col(qId), col(cId))
    val cf = corpus.select(col(cId), col(cVec)).withColumn("__cn", norm(col(cVec)))
    val qf = queries.select(col(qId), col(qVec)).withColumn("__qn", norm(col(qVec)))
    val rr = cf.join(broadcast(survivors), Seq(cId))
      .join(broadcast(qf), Seq(qId))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")))
    topKSelect(rr, k, qId, cId)
  }

  /** IVF+PQ — the IVFADC family (Jégou et al., TPAMI 2011 §IV), both scale
    * levers composed: the IVF coarse quantizer prunes WHICH rows are
    * scanned (~nProbe/nCells of the corpus, via the cell equi-join), and
    * the PQ codes shrink WHAT is read per scanned row (m bytes + m table
    * lookups instead of a dim-float dot). This is the canonical
    * billion-vector serving layout: index bytes ≈ corpus·(m + id), probe
    * cost ≈ (nProbe/nCells)·corpus·m lookups, floats touched only for the
    * bounded re-rank set. Codebooks encode raw (unit-normalized) vectors
    * rather than per-cell residuals — the residual refinement buys
    * ADC-ranking precision that the exact float re-rank already restores
    * at these k, without m·nCells codebook state.
    *
    * Index rows are (cell, id, pq_code); persisted bucketed by `cell`
    * (Spark's `bucketBy`) the probe reads only its cells' buckets.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 8, lloydIters: Int = 2,
                m: Int = 16, ksub: Int = 64, pqIters: Int = 5,
                sampleN: Int = 10000, oversample: Int = 16,
                qId: String = "q_id", qVec: String = "q_vec",
                cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val centroids = trainCentroids(corpus, nCells, lloydIters, cId, cVec)
    val codebooks = pqTrain(corpus, m, ksub, pqIters, sampleN, cId, cVec)
    // the compressed cell index: one map-only pass over the corpus
    val codes = Dedup.spread(corpus, col(cId))
      .select(graft.functions.NearestCentroid(col(cVec), centroids).as("cell"),
        col(cId), graft.functions.PqEncode(col(cVec), codebooks).as("pq_code"))
      .where(col("pq_code").isNotNull && col("cell").isNotNull)
    val centroidDF = spark.createDataFrame(
      java.util.Arrays.asList(centroids.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c.map(_.toFloat).toSeq)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c_vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    // rank the broadcast centroid table per query, keep the nProbe nearest
    // cells (same probe shape as ivfTopKFromIndex), and carry the one
    // per-query LUT into the cell join
    val probes = queries.crossJoin(broadcast(centroidDF))
      .withColumn("c_dot", dot(col(qVec), col("c_vec")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("c_dot").desc, col("cell").asc)))
      .where(col("__pr") <= nProbe)
      .select(col(qId), col("cell"))
    val qlut = queries.select(col(qId),
      graft.functions.PqLut(col(qVec), codebooks).as("__lut"))
    val probeSide = probes.join(qlut, Seq(qId))
    val scored = codes.join(broadcast(probeSide), Seq("cell"))
      .where(col(qId) =!= col(cId))
      .withColumn("adist", graft.functions.PqAdcScore(col("__lut"), col("pq_code")))
    adcSurvivorsRerank(scored, queries, corpus, k, oversample, qId, qVec, cId, cVec)
  }

  /** Train + encode + serve in one call (the self-contained query face;
    * deployments build the code index once with [[pqTrain]]+[[pqEncode]]
    * and serve via [[pqTopKFromIndex]]).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 16, ksub: Int = 64, lloydIters: Int = 5,
             sampleN: Int = 10000, oversample: Int = 16,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val codebooks = pqTrain(corpus, m, ksub, lloydIters, sampleN, cId, cVec)
    pqTopKFromIndex(queries, pqEncode(corpus, codebooks, cId, cVec), corpus,
      codebooks, k, oversample, qId, qVec, cId, cVec)
  }

  /** Embedding near-duplicate pairs within a blocking column (e.g. label,
    * or a precomputed partition): cosine >= minCos. For the
    * no-natural-block case, [[nearDupPairsByCell]] derives the blocking
    * column from a trained quantizer.
    */
  def nearDupPairs(df: DataFrame, blockCol: String, minCos: Double,
                   id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val withNorm = df.withColumn("__n", norm(col(vec)))
    // probe-side spread = parallelism of the per-pair dot-product loop
    val a = Dedup.spread(withNorm, col(id)).as("a")
    val b = withNorm.as("b")
    a.join(b, col(s"a.$blockCol") === col(s"b.$blockCol") && col(s"a.$id") < col(s"b.$id"))
      // optimizer fence, arithmetic form — see Dedup.minhashPairs: one
      // kernel evaluation per candidate pair
      .withColumn("cos", dot(col(s"a.$vec"), col(s"b.$vec")) / (col("a.__n") * col("b.__n")) +
        spark_partition_id() * lit(0.0))
      .where(col("cos") >= minCos)
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        round(col("cos"), 5).as("cos"))
  }

  /** The `nAssign` nearest trained centroids per vector, as a map-side
    * array column: one codegen'd [[graft.functions.FloatDotProduct]] per
    * centroid against a broadcast literal (centroids are normalized, so
    * dot order == cosine order), then an ascending struct sort whose tail
    * is the top-`nAssign` — no shuffle, no window, deterministic
    * (cell index breaks dot ties).
    */
  private def topCells(vec: Column, centroids: Array[Array[Double]], nAssign: Int): Column = {
    val scored = array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(dot(vec, typedLit(c.map(_.toFloat).toSeq)).as("d"), lit(i).as("cell"))
    }: _*)
    transform(slice(array_sort(scored), -nAssign, nAssign), s => s.getField("cell"))
  }

  /** Embedding near-duplicate pairs over a corpus with NO natural blocking
    * column — the genuinely scalable version of [[nearDupPairs]]: a
    * spherical-k-means quantizer ([[trainCentroids]]) is trained on the
    * corpus itself, every vector multi-assigns to its `nAssign` nearest
    * cells, and pairs meet in an equi-join on cell. Multi-assignment is
    * the boundary-recall knob: a pair straddling one cell boundary still
    * collides if the 2nd..nth assignments overlap; pairs found through
    * several shared cells collapse in one hash-agg.
    *
    * Scale shape: training is O(nCells x dim) driver state; assignment is
    * map-side (nCells codegen'd dots per row, no shuffle); the join is an
    * equi-join whose per-cell candidate volume is ~(nAssign x N/nCells)^2
    * — sub-quadratic for nCells >> nAssign^2, tunable via nCells ~
    * sqrt(corpus). Recall is probabilistic (gated in x5b): tight pairs
    * (cos ~ 1) share their top cell almost surely; loose pairs rely on
    * the multi-assign overlap.
    */
  def nearDupPairsByCell(df: DataFrame, minCos: Double, nCells: Int = 16,
                         nAssign: Int = 4, lloydIters: Int = 2,
                         id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val centroids = trainCentroids(df, nCells, lloydIters, id, vec)
    val assigned = Dedup.spread(df, col(id))
      .withColumn("__n", norm(col(vec)))
      .withColumn("cell", explode(topCells(col(vec), centroids, nAssign)))
    val a = assigned.as("a")
    val b = assigned.as("b")
    a.join(b, col("a.cell") === col("b.cell") && col(s"a.$id") < col(s"b.$id"))
      // optimizer fence, arithmetic form — see Dedup.minhashPairs: one
      // kernel evaluation per candidate pair
      .withColumn("cos", dot(col(s"a.$vec"), col(s"b.$vec")) / (col("a.__n") * col("b.__n")) +
        spark_partition_id() * lit(0.0))
      .where(col("cos") >= minCos)
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(round(max(col("cos")), 5).as("cos"))
  }
}
