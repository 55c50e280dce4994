package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * variant as the 100 TB scale path.
  *
  * All arithmetic is higher-order array expressions (`zip_with` +
  * `aggregate`) — codegen-compatible, no UDF, executes map-side.
  */
object Similarity {

  import org.apache.spark.sql.graftglue.Glue.{column => exprCol, expression => colExpr}

  /** Dot product of two float/double-array columns — a native codegen'd
    * Catalyst expression (see graft.expressions.VecDot). Accumulation
    * order matches the declarative `aggregate(zip_with(...))` fold it
    * replaced, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    exprCol(graft.expressions.VecDot(colExpr(a), colExpr(b)))

  /** Declarative twin of `dot` (interpreted HOF path) — kept for parity
    * testing against the codegen kernel.
    */
  private[functions] def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 for zero vectors rather than NaN. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas 2001): out[j] = Σ_i vec[i]·s(j,i) / √k, where the
    * sign s(j,i) derives from md5(salt|j|i) — deterministic, seedable
    * via `salt`, and replayable bit-for-bit in any engine with md5
    * (the same portability convention as the minhash family). Sign
    * matrices satisfy the JL distance-preservation bound with the
    * same constants as Gaussian ones, at integer-arithmetic cost.
    *
    * Map-only — one native codegen'd double loop per row (see
    * graft.expressions.MatProject), O(k·dims), no shuffle — at 100 TB
    * it rides the scan and cuts every downstream ANN/dedup shuffle by
    * dims/k. Division by √k (not multiplication by its reciprocal) so
    * the oracle's `/ sqrt(k)` is the identical IEEE operation, and
    * left-to-right accumulation matching the declarative fold —
    * projected values are bit-identical to both.
    */
  def randomProject(vec: Column, k: Int, dims: Int,
      salt: String = "rp"): Column = {
    require(k > 0 && dims > 0, "k and dims must be positive")
    exprCol(graft.expressions.MatProject(colExpr(vec),
      signMatrix(k, dims, salt), math.sqrt(k.toDouble)))
  }

  /** The JL ±1 sign matrix, hashed once on the driver (k·dims md5s —
    * row-independent, so hashing per row would cost rows × k × dims
    * md5s for the identical values). Same md5 formula the oracle
    * replays, so every sign is engine-portable.
    */
  private[functions] def signMatrix(k: Int, dims: Int,
      salt: String): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val hex = md.digest(s"$salt|$j|$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0)
        1.0 else -1.0
    }
    Array.tabulate(k, dims)((j, i) => sign(j, i))
  }

  /** Declarative twin of `randomProject` (interpreted HOF path, k·dims
    * lambda steps per row) — kept for parity testing against the
    * codegen kernel.
    */
  private[functions] def randomProjectDeclarative(vec: Column, k: Int,
      dims: Int, salt: String = "rp"): Column = {
    require(k > 0 && dims > 0, "k and dims must be positive")
    val m = signMatrix(k, dims, salt)
    val signs = array((0 until k).map(j =>
      array((0 until dims).map(i => lit(m(j)(i))): _*)): _*)
    transform(sequence(lit(0), lit(k - 1)), j =>
      aggregate(sequence(lit(0), lit(dims - 1)), lit(0.0),
        (acc, i) => acc + element_at(vec, i + 1).cast("double") *
          element_at(element_at(signs, j + 1), i + 1))
        / math.sqrt(k.toDouble))
  }

  /** Per-label centroid (element-wise mean) of an embedding column —
    * class prototypes for nearest-centroid classification, cluster
    * summaries, IVF seeding.
    *
    * Shape: posexplode to (label, dim, x) then ONE partial-agg'd
    * groupBy on (label, dim) — shuffle rows = labels × dims regardless
    * of corpus size. Accumulation is decimal, not double: a
    * distributed double sum is partition-order nondeterministic, a
    * decimal sum is exact and reproducible bit-for-bit in any engine
    * (same convention as the event-value aggregates). Output mean is
    * floor-quantized to 4 decimals.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)))
      .withColumnRenamed("pos", "dim")
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("col").cast("double").cast("decimal(27,10)")).as("__s"))
      .select(col(labelCol), col("dim"), col("n_vectors"),
        TextAnalysis.q4(col("__s").cast("double") / col("n_vectors"))
          .as("centroid"))

  /** Mean-pool chunk embeddings back to one parent vector — the
    * aggregation step of chunk-then-embed pipelines (a document's
    * vector = element-wise mean of its chunks'). Same exact-decimal
    * accumulation and (group, dim)-partial-agg shape as
    * [[labelCentroids]], then a declarative reassembly: sort_array of
    * (dim, mean) structs → transform extract — deterministic dim
    * order, no collect, no UDF. Output: (group, n_chunks, pooled
    * array<double>).
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("__n"),
        sum(col("col").cast("double").cast("decimal(27,10)")).as("__s"))
      .select(col(groupCol), col("pos"), col("__n"),
        (col("__s").cast("double") / col("__n")).as("__m"))
      .groupBy(col(groupCol))
      .agg(max(col("__n")).as("n_chunks"),
        transform(array_sort(collect_list(struct(col("pos"), col("__m")))),
          s => s.getField("__m")).as("pooled"))

  /** Distributed training of a linear classifier by full-batch
    * perceptron over integer-quantized embeddings — the
    * quality-classifier trainer of a curation pipeline (label a few
    * thousand docs, train, score the corpus with [[col]]-level dot
    * products).
    *
    * All-integer by construction: features quantize to
    * `⌊x · scale⌋` longs once up front, so every margin, update and
    * weight is exact 64-bit arithmetic — iteration results are
    * partition-order invariant and an engine oracle replays training
    * bit-for-bit (same trick as the integer-fixed-point PageRank).
    * The update rule is the classic batch perceptron: rows with
    * `y·(w·x) ≤ 0` contribute `y·x` to Δw each epoch.
    *
    * 100 TB shape: one corpus scan per epoch — margins are map-side
    * higher-order array expressions against the broadcast 1-row
    * weight vector, the update partial-aggregates to `dims` rows
    * before the exchange, and the new weight vector reassembles
    * declaratively (map + sequence, no driver collect). Epoch count
    * is the only sequential dimension.
    *
    * `yCol` must be ±1 longs. Returns (dim, weight) — `dims` rows.
    */
  def perceptronTrain(df: DataFrame, vecCol: String, yCol: String,
      dims: Int, iters: Int, scale: Long = 1000L): DataFrame = {
    require(iters >= 1 && dims >= 1, "iters and dims must be positive")
    val xq = df.select(col(yCol).cast("long").as("__y"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(scale)).cast("long")).as("__xq"))
      .persist()
    val spark = df.sparkSession
    var w = spark.range(1)
      .select(array((0 until dims).map(_ => lit(0L)): _*).as("__w"))
    for (_ <- 1 to iters) {
      val margin = xq.crossJoin(broadcast(w))
        .withColumn("__m", col("__y") *
          aggregate(zip_with(col("__xq"), col("__w"), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v))
      val delta = margin.filter(col("__m") <= 0)
        .select(col("__y"), posexplode(col("__xq")).as(Seq("__d", "__x")))
        .groupBy(col("__d"))
        .agg(sum(col("__y") * col("__x")).as("__dw"))
      // dense Δw vector: absent dims are zero (map + sequence keeps
      // the reassembly declarative — no collect, no row explosion)
      val dwRow = delta
        .agg(map_from_entries(collect_list(struct(col("__d"), col("__dw"))))
          .as("__map"))
        .select(transform(sequence(lit(0), lit(dims - 1)),
          // try_element_at: a missing dim is zero, and ANSI mode must
          // not throw on the absent map key
          d => coalesce(try_element_at(col("__map"), d), lit(0L))).as("__dw"))
      // localCheckpoint severs lineage: without it the epoch subtree
      // (which embeds w twice — margin crossJoin + this zip_with) is
      // re-embedded per epoch and the logical plan doubles each
      // round, hanging the analyzer past ~15 epochs. The checkpoint
      // is a 1-row job — same convention as connectedComponentsStar.
      w = w.crossJoin(broadcast(dwRow))
        .select(zip_with(col("__w"), col("__dw"), _ + _).as("__w"))
        .localCheckpoint()
    }
    // every epoch's localCheckpoint above is eager, so the persisted
    // feature table has served its purpose by now and the returned
    // frame references only the checkpointed weights — release the
    // cache here instead of leaking a corpus-sized entry per call
    xq.unpersist(blocking = false)
    w.select(posexplode(col("__w")).as(Seq("dim", "weight")))
  }

  /** Score a corpus with a trained linear model: the integer dot
    * product of each row's quantized features against a (dim, weight)
    * table from [[perceptronTrain]] — the corpus-wide filtering pass
    * of a trained quality classifier (`score > 0` = keep).
    *
    * The weight table reassembles declaratively into a 1-row array
    * and broadcasts; scoring is a map-side higher-order expression —
    * at 100 TB this is one scan with no shuffle. Same `scale` as
    * training, same exact integer arithmetic.
    */
  def scoreLinear(df: DataFrame, vecCol: String, weights: DataFrame,
      dims: Int, scale: Long = 1000L): DataFrame = {
    val wRow = weights
      .agg(map_from_entries(collect_list(
        struct(col("dim"), col("weight")))).as("__map"))
      .select(transform(sequence(lit(0), lit(dims - 1)),
        d => coalesce(try_element_at(col("__map"), d), lit(0L))).as("__w"))
    df.crossJoin(broadcast(wRow))
      .withColumn("score",
        aggregate(zip_with(
            transform(col(vecCol),
              x => floor(x.cast("double") * lit(scale)).cast("long")),
            col("__w"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v))
      .drop("__w")
  }

  /** Brute-force exact top-k neighbors for every query vector.
    *
    * queries × corpus cross join — correct at any scale when `queries`
    * is small enough to broadcast (the common case: a probe batch
    * against a huge corpus). Ranking is one window per query id; with
    * k ≪ corpus this is the textbook pattern Catalyst turns into a
    * partial top-k (WindowGroupLimit pushes rank < k+1 below the sort).
    *
    * Norms are precomputed per side before the join — computing
    * `sqrt(dot(v,v))` inside the pair expression would redo each
    * corpus norm once per query (100 queries = 100× wasted work).
    * cos = dot/(na*nb) is bit-identical to the unstaged form.
    *
    * k = 1 (nearest-neighbor / recall probes) takes a partial-agg'd
    * `max(struct(cos, -id))` argmax instead of the window: the pair
    * stream combines map-side to one row per (partition, query) and
    * the shuffle carries |queries| rows — measured 26× faster than the
    * window on a 500×100k probe. It also cannot be deoptimized by a
    * caller's extra filter above the rank predicate, which breaks the
    * Filter(rank<=k, Window) pattern WindowGroupLimit matches (the
    * merged conjunction stopped the rule firing in the recall gate,
    * leaving a full 50M-row window sort). Tie-break (cos desc, id asc)
    * and output schema are identical to the window path.
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId), col(corpusVec),
      norm(col(corpusVec)).as("__cn"))
    val q = queries.select(col(queryId), col(queryVec),
      norm(col(queryVec)).as("__qn"))
    val denom = col("__cn") * col("__qn")
    val joined = c.crossJoin(broadcast(q))
      .filter(col(queryId) =!= col(corpusId)) // self-match excluded
      .select(col(queryId), col(corpusId),
        when(denom === 0, lit(0.0))
          .otherwise(dot(col(corpusVec), col(queryVec)) / denom).as("cos"))
    val idNumeric = corpus.schema(corpusId).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (k == 1 && idNumeric) {
      joined.groupBy(col(queryId))
        .agg(max(struct(col("cos"), (-col(corpusId)).as("__negid")))
          .as("__w"))
        .select(col(queryId), (-col(s"__w.__negid")).as(corpusId),
          col("__w.cos").as("cos"), lit(1).as("rank"))
    } else {
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("cos").desc, col(corpusId).asc)
      joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** Margin-based cross-corpus mining (the ratio-margin criterion of
    * Artetxe & Schwenk 2019, the bitext-mining scorer behind
    * CCMatrix-style parallel-corpus construction): for every source
    * vector, its best target match plus margin = cos₁/cos₂ — a match
    * only counts when it beats the runner-up by the margin factor,
    * which suppresses the hubness false positives a raw cosine
    * threshold admits. `mined` flags margin ≥ threshold.
    *
    * Candidate scoring here is the exact brute-force top-2 (slice the
    * source side to bound it — the recall-measurement contract of
    * [[bruteForceTopK]]); at corpus scale swap in [[ivfTopKIndexed]]
    * candidates and keep the identical margin arithmetic.
    */
  def marginTopPairs(tgt: DataFrame, tgtId: String, tgtVec: String,
      src: DataFrame, srcId: String, srcVec: String,
      marginThreshold: Double): DataFrame = {
    val top2 = bruteForceTopK(tgt, tgtId, tgtVec, src, srcId, srcVec, k = 2)
    val margin = col("__c1") / greatest(col("__c2"), lit(1e-9))
    top2.groupBy(col(srcId))
      .agg(max(when(col("rank") === 1, col(tgtId))).as("__best"),
        max(when(col("rank") === 1, col("cos"))).as("__c1"),
        max(when(col("rank") === 2, col("cos"))).as("__c2"))
      .select(col(srcId), col("__best").as("tgt_id"),
        TextAnalysis.q4(col("__c1")).as("cos_top"),
        TextAnalysis.q4(margin).as("margin"),
        (TextAnalysis.q4(margin) >= marginThreshold).as("mined"))
  }

  /** Deterministic pseudo-random hyperplane component for sign-LSH:
    * plane `p`, dimension `d` → uniform in [-1, 1], derived from a
    * driver-side hash so executors need no shared state and results
    * are stable across runs. Materialized as a literal array so the
    * executor does array lookups, not per-element hash calls.
    */
  // productHash is deprecated in 2.13.17, but the plane constants MUST
  // stay bit-identical forever (every sign-LSH signature derives from
  // them); replacing it with caseClassHash would silently re-roll all
  // banded signatures and recall properties.
  @annotation.nowarn("cat=deprecation")
  private def planeVector(p: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { d =>
      val h = scala.util.hashing.MurmurHash3.productHash((p, d))
      (math.floorMod(h, 1000003).toDouble / 500001.5) - 1.0
    }

  /** All `planes` sign bits of a vector as one '0'/'1' string, computed
    * by the codegen'd SignBits kernel (one tight double loop per row
    * instead of `planes` interpreted aggregate passes). Band signatures
    * slice this string with substring.
    */
  def signBits(vec: Column, planes: Int, dims: Int = 64): Column =
    exprCol(signBitsExpr(colExpr(vec), planes, dims))

  /** Expression-level constructor (SQL registration via
    * GraftExtensions needs it — planeVector stays private here).
    */
  def signBitsExpr(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      planes: Int, dims: Int = 64): graft.expressions.SignBits =
    graft.expressions.SignBits(child,
      Array.tabulate(planes)(p => planeVector(p, dims)))

  /** Declarative twin of `signBits` — kept for parity testing. */
  private[functions] def signBitsDeclarative(vec: Column, planes: Int,
      dims: Int = 64): Column =
    concat_ws("", (0 until planes).map { p =>
      val plane = lit(planeVector(p, dims))
      val proj = aggregate(
        zip_with(vec, plane, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj.isNull, raise_error(lit(
        s"signBits: vector dims != $dims")))
        .when(proj >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Single AND-only signature (all planes concatenated) — kept for
    * compatibility and for tests; production paths use `signBands`.
    */
  def hyperplaneSignature(vec: Column, planes: Int = 8,
      dims: Int = 64): Column =
    signBits(vec, planes, dims)

  /** Banded sign-LSH (OR of `bands` AND-bands, mirroring the MinHash
    * band structure): emits one row per (id, band_id, band_sig) where
    * band_sig concatenates `rowsPerBand` hyperplane sign bits. Two
    * vectors are candidates if they share ANY band — recall
    * 1 − (1 − p^r)^b instead of the single-band p^planes, with the
    * same pure equi-join shape on (band_id, band_sig).
    *
    * Sizing at scale: buckets per band = 2^rowsPerBand; pick
    * rowsPerBand ≈ log2(corpusRows / targetBucketRows) so the
    * within-bucket join stays linear, then raise `bands` until
    * 1 − (1 − p^r)^b meets the recall target at the similarity of
    * interest.
    */
  def signBands(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, rowsPerBand: Int, dims: Int = 64): DataFrame = {
    val staged = df.select(col(idCol),
      signBits(col(vecCol), bands * rowsPerBand, dims).as("__bits"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        substring(col("__bits"), b * rowsPerBand + 1, rowsPerBand)
          .as("band_sig"))
    }
    staged.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_sig"))
  }

  /** Banded-LSH approximate top-k: queries compare only against corpus
    * vectors sharing at least one band signature. The query side is
    * broadcast (probe batches are small); the corpus side stays
    * distributed — band join, distinct candidate pairs, then one
    * hash join back to vectors for exact scoring.
    */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, bands: Int = 8, rowsPerBand: Int = 8,
      dims: Int = 64): DataFrame = {
    val cb = signBands(corpus, corpusId, corpusVec, bands, rowsPerBand, dims)
    val qb = signBands(queries, queryId, queryVec, bands, rowsPerBand, dims)
    val cands = cb.join(broadcast(qb), Seq("band_id", "band_sig"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId)).distinct()
    val c = corpus.select(col(corpusId), col(corpusVec),
      norm(col(corpusVec)).as("__cn"))
    val q = queries.select(col(queryId), col(queryVec),
      norm(col(queryVec)).as("__qn"))
    val denom = col("__cn") * col("__qn")
    val joined = cands.join(c, corpusId).join(broadcast(q), queryId)
      .select(col(queryId), col(corpusId),
        when(denom === 0, lit(0.0))
          .otherwise(dot(col(corpusVec), col(queryVec)) / denom).as("cos"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos").desc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path besides sign-LSH:
  // a coarse quantizer of `nlist` centroids partitions the corpus into
  // cells; queries score only their `nprobe` nearest cells.
  // ------------------------------------------------------------------

  /** Deterministic coarse centroids: a distributed uniform sample of
    * `nlist × oversample` corpus vectors (the rows whose md5(id) sorts
    * smallest — seed-free and engine-portable), thinned on the driver
    * by greedy farthest-point selection so the seeds spread across the
    * data rather than clumping. No trained k-means dependency — the
    * quantizer is pluggable (pass refined centroids to ivfTopK for
    * better balance); determinism matters more than balance for
    * verifiable pipelines.
    *
    * Scale: the sampling plans as TakeOrderedAndProject — each
    * partition keeps its local top-(nlist×oversample), and ONLY that
    * many rows ever reach the driver (O(nlist·dims) doubles, a few
    * KB). No global sort materializes, no row count is needed up
    * front, and nothing is O(corpus) on the driver at any data size.
    * The farthest-point pass is O(nlist²·oversample·dims) driver
    * flops on the tiny candidate set.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, oversample: Int = 8): Array[Array[Double]] = {
    require(nlist > 0 && oversample > 0, "nlist and oversample must be > 0")
    val cands = centroidCandidates(corpus, idCol, vecCol, nlist * oversample)
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    if (cands.length <= nlist) cands
    else {
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      // greedy farthest-point: first candidate seeds; each next seed is
      // the candidate farthest from all chosen so far (ties → first in
      // hash order, so the result is fully deterministic)
      val chosen = scala.collection.mutable.ArrayBuffer(cands.head)
      val minD = cands.map(c => d2(c, cands.head))
      while (chosen.size < nlist) {
        var best = 0; var bestD = -1.0; var i = 0
        while (i < cands.length) {
          if (minD(i) > bestD) { bestD = minD(i); best = i }
          i += 1
        }
        chosen += cands(best)
        i = 0
        while (i < cands.length) {
          val d = d2(cands(i), cands(best))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      chosen.toArray
    }
  }

  /** The bounded selection plan behind `ivfCentroids`, exposed so specs
    * can assert its shape (TakeOrdered with limit = nlist×oversample —
    * never a full-corpus limit/collect). Ties on the hash break by id.
    */
  private[graft] def centroidCandidates(corpus: DataFrame, idCol: String,
      vecCol: String, limitRows: Int): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(limitRows)
      .select(col(vecCol))

  /** Deterministic Lloyd refinement of the coarse quantizer: assign →
    * mean per cell, `iters` times. Centroid means accumulate through
    * DECIMAL (exact, partition-order independent) so the trained
    * centroids are bit-identical across runs and cluster layouts —
    * the property that makes a trained quantizer usable in verified
    * pipelines. Empty cells keep their previous centroid. The per-iter
    * collect is nlist×dims values (a few KB).
    *
    * `oversample` selects the INIT geometry and matters more than the
    * iteration count: ≥ 2 runs greedy farthest-point over the sampled
    * candidates — maximal coverage of CLUSTERED data, but on weakly
    * clustered (noise-dominated, high-dim) data it picks hypercube
    * corners and one near-center seed cell captures nearly the whole
    * corpus (measured: 16,568 of 16,800 vectors in one cell at
    * nlist=128), a mass imbalance Lloyd cannot undo in few sweeps.
    * `oversample = 1` keeps the deterministic hash-ordered sample
    * itself as the init — sampled ∝ data mass, so cell occupancy
    * starts balanced (the k-means++/k-means‖ rationale).
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, oversample: Int = 8)
      : Array[Array[Double]] = {
    val init = ivfCentroids(corpus, idCol, vecCol, nlist, oversample)
    lloydRefine(corpus.select(
        transform(col(vecCol), x => x.cast("double")).as("__v")),
      init, iters, cents => cellOf(col("__v"), cents))._1
  }

  /** One Lloyd convergence snapshot: how far centroids moved in an
    * iteration. `movedCells`/`maxMoveSq`/`meanMoveSq` cover the cells
    * that received vectors; `emptyCells` counts cells that kept their
    * previous centroid (no assigned vectors). A converged quantizer
    * shows maxMoveSq → 0; a pathological init shows persistently
    * large moves with many empty cells — the numeric twin of
    * [[ivfOccupancyStats]]'s imbalance signal.
    */
  final case class LloydIterStats(iter: Int, movedCells: Int,
      emptyCells: Int, maxMoveSq: Double, meanMoveSq: Double)

  /** The shared Lloyd loop behind [[ivfTrain]] and
    * [[ivfTrainTwoLevel]]: assign (via the caller-chosen kernel) →
    * exact DECIMAL mean per (cell, dim) → apply, `iters` times,
    * recording per-iteration movement stats. The ONLY degree of
    * freedom between callers is the assignment column — so
    * two-level-at-full-probe training is bit-identical to flat
    * training by construction (the means path is literally the same
    * code).
    */
  private def lloydRefine(doubled0: DataFrame,
      init: Array[Array[Double]], iters: Int,
      assign: Array[Array[Double]] => Column)
      : (Array[Array[Double]], Seq[LloydIterStats]) = {
    var cents = init
    val dims = if (init.isEmpty) 0 else init(0).length
    // null vectors assign to cell -1 (the coalesce convention) and
    // next(-1) would throw; the old posexplode path dropped them
    // implicitly (a null array explodes to zero rows) — keep that
    // tolerance explicitly
    val doubled = doubled0.filter(col("__v").isNotNull)
    val stats = scala.collection.mutable.ArrayBuffer.empty[LloydIterStats]
    (0 until iters).foreach { it =>
      // per-cell means as ONE hash aggregate with dims decimal-sum
      // columns — NOT a posexplode: exploding (cell, dim, x) multiplied
      // the shuffle by dims× (the means exchange dominated the whole
      // sweep and drowned the assignment-kernel win this trainer
      // exists for). Per-dim `sum(element_at(v,d)::decimal)` is the
      // same exact, order-independent accumulation — trained centroids
      // are bit-identical to the exploded form — but the exchange
      // carries nlist rows of partial sums per partition instead of
      // n·dims rows.
      val aggs = (0 until dims).map(d =>
        (sum(element_at(col("__v"), d + 1).cast("decimal(28,14)")) /
          count(lit(1))).cast("double").as(s"__m$d"))
      val means = doubled.select(assign(cents).as("__cell"), col("__v"))
        .groupBy(col("__cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val cell = r.getInt(0)
        var d = 0
        while (d < dims) {
          next(cell)(d) = r.getDouble(d + 1)
          d += 1
        }
      }
      val touched = means.map(_.getInt(0)).distinct
      val moves = touched.map { c =>
        var s = 0.0; var d = 0
        while (d < cents(c).length) {
          val dx = next(c)(d) - cents(c)(d); s += dx * dx; d += 1
        }
        s
      }
      stats += LloydIterStats(it,
        movedCells = moves.count(_ > 0.0),
        emptyCells = cents.length - touched.length,
        maxMoveSq = if (moves.isEmpty) 0.0 else moves.max,
        meanMoveSq = if (moves.isEmpty) 0.0 else moves.sum / moves.length)
      cents = next
    }
    (cents, stats.toSeq)
  }

  /** Movement stats as a table, for reporting next to
    * [[ivfOccupancyStats]] (driver-side rows — the stats are already
    * O(iters)).
    */
  def lloydStatsTable(spark: org.apache.spark.sql.SparkSession,
      stats: Seq[LloydIterStats]): DataFrame = {
    import spark.implicits._
    stats.toDF()
  }

  /** Scalable quantizer training — the production path once the
    * SemDeDup contract sets nlist ∝ corpus. Flat [[ivfTrain]] pays
    * O(n·nlist·dims) per Lloyd sweep (corpus-QUADRATIC under that
    * contract); this trainer removes both factors of the blowup:
    *
    *  - **Two-level assignment in the Lloyd loop**: each sweep
    *    regroups the current centroids under `ngroups ≈ √nlist`
    *    super-centroids ([[ivfGroups]] — driver math, KBs) and
    *    assigns through [[graft.expressions.NearestCellTwoLevel]]:
    *    O((ngroups + wprobe·nlist/ngroups)·dims) ≈ O(√nlist·dims)
    *    per row instead of O(nlist·dims). With `wprobe == ngroups`
    *    the assignment — and therefore the whole training run — is
    *    BIT-IDENTICAL to flat (spec-pinned); small wprobe is the
    *    standard IVF approximation, which inside Lloyd only perturbs
    *    which local optimum the (itself heuristic) refinement lands
    *    on.
    *  - **Bounded training sample**: `sampleSize > 0` refines on the
    *    hash-ordered deterministic sample of that many rows (the
    *    [[centroidCandidates]] TakeOrdered shape — never a full sort,
    *    never O(corpus) to the driver). Training cost then depends on
    *    nlist ALONE, not the corpus: the FAISS convention of
    *    O(100)·nlist training points per centroid. The full corpus is
    *    touched only by the final [[ivfAssignments]] /
    *    [[ivfAssignmentsTwoLevel]] pass, whose O(n·√nlist) is the
    *    index-build floor.
    *
    * Honest asymptotics under nlist ∝ n: sampled two-level training
    * costs O(nlist^1.5·dims) total — the two-level bound. The
    * log-depth end of the progression, O(nlist·log nlist), ships as
    * [[ivfTrainTree]] (gate `sim_ivf_tree`). The ScaleSmoke training
    * sweep prints flat/two-level/tree side by side, and its `trees`
    * mode measures the two-level-vs-tree separation at
    * nlist ≥ 4096, so the whole progression is measured, not
    * asserted.
    *
    * Init: `"sample"` = [[ivfCentroids]] with `oversample` (the
    * [[ivfTrain]] default geometry); `"kmeanspar"` = deterministic
    * k-means‖ ([[kmeansParInit]]).
    *
    * Returns the trained centroids plus per-iteration movement stats
    * ([[LloydIterStats]]) — report them next to [[ivfOccupancyStats]].
    */
  def ivfTrainTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, oversample: Int = 1,
      ngroups: Int = 0, wprobe: Int = 2, sampleSize: Int = 0,
      init: String = "sample")
      : (Array[Array[Double]], Seq[LloydIterStats]) = {
    require(nlist > 0, "nlist must be > 0")
    val ng0 = if (ngroups > 0) ngroups
      else math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    sampledLloydTrain(corpus, idCol, vecCol, nlist, iters, oversample,
      sampleSize, init, cents => {
        val ng = math.min(ng0, cents.length)
        val (sup, mem) = ivfGroups(cents, ng)
        coalesce(
          exprCol(graft.expressions.NearestCellTwoLevel(
            colExpr(col("__v")), sup, mem, cents, math.min(wprobe, ng))),
          lit(-1))
      })
  }

  /** Shared scaffold for the sampled trainers ([[ivfTrainTwoLevel]],
    * [[ivfTrainTree]]): bounded hash-ordered sample, init dispatch,
    * the doubled projection, lloydRefine with the caller's assignment
    * kernel, cleanup. The sampled path MUST be re-spread and cached:
    * TakeOrdered emits ONE partition (the whole Lloyd agg would run
    * single-threaded — measured slower than flat full-corpus
    * training), and without a persist the full-corpus TakeOrdered
    * re-runs every iteration. Round-robin repartition is safe: the
    * decimal means are partition-order independent, so the trained
    * centroids don't change.
    */
  private def sampledLloydTrain(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int, oversample: Int,
      sampleSize: Int, init: String,
      assign: Array[Array[Double]] => Column)
      : (Array[Array[Double]], Seq[LloydIterStats]) = {
    val train =
      if (sampleSize <= 0) corpus.select(col(idCol), col(vecCol))
      else corpus.select(col(idCol), col(vecCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(sampleSize)
        .repartition(corpus.sparkSession.sessionState.conf
          .numShufflePartitions)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val initCents = init match {
        case "sample" => ivfCentroids(train, idCol, vecCol, nlist, oversample)
        case "kmeanspar" => kmeansParInit(train, idCol, vecCol, nlist)
        case other => throw new IllegalArgumentException(
          s"unknown init '$other' (want sample | kmeanspar)")
      }
      val doubled = train.select(
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      lloydRefine(doubled, initCents, iters, assign)
    } finally {
      if (sampleSize > 0) train.unpersist()
    }
  }

  /** Log-depth centroid tree over a trained flat quantizer — the
    * deepening of [[ivfGroups]] past two levels: recursive greedy
    * farthest-point grouping (the ivfGroups rule at every level) down
    * to `leafSize` cells per leaf. Driver math over O(nlist·dims)
    * values, KBs; deterministic (same tie rules as ivfGroups, stable
    * preorder ids). Degenerate groupings (duplicate centroids
    * collapsing into one group) terminate as leaves rather than
    * recurse forever.
    */
  def ivfTree(centroids: Array[Array[Double]], fanout: Int = 8,
      leafSize: Int = 0): graft.expressions.CentroidTreeNode = {
    require(fanout >= 2, "fanout must be >= 2")
    val leaf = if (leafSize > 0) leafSize else fanout
    var nextOrd = 0
    def build(member: Array[Int]): graft.expressions.CentroidTreeNode = {
      val ord = nextOrd; nextOrd += 1
      if (member.length <= leaf)
        new graft.expressions.CentroidTreeNode(
          Array.empty, Array.empty, member, ord)
      else {
        val sub = member.map(centroids(_))
        val (supers, groups) = ivfGroups(sub,
          math.min(fanout, member.length))
        if (groups.count(_.nonEmpty) <= 1)
          new graft.expressions.CentroidTreeNode(
            Array.empty, Array.empty, member, ord)
        else {
          val reps = scala.collection.mutable.ArrayBuffer
            .empty[Array[Double]]
          val kids = scala.collection.mutable.ArrayBuffer
            .empty[graft.expressions.CentroidTreeNode]
          groups.zipWithIndex.foreach { case (g, gi) =>
            if (g.nonEmpty) {
              reps += supers(gi)
              kids += build(g.map(member(_)))
            }
          }
          new graft.expressions.CentroidTreeNode(
            reps.toArray, kids.toArray, Array.empty, ord)
        }
      }
    }
    build(centroids.indices.toArray)
  }

  /** [[ivfAssignments]] through the log-depth tree — same output
    * schema (id, vec, cell), O(beam·fanout·log nlist·dims) per row.
    * `beam` ≥ the tree's node count is EXACTLY flat assignment
    * (spec-pinned); small beam is the hierarchical-k-means
    * approximation.
    */
  def ivfAssignmentsTree(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      tree: graft.expressions.CentroidTreeNode, beam: Int = 3)
      : DataFrame =
    corpus.select(col(idCol), col(vecCol),
      coalesce(
        exprCol(graft.expressions.NearestCellTree(colExpr(col(vecCol)),
          tree, centroids, beam)),
        lit(-1)).as("cell"))

  /** [[ivfTrainTwoLevel]] with the LOG-DEPTH tree in the Lloyd loop:
    * per sweep the tree rebuilds from the moving centroids (driver,
    * KBs) and assignment costs O(beam·fanout·log nlist) per row — so
    * sampled training is O(nlist·log nlist) total under the
    * points-per-centroid sample, the near-linear end of the
    * flat O(nlist²) → two-level O(nlist^1.5) → tree progression.
    * `beam` large enough to cover the tree is bit-identical to flat
    * training (shared lloydRefine); the default small beam is the
    * production approximation.
    */
  def ivfTrainTree(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, oversample: Int = 1,
      fanout: Int = 8, beam: Int = 3, sampleSize: Int = 0,
      init: String = "sample")
      : (Array[Array[Double]], Seq[LloydIterStats]) = {
    require(nlist > 0, "nlist must be > 0")
    sampledLloydTrain(corpus, idCol, vecCol, nlist, iters, oversample,
      sampleSize, init, cents => {
        val tree = ivfTree(cents, fanout)
        coalesce(
          exprCol(graft.expressions.NearestCellTree(
            colExpr(col("__v")), tree, cents, beam)),
          lit(-1))
      })
  }

  /** Deterministic k-means‖ init (Bahmani et al. 2012, "Scalable
    * k-means++" — public paper): instead of one sample-everything
    * pass, `rounds` passes each draw ~`l` points with probability
    * ∝ their squared distance to the centers chosen so far, giving
    * k-means++-quality coverage with O(rounds) scans. Every
    * "random" draw is the md5-hash convention (seed-free,
    * engine-portable): row r is selected in round t iff
    * u(r,t)·φ < l·d²(r)·2⁶⁰, where u(r,t) is the row's 60-bit md5
    * fraction and φ = Σ d² — all factors exact integers (nano-quantized
    * distances summed as BIGINT, order-independent) combined with
    * single IEEE multiplies, so selection is bit-deterministic across
    * engines and partitionings.
    *
    * Scale shape: per round ONE aggregate (φ) + one filtered collect
    * whose expected size is l (hard-capped at 4l by the same
    * TakeOrdered hash-order bound as [[centroidCandidates]] — the
    * driver never holds O(corpus)). Distance scoring reuses the flat
    * [[graft.expressions.NearestCell]] kernel plus a d² recompute
    * against the argmin centroid — codegen'd, no UDF. Candidate
    * weights (needed for the final reduction) come from one more
    * NearestCell pass; the weighted reduction to nlist runs on the
    * driver over ≤ 4l·rounds+1 candidates: greedy weighted
    * farthest-point (deterministic: ties → lowest candidate index)
    * followed by 3 driver-side weighted Lloyd sweeps — the standard
    * k-means‖ recluster step at O(candidates·nlist·dims) driver
    * flops, KB-scale inputs.
    */
  def kmeansParInit(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, l: Int = 0, rounds: Int = 5): Array[Array[Double]] = {
    require(nlist > 0, "nlist must be > 0")
    val ell = if (l > 0) l else 2 * nlist
    // null vectors dropped (the lloydRefine tolerance): they would
    // assign to cell -1 and crash both the d² lookup (array index 0)
    // and the weight count
    val doubled = corpus.select(col(idCol).cast("string").as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .filter(col("__v").isNotNull)
    def toArr(row: org.apache.spark.sql.Row, i: Int): Array[Double] =
      row.getSeq[Double](i).toArray
    // seed: the hash-smallest row (same rule as centroidCandidates)
    var centers = scala.collection.mutable.ArrayBuffer(
      toArr(doubled.orderBy(md5(col("__id")), col("__id"))
        .limit(1).collect().head, 1))
    def d2Col(cents: Array[Array[Double]]): Column = {
      // d²(x, nearest center): argmin via the codegen'd NearestCell,
      // then ‖x‖² + ‖c‖² − 2·x·c against that one centroid. Clamped
      // at 0 (fp cancellation can dip a hair below).
      val cell = cellOf(col("__v"), cents)
      val centArr = element_at(
        typedLit(cents.map(_.toSeq).toSeq), cell + 1)
      val cNormSq = element_at(
        typedLit(cents.map(c => c.map(x => x * x).sum).toSeq), cell + 1)
      greatest(lit(0.0),
        dot(col("__v"), col("__v")) + cNormSq -
          lit(2.0) * dot(col("__v"), centArr))
    }
    (0 until rounds).foreach { t =>
      val cents = centers.toArray
      val scored = doubled.select(col("__id"), col("__v"),
        floor(d2Col(cents) * 1e9).cast("long").as("__d2n"))
      val phi = scored.agg(sum(col("__d2n"))).collect().head
      val phiN = if (phi.isNullAt(0)) 0L else phi.getLong(0)
      if (phiN > 0L) {
        // u(r,t) in [0, 2^60): first 15 md5 hex chars of id#round
        val u = conv(substring(md5(concat_ws("#", col("__id"),
          lit(t.toString))), 1, 15), 16, 10).cast("long")
        val picked = scored
          .filter(u.cast("double") * lit(phiN.toDouble) <
            lit(ell.toDouble) * col("__d2n").cast("double") *
              lit(math.pow(2.0, 60)))
          .orderBy(md5(col("__id")), col("__id"))
          .limit(4 * ell)
          .collect()
        picked.foreach(r => centers += toArr(r, 1))
      }
    }
    val cand = centers.toArray
    if (cand.length <= nlist) cand
    else {
      // weights: corpus points nearest to each candidate (one
      // NearestCell pass; missing cells weigh 0)
      val w = new Array[Long](cand.length)
      doubled.select(cellOf(col("__v"), cand).as("__cell"))
        .groupBy(col("__cell")).agg(count(lit(1)).as("__n"))
        .collect().foreach(r => w(r.getInt(0)) = r.getLong(1))
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      // greedy weighted farthest-point: seed = heaviest candidate
      var seedIdx = 0
      cand.indices.foreach(i => if (w(i) > w(seedIdx)) seedIdx = i)
      val chosen = scala.collection.mutable.ArrayBuffer(seedIdx)
      val taken = new Array[Boolean](cand.length)
      taken(seedIdx) = true
      val minD = cand.map(c => d2(c, cand(seedIdx)))
      while (chosen.size < nlist) {
        var best = -1; var bestScore = -1.0
        var i = 0
        while (i < cand.length) {
          if (!taken(i)) {
            val score = w(i).toDouble * minD(i)
            if (score > bestScore) { bestScore = score; best = i }
          }
          i += 1
        }
        chosen += best
        taken(best) = true
        i = 0
        while (i < cand.length) {
          val d = d2(cand(i), cand(best))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      // 3 weighted Lloyd sweeps over the candidates (driver-side,
      // deterministic single-threaded fixed-order arithmetic)
      var cur = chosen.map(cand(_).clone()).toArray
      (0 until 3).foreach { _ =>
        val sums = Array.fill(cur.length)(
          new Array[Double](cand(0).length))
        val cnts = new Array[Long](cur.length)
        cand.indices.foreach { i =>
          var bc = 0; var bd = d2(cand(i), cur(0)); var c = 1
          while (c < cur.length) {
            val d = d2(cand(i), cur(c))
            if (d < bd) { bd = d; bc = c }
            c += 1
          }
          var j = 0
          while (j < cand(i).length) {
            sums(bc)(j) += w(i).toDouble * cand(i)(j); j += 1
          }
          cnts(bc) += w(i)
        }
        cur = cur.indices.map { c =>
          if (cnts(c) == 0L) cur(c)
          else sums(c).map(_ / cnts(c).toDouble)
        }.toArray
      }
      cur
    }
  }

  /** Quantizer health in one row: cell occupancy spread over the
    * corpus — n_cells trained vs used, max/mean occupancy and their
    * ratio (the imbalance number). The semdedup sweep's giant-cell
    * pathology (one cell holding 16,568 of 16,800 vectors behind a
    * 50 s pair join) is a 126× imbalance — visible here instantly,
    * invisible in timings until the join runs. Run it after every
    * quantizer (re)train; `VectorIngest.cellStats` is the streaming
    * twin of the same signal.
    */
  def ivfOccupancyStats(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val occ = ivfAssignments(corpus, idCol, vecCol, centroids)
      .groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    occ.agg(
      lit(centroids.length).as("n_cells"),
      count(lit(1)).as("n_cells_used"),
      sum(col("__n")).as("n_vectors"),
      max(col("__n")).as("max_occupancy"),
      (sum(col("__n")).cast("double") / count(lit(1))).as("mean_occupancy"),
      (max(col("__n")).cast("double") /
        (sum(col("__n")).cast("double") / count(lit(1))))
        .as("imbalance"))
  }

  /** Cell assignment: argmin over centroids of ‖v−c‖² ≡ argmin of
    * (‖c‖² − 2·v·c) — ONE fused codegen kernel over all centroids
    * (graft.expressions.NearestCell) instead of nlist separate VecDot
    * expressions feeding an array_min: same scores, same `Double
    * .compare` tie order, nlist× less expression-tree overhead on the
    * corpus-wide hot path.
    */
  private def cellOf(vec: Column, centroids: Array[Array[Double]]): Column =
    // coalesce makes the cell provably non-nullable, so the equi-join
    // downstream infers NO IsNotNull filter on it — without this the
    // optimizer pushes isnotnull(<argmin>) below the projection and
    // the nlist-centroid scoring runs TWICE per corpus row
    coalesce(
      exprCol(graft.expressions.NearestCell(colExpr(vec), centroids)),
      lit(-1))

  /** The nprobe cells nearest to a query vector, as an array column. */
  private def probeCells(vec: Column, centroids: Array[Array[Double]],
      nprobe: Int): Column =
    slice(array_sort(array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val cNormSq = c.map(x => x * x).sum
      struct((lit(cNormSq) - lit(2.0) * dot(vec, lit(c))).as("score"),
        lit(i).as("cell"))
    }: _*)), 1, nprobe)

  /** Distinct probe cells for a whole query set — the driver-side
    * input to a manifest-pruned store read
    * ([[graft.streaming.VectorStore.readPartitions]]): at most
    * queries×nprobe ≤ nlist values, so the collect is bounded by the
    * quantizer, never the corpus. Same expression ([[probeCells]])
    * the search itself explodes — including the cast-to-double the
    * kernels apply to the query vector first ([[ivfTopKIndexed]] /
    * [[graphAnnTopKIndexed]] both probe over
    * `transform(col(queryVec), _.cast("double"))`): for a float or
    * decimal vector column, probing the RAW column here could round
    * differently at a cell boundary and hand the store slice a cell
    * set the kernel never probes (a missing cell contributes zero
    * candidates — a silently truncated top-k). Matching the cast
    * keeps "same expression, can't fork" literally true for any
    * input vector type.
    */
  def probedCells(queries: DataFrame, queryVec: String,
      centroids: Array[Array[Double]], nprobe: Int): Seq[Int] =
    queries
      .select(explode(probeCells(
        transform(col(queryVec), x => x.cast("double")), centroids,
        nprobe).getField("cell")).as("__cell"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  // ------------------------------------------------------------------
  // IVF index persistence — the index IS two plain tables (centroids:
  // nlist rows; assignments: one compact cell id per vector), so it
  // stores/ships as parquet and appends without touching history:
  // new vectors assign against the SAME stored centroids and union in.
  // ------------------------------------------------------------------

  /** The corpus half of a persistable IVF index: each vector tagged
    * with its nearest-centroid cell. Map-only over the corpus scan; at
    * ingest time run it on the DELTA only and append — historical
    * assignments never recompute (the quantizer is frozen; retrain =
    * rebuild, the standard IVF contract).
    */
  def ivfAssignments(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      cellOf(col(vecCol), centroids).as("cell"))

  /** The quantizer half as a table (cell, centroid) — nlist rows. */
  def centroidsTable(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
  }

  /** Rehydrate a stored quantizer. O(nlist·dims) to the driver — KBs
    * regardless of corpus size, same bound as ivfCentroids itself.
    */
  def centroidsFromTable(df: DataFrame): Array[Array[Double]] =
    df.select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** IVF top-k over a PRE-ASSIGNED index table (`cellCol` already
    * present — e.g. read back from parquet, possibly with appended
    * deltas): skips the corpus-wide argmin entirely; only queries
    * score against centroids. The candidate join stays the equi-join
    * on the stored cell id, which a cell-partitioned store turns into
    * a pruned scan of nprobe/nlist of the data.
    */
  def ivfTopKIndexed(index: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 4, cellCol: String = "cell"): DataFrame = {
    val c = index.select(col(corpusId), col(corpusVec),
      norm(col(corpusVec)).as("__cn"),
      col(cellCol).as("__cell"))
    topKFromCells(c, corpusId, corpusVec, queries, queryId, queryVec,
      k, centroids, nprobe)
  }

  /** Graph-based ANN (the HNSW/NSW family — Malkov & Yashunin 2016),
    * IVF-ROUTED: the coarse quantizer prunes to `nprobe` cells, and
    * WITHIN each probed cell a small-world neighbor graph answers the
    * query with an ef-bounded best-first walk instead of a full cell
    * scan. This is the high-recall/low-latency regime the flat IVF
    * scan family doesn't cover: per probed cell the walk touches
    * O(ef·degree) points, not the whole cell.
    *
    * Spark shape: members group by cell, queries explode into probe
    * cells, and ONE cogroup on the cell id does everything cell-local
    * — graph build (NSW insertion in id order: each point links
    * bidirectionally to the `degree` best candidates found by
    * SEARCHING the partial graph with `efConstruction` — the standard
    * NSW/HNSW build, O(efC·degree) per insert, so a skew-popped cell
    * stays near-linear where an exact predecessor scan would go
    * quadratic; fully deterministic) and the walks. At 100 TB the cells are the
    * partition grain: each is bounded (nlist ∝ corpus), the graph is
    * a per-partition artifact, and the only shuffle is the same
    * cell-id equi-shape every IVF operator uses. Per-partition
    * imperative logic is exactly what the cell-local walk is — the
    * one place the declarative form (per-step join iterations) would
    * be strictly worse.
    *
    * Exactness contract (the NearestCellTwoLevel convention): with
    * `ef` ≥ cell population the walk degenerates to an exact cell
    * scan, so nprobe = nlist and large ef reproduce brute force
    * bit-exactly (spec-pinned). Scoring parity: cosine = VecDot's
    * left-to-right double fold over both vectors, divided by the
    * norm product — the same IEEE operations as [[bruteForceTopK]],
    * so rankings can never fork from the oracle's.
    */
  def graphAnnTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      centroids: Array[Array[Double]], nprobe: Int = 4,
      degree: Int = 8, ef: Int = 64,
      efConstruction: Int = 64): DataFrame = {
    require(k >= 1 && degree >= 1 && ef >= k && efConstruction >= degree,
      "need k >= 1, degree >= 1, ef >= k, efConstruction >= degree")
    val spark = corpus.sparkSession
    import spark.implicits._
    val members = ivfAssignments(
        corpus.select(col(corpusId),
          transform(col(corpusVec), x => x.cast("double")).as(corpusVec)),
        corpusId, corpusVec, centroids)
      .select(col("cell"), col(corpusId).cast("long"), col(corpusVec))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
    val probes = queries
      .select(col(queryId).cast("long").as("__qid"),
        transform(col(queryVec), x => x.cast("double")).as("__qv"),
        probeCells(
          transform(col(queryVec), x => x.cast("double")), centroids,
          nprobe).as("__probes"))
      .select(col("__qid"), col("__qv"),
        explode(col("__probes").getField("cell")).as("cell"))
      .select(col("cell"), col("__qid"), col("__qv"))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
    val walked = members.cogroup(probes) { (_, ms, qs) =>
      val qArr = qs.toArray
      if (qArr.isEmpty) Iterator.empty
      else {
        val pts = ms.toArray.sortBy(_._2) // deterministic insert order
        if (pts.isEmpty) Iterator.empty
        else {
          val ids = pts.map(_._2)
          val vecs = pts.map(_._3.toArray)
          val norms = vecs.map(v => math.sqrt(NswGraph.dot(v, v)))
          val adj = NswGraph.build(ids, vecs, norms, degree,
            efConstruction)
          qArr.iterator.flatMap { case (_, qid, qv) =>
            val q = qv.toArray
            val qn = math.sqrt(NswGraph.dot(q, q))
            NswGraph.walk(ids, vecs, norms, adj(_), q, qn, ef).iterator
              .map { case (c, idx) => (qid, ids(idx), c) }
          }
        }
      }
    }.toDF("__qid", corpusId, "cos")
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, col(corpusId).asc)
    walked.filter(col("__qid") =!= col(corpusId))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col(corpusId), col("cos"),
        col("rank"))
  }

  /** Cell-local NSW machinery shared by [[graphAnnTopK]],
    * [[graphAnnBuild]] and [[graphAnnTopKIndexed]] — ONE
    * implementation of the deterministic build and the ef-bounded
    * walk, so the inline and stored-index paths cannot fork
    * (spec-pinned identical). Cosine arithmetic = the VecDot kernel's
    * left-to-right IEEE fold, so rankings agree with every other ANN
    * operator and the brute-force oracle.
    */
  private[functions] object NswGraph extends Serializable {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** ef-bounded best-first walk from node 0; ties (cos DESC, id
      * ASC) everywhere — fully deterministic. With `efW` ≥ node count
      * the walk visits the ENTIRE connected component (every insert
      * links bidirectionally to ≥ 1 earlier node, so the graph is
      * connected) — the exactness contract the gates run.
      */
    def walk(ids: Array[Long], vecs: Array[Array[Double]],
        norms: Array[Double], adj: Int => scala.collection.Seq[Int],
        q: Array[Double], qn: Double, efW: Int)
        : scala.collection.mutable.PriorityQueue[(Double, Int)] = {
      def cosAt(i: Int): Double = {
        val den = norms(i) * qn
        if (den == 0) 0.0 else dot(vecs(i), q) / den
      }
      val ord = Ordering.by[(Double, Int), (Double, Long)] {
        case (c, idx) => (c, -ids(idx))
      } // max-heap: highest cos, then LOWEST id wins
      val visited = new java.util.BitSet(ids.length)
      val cand = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](ord)
      val res = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](ord.reverse) // min-heap of results
      val c0 = cosAt(0)
      visited.set(0); cand.enqueue((c0, 0)); res.enqueue((c0, 0))
      while (cand.nonEmpty &&
          (res.size < efW || ord.gt(cand.head, res.head))) {
        val (_, ci) = cand.dequeue()
        adj(ci).foreach { e =>
          if (!visited.get(e)) {
            visited.set(e)
            val ce = cosAt(e)
            if (res.size < efW || ce > res.head._1 ||
                (ce == res.head._1 && ids(e) < ids(res.head._2))) {
              cand.enqueue((ce, e)); res.enqueue((ce, e))
              if (res.size > efW) { res.dequeue(); () }
            }
          }
        }
      }
      res
    }

    /** Deterministic NSW build: insert in array order; each node
      * links bidirectionally to the `degree` best candidates found by
      * SEARCHING the partial graph with `efC` (the standard NSW/HNSW
      * construction — O(efC·degree·dims) per insert; an exact
      * predecessor scan goes quadratic on a skew-popped cell).
      */
    def build(ids: Array[Long], vecs: Array[Array[Double]],
        norms: Array[Double], degree: Int,
        efC: Int): Array[Array[Int]] = {
      val n = ids.length
      val adj = Array.fill(n)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      var i = 1
      while (i < n) {
        val found = walk(ids, vecs, norms, adj(_), vecs(i), norms(i), efC)
          .toArray.sortBy { case (c, jj) => (-c, ids(jj)) }
          .take(degree)
        found.foreach { case (_, jj) => adj(i) += jj; adj(jj) += i }
        i += 1
      }
      adj.map(_.toArray)
    }

    /** One stored-index cell from scratch: sort members by id (the
      * deterministic insert order), build, and emit the
      * [[graft.functions.Similarity.graphAnnBuild]] row shape. Shared
      * by build and remove so a touched-cell rebuild after a delete
      * is BY CONSTRUCTION identical to the fresh build of the
      * survivors.
      */
    def buildRows(cell: Int, ms: Iterator[(Int, Long, Seq[Double])],
        degree: Int, efC: Int)
        : Iterator[(Int, Long, Seq[Double], Seq[Long])] = {
      val pts = ms.toArray.sortBy(_._2)
      val ids = pts.map(_._2)
      val vecs = pts.map(_._3.toArray)
      val norms = vecs.map(v => math.sqrt(dot(v, v)))
      val adj = build(ids, vecs, norms, degree, efC)
      ids.indices.iterator.map(i =>
        (cell, ids(i), vecs(i).toSeq, adj(i).map(ids(_)).toSeq))
    }
  }

  /** Build the cell-local NSW graphs as a STORED INDEX — one row per
    * point: (cell, id, vector, neighbor ids). The production reuse
    * shape, graph edition of ivfAssignments: build once, write to
    * parquet partitioned by cell, serve every later query batch
    * through [[graphAnnTopKIndexed]] with no rebuild. Neighbor lists
    * carry GLOBAL ids (stable across storage); the search side
    * re-localizes them per cell.
    */
  def graphAnnBuild(corpus: DataFrame, corpusId: String,
      corpusVec: String, centroids: Array[Array[Double]],
      degree: Int = 8, efConstruction: Int = 64): DataFrame = {
    require(degree >= 1 && efConstruction >= degree,
      "need degree >= 1, efConstruction >= degree")
    val spark = corpus.sparkSession
    import spark.implicits._
    ivfAssignments(
        corpus.select(col(corpusId),
          transform(col(corpusVec), x => x.cast("double")).as(corpusVec)),
        corpusId, corpusVec, centroids)
      .select(col("cell"), col(corpusId).cast("long"), col(corpusVec))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell: Int, ms: Iterator[(Int, Long, Seq[Double])]) =>
        NswGraph.buildRows(cell, ms, degree, efConstruction)
      }
      .toDF("cell", corpusId, corpusVec, "neighbors")
  }

  /** Incremental APPEND into a stored graph index: delta points
    * assign to their cells map-only against the FROZEN quantizer (the
    * sim_ivf_append contract) and INSERT into the existing cell
    * graphs via the same search-and-link step the builder uses —
    * untouched cells pass through byte-identical, touched cells pay
    * O(delta·efC·degree) insertion, never a rebuild. The resulting
    * graph differs from a fresh full build only in insertion order;
    * the exactness contract (full probe + ef ≥ population ⇒ brute
    * force) is order-independent, and the spec pins it on the
    * appended index too. Output schema = [[graphAnnBuild]].
    */
  def graphAnnAppend(index: DataFrame, delta: DataFrame,
      corpusId: String, corpusVec: String,
      centroids: Array[Array[Double]], degree: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    require(degree >= 1 && efConstruction >= degree,
      "need degree >= 1, efConstruction >= degree")
    val spark = index.sparkSession
    import spark.implicits._
    val stored = index
      .select(col("cell"), col(corpusId).cast("long"), col(corpusVec),
        col("neighbors"))
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .groupByKey(_._1)
    val fresh = ivfAssignments(
        delta.select(col(corpusId),
          transform(col(corpusVec), x => x.cast("double")).as(corpusVec)),
        corpusId, corpusVec, centroids)
      .select(col("cell"), col(corpusId).cast("long"), col(corpusVec))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
    stored.cogroup(fresh) { (cell, ms, ds) =>
      val pts = ms.toArray.sortBy(_._2)
      val have = pts.iterator.map(_._2).toSet
      // a delta id already present in the cell is SKIPPED — replays
      // of an at-least-once micro-batch re-deliver the same points,
      // and re-inserting them would duplicate graph nodes (the IVF
      // ingest gets the same idempotence from partition replace).
      // Dedup WITHIN the batch too: duplicate ids in one delta would
      // all pass the stored-id filter and insert duplicate nodes,
      // breaking output uniqueness. Sort by (id, vec lexicographic)
      // first so which duplicate survives is deterministic, then keep
      // the first row per id.
      val dArr = ds.filter(d => !have.contains(d._2))
        .toArray
        .sortBy(d => (d._2, d._3.mkString(","))) // deterministic order
        .distinctBy(_._2)
      if (dArr.isEmpty) {
        // untouched cell: pass through unchanged
        pts.iterator.map(p => (cell, p._2, p._3, p._4))
      } else {
        val nOld = pts.length
        val n = nOld + dArr.length
        val ids = new Array[Long](n)
        val vecs = new Array[Array[Double]](n)
        var i = 0
        while (i < nOld) { ids(i) = pts(i)._2; vecs(i) = pts(i)._3.toArray; i += 1 }
        dArr.indices.foreach { j =>
          ids(nOld + j) = dArr(j)._2; vecs(nOld + j) = dArr(j)._3.toArray
        }
        val norms = vecs.map(v => math.sqrt(NswGraph.dot(v, v)))
        val local = new java.util.HashMap[Long, Integer](nOld * 2)
        (0 until nOld).foreach(i0 => local.put(ids(i0), i0))
        val adj = Array.fill(n)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        (0 until nOld).foreach { i0 =>
          pts(i0)._4.foreach { g =>
            val l = local.get(g)
            if (l ne null) adj(i0) += l.intValue()
          }
        }
        // continue the NSW insertion loop for the delta points; a
        // brand-new cell (nOld == 0) seeds with its first point, the
        // fresh-build convention
        var idx = math.max(nOld, 1)
        while (idx < n) {
          val found = NswGraph
            .walk(ids, vecs, norms, adj(_), vecs(idx), norms(idx),
              efConstruction)
            .toArray.sortBy { case (c, jj) => (-c, ids(jj)) }
            .take(degree)
          found.foreach { case (_, jj) => adj(idx) += jj; adj(jj) += idx }
          idx += 1
        }
        ids.indices.iterator.map(i2 =>
          (cell, ids(i2), vecs(i2).toSeq, adj(i2).map(ids(_)).toSeq))
      }
    }.toDF("cell", corpusId, corpusVec, "neighbors")
  }

  /** Split oversized quantizer cells — the SKEW GUARD for the IVF
    * family: a frozen quantizer gone stale against drifted data can
    * leave one cell holding a large corpus fraction, and every
    * cell-local operator (the NSW build above all) then runs that
    * cell SERIALLY in one task — a straggler that grows with the
    * corpus (measured in ScaleSmoke `gannskew`: a 30%-cell pushes
    * build+walk to 1.5× uniform at 32k vectors and worsens with
    * scale). This re-quantizes each cell whose population exceeds
    * `maxPop` with ceil(pop/maxPop) sub-centroids trained on the
    * cell's own members via [[ivfTrain]] at `oversample = 1` —
    * mass-proportional init + deterministic Lloyd, NOT farthest-point
    * (an oversized cell is by definition a dense blob; farthest-point
    * seeds its outliers and one near-center seed re-captures the
    * whole blob — ivfTrain's own documented failure mode, measured
    * again here: farthest-point sub-centroids left 7579 of a
    * 9836-member cell together, mass-proportional Lloyd splits it);
    * cells within bound keep their centroid untouched. The result is a flat refined centroid array
    * — downstream operators are quantizer-agnostic, and the
    * full-probe exactness contract holds under ANY deterministic
    * quantizer, so refinement never changes exact-regime results.
    *
    * Driver loop bounded by the number of OVERSIZED cells (≤ nlist);
    * each trains on one cell's members via the nlist×oversample
    * TakeOrdered sample — never a full-corpus collect. Identical
    * duplicate vectors cannot be split by any metric quantizer (they
    * tie to one sub-centroid) — that regime is dedup's job, not the
    * quantizer's.
    */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], maxPop: Long,
      iters: Int = 3): Array[Array[Double]] = {
    require(maxPop > 0, "maxPop must be > 0")
    val assigned = ivfAssignments(
        corpus.select(col(idCol),
          transform(col(vecCol), x => x.cast("double")).as(vecCol)),
        idCol, vecCol, centroids)
      .localCheckpoint() // consumed once per oversized cell + once for pops
    val pops = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ nlist
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    centroids.indices.foreach { c =>
      val pop = pops.getOrElse(c, 0L)
      if (pop <= maxPop) out += centroids(c)
      else {
        val kSub = ((pop + maxPop - 1) / maxPop).toInt
        out ++= ivfTrain(
          assigned.filter(col("cell") === c)
            .select(col(idCol), col(vecCol)),
          idCol, vecCol, kSub, iters, oversample = 1)
      }
    }
    out.toArray
  }

  /** Apply DELETE tombstones to a stored graph index — the missing
    * third of the index lifecycle next to [[graphAnnBuild]] (create)
    * and [[graphAnnAppend]] (insert). Deletion is a first-class sync
    * op in the reference (sqlserver2pgsql.pl:4645–4647 applies
    * deletes alongside inserts/updates); the index store deserves the
    * same CDC completeness: when the dedup pipeline drops a document,
    * its vector must leave the index without a full rebuild.
    *
    * Semantics: cells containing at least one tombstoned id REBUILD
    * their graph over the survivors in id order — the exact
    * [[graphAnnBuild]] kernel (shared NswGraph.buildRows), so
    * remove(set) over build(all) is BY CONSTRUCTION identical to a
    * fresh build(all − set): untouched cells pass through
    * byte-identical (cell graphs are independent), touched cells
    * re-run the same deterministic id-ordered insertion the fresh
    * build would. Neighbor re-linking therefore needs no bespoke
    * repair rule — and no repair heuristic could drift from the
    * build, because it IS the build.
    *
    * Scale shape: tombstone batches are deletion CDC — small vs the
    * corpus — so both the touched-cell probe and the id anti-join
    * broadcast; the rebuild cost is O(touched cells · cell pop ·
    * efC · degree), bounded by nlist ∝ corpus keeping cell
    * populations flat, never a whole-index rebuild. (A surgical
    * re-link of only the removed nodes' neighbors would be cheaper
    * per delete but forfeits fresh-build equality — the property that
    * makes the operator hash-gateable and keeps append/remove
    * sequences from accumulating graph-quality drift.)
    */
  def graphAnnRemove(index: DataFrame, tombstones: DataFrame,
      corpusId: String, corpusVec: String, degree: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    require(degree >= 1 && efConstruction >= degree,
      "need degree >= 1, efConstruction >= degree")
    val spark = index.sparkSession
    import spark.implicits._
    val dead = tombstones
      .select(col(corpusId).cast("long").as(corpusId)).distinct()
    val touchedCells = index
      .select(col("cell"), col(corpusId).cast("long").as(corpusId))
      .join(broadcast(dead), Seq(corpusId), "left_semi")
      .select(col("cell")).distinct()
    val untouched = index
      .select(col("cell"), col(corpusId).cast("long").as(corpusId),
        col(corpusVec), col("neighbors"))
      .join(broadcast(touchedCells), Seq("cell"), "left_anti")
    val rebuilt = index
      .select(col("cell"), col(corpusId).cast("long").as(corpusId),
        col(corpusVec))
      .join(broadcast(touchedCells), Seq("cell"), "left_semi")
      .join(broadcast(dead), Seq(corpusId), "left_anti")
      .select(col("cell"), col(corpusId), col(corpusVec))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell: Int, ms: Iterator[(Int, Long, Seq[Double])]) =>
        NswGraph.buildRows(cell, ms, degree, efConstruction)
      }
      .toDF("cell", corpusId, corpusVec, "neighbors")
    untouched.unionByName(rebuilt)
  }

  /** Apply DELETE tombstones to a stored IVF assignment table — the
    * flat-index twin of [[graphAnnRemove]]. An IVF posting row is
    * self-contained (no inter-row links), so removal is exactly one
    * broadcast anti-join on the id; the cell layout, quantizer and
    * every surviving row are untouched, and searches via
    * `ivfTopKIndexed` see the survivors only. remove(set) ≡ fresh
    * assignment of (all − set) trivially (assignment is per-row).
    */
  def ivfRemove(index: DataFrame, tombstones: DataFrame,
      corpusId: String): DataFrame = {
    val dead = tombstones
      .select(col(corpusId).cast(index.schema(corpusId).dataType)
        .as(corpusId)).distinct()
    index.join(broadcast(dead), Seq(corpusId), "left_anti")
  }

  /** Graph-ANN search over a PRE-BUILT index table from
    * [[graphAnnBuild]] (possibly read back from parquet): skips the
    * build entirely — queries probe `nprobe` cells and walk the
    * STORED graphs. A cell-partitioned store turns the cogroup's
    * member side into a pruned scan of nprobe/nlist of the index.
    * Identical walk/tie semantics to [[graphAnnTopK]] (shared
    * NswGraph implementation; spec pins indexed == inline).
    */
  def graphAnnTopKIndexed(index: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 4, ef: Int = 64): DataFrame = {
    require(k >= 1 && ef >= k, "need k >= 1, ef >= k")
    val spark = index.sparkSession
    import spark.implicits._
    val probeRows = queries
      .select(col(queryId).cast("long").as("__qid"),
        transform(col(queryVec), x => x.cast("double")).as("__qv"),
        probeCells(
          transform(col(queryVec), x => x.cast("double")), centroids,
          nprobe).as("__probes"))
      .select(col("__qid"), col("__qv"),
        explode(col("__probes").getField("cell")).as("cell"))
      .select(col("cell"), col("__qid"), col("__qv"))
    // restrict the member side to the PROBED cells before the cogroup
    // — a cell nobody probes would emit nothing anyway, but without
    // this the scan reads and shuffles the WHOLE index. The broadcast
    // semi-join on the partition column is what lets dynamic
    // partition pruning turn a cell-partitioned store into an actual
    // nprobe/nlist-of-the-files read.
    val members = index
      .select(col("cell"), col(corpusId).cast("long"), col(corpusVec),
        col("neighbors"))
      .join(broadcast(probeRows.select(col("cell")).distinct()),
        Seq("cell"), "left_semi")
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .groupByKey(_._1)
    val probes = probeRows
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
    val walked = members.cogroup(probes) { (_, ms, qs) =>
      val qArr = qs.toArray
      if (qArr.isEmpty) Iterator.empty
      else {
        val pts = ms.toArray.sortBy(_._2)
        if (pts.isEmpty) Iterator.empty
        else {
          val ids = pts.map(_._2)
          val vecs = pts.map(_._3.toArray)
          val norms = vecs.map(v => math.sqrt(NswGraph.dot(v, v)))
          val local = new java.util.HashMap[Long, Integer](ids.length * 2)
          ids.indices.foreach(i => local.put(ids(i), i))
          val adj: Array[Array[Int]] = pts.map(_._4.iterator
            .map(g => local.get(g))
            .filter(_ ne null).map(_.intValue()).toArray)
          qArr.iterator.flatMap { case (_, qid, qv) =>
            val q = qv.toArray
            val qn = math.sqrt(NswGraph.dot(q, q))
            NswGraph.walk(ids, vecs, norms, adj(_), q, qn, ef).iterator
              .map { case (c, idx) => (qid, ids(idx), c) }
          }
        }
      }
    }.toDF("__qid", corpusId, "cos")
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, col(corpusId).asc)
    walked.filter(col("__qid") =!= col(corpusId))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(queryId), col(corpusId), col("cos"),
        col("rank"))
  }

  /** IVF approximate top-k: corpus bucketed once by nearest centroid,
    * queries explode into their `nprobe` probe cells, and the
    * candidate join is a plain equi-join on the cell id — the same
    * shuffle-on-compact-key shape as the LSH paths. Recall rises with
    * nprobe (nprobe = nlist degenerates to exact brute force).
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(corpusId), col(corpusVec),
      norm(col(corpusVec)).as("__cn"),
      cellOf(col(corpusVec), centroids).as("__cell"))
    topKFromCells(c, corpusId, corpusVec, queries, queryId, queryVec,
      k, centroids, nprobe)
  }

  private def topKFromCells(c: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val q = queries
      .select(col(queryId), col(queryVec), norm(col(queryVec)).as("__qn"),
        // probe over the double-cast vector — the SAME expression
        // [[probedCells]] collects driver-side, so a store slice built
        // from it can never miss a cell this kernel explodes (for
        // float/decimal inputs the raw-vs-cast scores can round
        // differently at a cell boundary); graphAnnTopKIndexed probes
        // the cast vector for the same reason
        probeCells(transform(col(queryVec), x => x.cast("double")),
          centroids, nprobe).as("__probes"))
      .select(col(queryId), col(queryVec), col("__qn"),
        explode(col("__probes").getField("cell")).as("__cell"))
    val denom = col("__cn") * col("__qn")
    val joined = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        when(denom === 0, lit(0.0))
          .otherwise(dot(col(corpusVec), col(queryVec)) / denom).as("cos"))
    val idNumeric = c.schema(corpusId).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (k == 1 && idNumeric) {
      // the bruteForceTopK k=1 convention: partial-agg'd
      // max(struct(cos, -id)) argmax instead of the window — the
      // candidate stream combines map-side and the shuffle carries
      // |queries| rows instead of re-partitioning + sorting every
      // probed pair. Tie-break (cos desc, id asc) and output schema
      // identical to the window path.
      joined.groupBy(col(queryId))
        .agg(max(struct(col("cos"), (-col(corpusId)).as("__negid")))
          .as("__w"))
        .select(col(queryId), (-col(s"__w.__negid")).as(corpusId),
          col("__w.cos").as("cos"), lit(1).as("rank"))
    } else {
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("cos").desc, col(corpusId).asc)
      joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  // ------------------------------------------------------------------
  // int8 quantization — the memory-layout scale path: a float32 corpus
  // stores 4× smaller as int8 codes + one scale per vector, and the
  // candidate scoring becomes exact integer arithmetic.
  // ------------------------------------------------------------------

  /** max |x| of a vector (the symmetric-quantization range). */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization: q[i] = floor(x[i]·127/mx + 0.5) with
    * mx = max|x| (pass `maxAbs(vec)` STAGED as its own column — inlining
    * it here would re-evaluate the array_max once per element). The
    * all-zero vector quantizes to all zeros.
    *
    * Codes are integral values in [−127, 127] carried as doubles, so
    * (a) VecDot consumes them unchanged and every dot product is EXACT
    * integer arithmetic (≤ 2^53, no float-order ambiguity — fully
    * cross-engine reproducible, which float cosine is not), and (b) for
    * storage they cast losslessly to `array<tinyint>` — 4× smaller than
    * the float32 they replace.
    */
  def quantizeInt8(vec: Column, mx: Column): Column =
    when(mx === 0, transform(vec, _ => lit(0.0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") * lit(127.0) / mx + lit(0.5))
          .cast("double")))

  /** Top-k by cosine over int8-quantized vectors. The per-vector scale
    * cancels out of the cosine entirely — score = int-dot(qa, qb) /
    * (‖qa‖·‖qb‖) — so ranking needs only the codes: the float corpus
    * is never touched after quantization. Same broadcast
    * probe-batch × corpus shape as `bruteForceTopK`; at 100 TB the
    * corpus side streams 4× fewer bytes per candidate. Compose with an
    * exact float re-rank of the top candidates when approximation
    * error matters more than bandwidth.
    */
  def quantizedTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    def prep(df: DataFrame, id: String, vec: String, q: String, n: String) =
      df.select(col(id), maxAbs(col(vec)).as("__mx"), col(vec))
        .select(col(id), quantizeInt8(col(vec), col("__mx")).as(q))
        .select(col(id), col(q), sqrt(dot(col(q), col(q))).as(n))
    val c = prep(corpus, corpusId, corpusVec, "__cq", "__cn")
    val q = prep(queries, queryId, queryVec, "__qq", "__qn")
    val denom = col("__cn") * col("__qn")
    val joined = c.crossJoin(broadcast(q))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        when(denom === 0, lit(0.0))
          .otherwise(dot(col("__cq"), col("__qq")) / denom).as("cos"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos").desc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SimHash64 over whitespace tokens: per-token 64-bit hash votes on
    * each bit position weighted ±1; the sign vector is the signature.
    * Built from xxhash64 (stable, seedable, codegen'd). Spark-side
    * near-dup key; grouped by equality (Hamming-radius probing is a
    * follow-on).
    */
  /** Token hashes for simhash: each token hashed ONCE with the native
    * xxhash64. Materialize this as its own column before calling
    * `simhashFromHashes` so the 64 bit-votes share one hash pass.
    */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t))

  /** Portable per-token hash: the first 15 hex chars of md5 parsed as
    * a 60-bit non-negative long. Any engine with bit-exact md5 can
    * recompute it (DuckDB: `CAST('0x' || substr(md5(t),1,15) AS
    * BIGINT)`), unlike xxhash64/murmur3 which exist only in Spark.
    */
  def tokenHashesPortable(text: Column): Column =
    transform(TextAnalysis.tokens(lower(text)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))

  /** Simhash from a precomputed token-hash array: for each bit b in
    * [0, numBits), sum over tokens of (bit set ? +1 : −1); sign → bit.
    */
  def simhashFromHashes(hashes: Column, numBits: Int = 64): Column = {
    val bits = (0 until numBits).map { b =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search" — public paper): the
  // memory-compression ANN path. The d-dim space splits into m
  // subspaces; each sub-vector encodes as the index of its nearest
  // subspace centroid, so a vector stores as m small ints (d=64
  // floats → 8 codes = 32× smaller). Search scores candidates with
  // the asymmetric distance computation (ADC): per query ONE m×k
  // lookup table of exact query-to-centroid sub-distances, then every
  // corpus distance is m table lookups over the codes — no float
  // vector is ever read at query time. At 100 TB this is the
  // difference between scanning 25 TB of raw embeddings and 0.8 TB
  // of codes.
  //
  // All distances are held as NANO-UNIT LONGS (floor(d² × 1e9)):
  // integer sums are exact and order-independent, so encode, LUT and
  // ADC totals replay bit-for-bit in any engine — the float-sum
  // association trap (bm25Rank docstring) never arises.
  // ------------------------------------------------------------------

  /** Deterministic PQ codebooks: subspace j's k centroids are the
    * j-th sub-vectors of the corpus rows with id ∈ {0, stride, …,
    * (k−1)·stride} (id-stride sampling — seed-free, engine-portable,
    * same reproducibility convention as [[ivfCentroids]]). Collects
    * O(k·dims) doubles — constant in corpus size.
    * Returns books(j)(c) = centroid sub-vector (length dims/m).
    */
  def pqBooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int, stride: Long = 11L): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val rows = corpus
      .filter(col(idCol) % stride === 0 && col(idCol) < k * stride)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .sortBy(_.getLong(0))
    require(rows.length == k,
      s"pqBooks: expected $k sample vectors, found ${rows.length}")
    val vecs = rows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    Array.tabulate(m, k)((j, c) => vecs(c).slice(j * sub, (j + 1) * sub))
  }

  /** The codebook as ONE nested-array literal plus the nano-quantized
    * sub-distance computed with higher-order functions. Unrolling the
    * m×k×sub arithmetic as per-element literals generated >64 KB of
    * Java per method — codegen failed and the whole stage fell back to
    * interpretation (measured 6 s for a 2000-row encode). The HOF form
    * is one compact expression over one literal; the same loop count
    * runs ~20× faster.
    */
  private def bookLit(books: Array[Array[Array[Double]]]): Column =
    typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)

  /** Nano-quantized squared distance between sub-vector j of `vec`
    * and centroid `cent` (an array<double> column). */
  private def subDistNano(vec: Column, j: Column, sub: Int,
      cent: Column): Column = {
    val d2 = aggregate(sequence(lit(0), lit(sub - 1)), lit(0.0),
      (acc, i) => {
        val diff = element_at(vec, j * sub + i + 1).cast("double") -
          element_at(cent, i + 1)
        acc + diff * diff
      })
    floor(d2 * 1e9).cast("long")
  }

  /** PQ codes for a vector column: codes[j] = argmin over c of the
    * nano-quantized sub-distance (ties → smallest code). Map-only
    * projection — rides the scan, no shuffle.
    */
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length; val k = books(0).length
    val sub = books(0)(0).length
    val bk = bookLit(books)
    transform(sequence(lit(0), lit(m - 1)), j =>
      array_min(transform(sequence(lit(0), lit(k - 1)), c =>
        struct(
          subDistNano(vec, j, sub, element_at(element_at(bk, j + 1), c + 1))
            .as("d"),
          c.cast("integer").as("c"))))
        .getField("c"))
  }

  /** Native-kernel PQ encode ([[graft.expressions.PqEncodeFlat]]) —
    * what the corpus-side encodes actually use. The declarative
    * [[pqEncode]] stays as the parity twin (and the form the oracle
    * SQL mirrors); the kernel exists because the interpreted HOF
    * re-evaluates a non-attribute child (the gates' float→double
    * `transform` cast) per element access — m·k·sub times per row.
    */
  def pqEncodeNative(vec: Column,
      books: Array[Array[Array[Double]]]): Column =
    exprCol(graft.expressions.PqEncodeFlat(colExpr(vec), books))

  /** PQ codebook health in m rows — the PQ twin of
    * [[ivfOccupancyStats]]: per subspace, codes used / dead codes /
    * max & mean occupancy and the imbalance ratio over the ENCODED
    * corpus. Dead codes mean the training sample missed a mode of
    * that subspace's distribution — ADC recall silently degrades
    * while timings look fine (the r7 occupancy lesson, PQ edition).
    * Takes the encoded table (id, codes array) — the stored-index
    * artifact — so the scan reads codes, never re-encodes; run it
    * after every (re)build next to the IVF occupancy check.
    */
  def pqCodeStats(encoded: DataFrame, codesCol: String, k: Int)
      : DataFrame = {
    val occ = encoded
      .select(posexplode(col(codesCol)).as(Seq("j", "code")))
      .groupBy(col("j"), col("code")).agg(count(lit(1)).as("__n"))
    occ.groupBy(col("j")).agg(
        lit(k).as("n_codes"),
        count(lit(1)).as("codes_used"),
        (lit(k) - count(lit(1))).as("dead_codes"),
        max(col("__n")).as("max_occupancy"),
        (sum(col("__n")).cast("double") / count(lit(1)))
          .as("mean_occupancy"),
        (max(col("__n")).cast("double") /
          (sum(col("__n")).cast("double") / count(lit(1))))
          .as("imbalance"))
      .orderBy(col("j"))
  }

  /** ADC lookup table for a query vector: lut[j][c] = nano-quantized
    * exact distance from the query's j-th sub-vector to centroid c.
    * m×k longs per query, computed once.
    */
  def pqLut(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length; val k = books(0).length
    val sub = books(0)(0).length
    val bk = bookLit(books)
    transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(k - 1)), c =>
        subDistNano(vec, j, sub,
          element_at(element_at(bk, j + 1), c + 1))))
  }

  /** PQ-ADC approximate top-k: encode the corpus to codes (map-only),
    * broadcast the queries with their LUTs, score every (query,
    * corpus) pair as m integer table lookups, rank per query.
    *
    * Scale shape: the corpus side carries only (id, m codes) through
    * the scoring projection — the raw vectors are read once at encode
    * time and never again; queries (human-sized probe batches)
    * broadcast; ranking is the WindowGroupLimit partial top-k of
    * [[bruteForceTopK]]. Output: (queryId, corpusId, dist_nano, rank)
    * — dist_nano is the exact integer ADC total, bit-reproducible in
    * any engine.
    */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = books.length
    val encoded = corpus.select(col(corpusId),
      pqEncodeNative(col(corpusVec), books).as("__codes"))
    val q = queries.select(col(queryId),
      pqLut(col(queryVec), books).as("__lut"))
    val score = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("__codes"), j + 1) + 1)
    }.reduce(_ + _)
    val joined = encoded.crossJoin(broadcast(q))
      .filter(col(queryId) =!= col(corpusId)) // self-match excluded
      .select(col(queryId), col(corpusId), score.as("dist_nano"))
      // a row whose codes degraded to null (null vector element —
      // see PqEncodeFlat) must not rank: Spark sorts NULLS FIRST on
      // asc, which would put unscorable rows at rank 1
      .filter(col("dist_nano").isNotNull)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("dist_nano").asc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ: the standard composed large-scale index (coarse quantizer
    * prunes, product codes score). Corpus rows carry (cell, codes) —
    * the raw vector is read once at index time; queries probe their
    * `nprobe` nearest cells via the equi-join and ADC-score only the
    * probed cells' codes. At 100 TB this multiplies the two savings:
    * IVF touches nprobe/nlist of the corpus, PQ reads 32× fewer bytes
    * of what it touches. Gate `sim_ivf_pq` (round 8) replays the FULL
    * composition in SQL — possible because `ivfCentroids(oversample=1)`
    * bypasses the driver-side farthest-point pass entirely (the
    * hash-ordered TakeOrdered sample IS the quantizer, replayed as
    * ORDER BY md5(id) LIMIT nlist); with oversample ≥ 2 correctness
    * rides the spec (cluster recovery + agreement with pqTopK at full
    * probe) and the components' own gates (sim_ann_ivf, sim_ann_pq).
    */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nprobe: Int = 4): DataFrame = {
    val m = books.length
    val c = corpus.select(col(corpusId),
      pqEncodeNative(col(corpusVec), books).as("__codes"),
      cellOf(col(corpusVec), centroids).as("__cell"))
    val q = queries
      .select(col(queryId), pqLut(col(queryVec), books).as("__lut"),
        probeCells(col(queryVec), centroids, nprobe).as("__probes"))
      .select(col(queryId), col("__lut"),
        explode(col("__probes").getField("cell")).as("__cell"))
    val score = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("__codes"), j + 1) + 1)
    }.reduce(_ + _)
    val joined = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId), score.as("dist_nano"))
      // a row whose codes degraded to null (null vector element —
      // see PqEncodeFlat) must not rank: Spark sorts NULLS FIRST on
      // asc, which would put unscorable rows at rank 1
      .filter(col("dist_nano").isNotNull)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("dist_nano").asc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Residual PQ codebooks — the faithful IVFADC training step
    * (Jégou 2011 §IV: product-quantize the RESIDUAL v − c(v), whose
    * energy is a fraction of the raw vector's, so the same code
    * budget buys far finer quantization). Same deterministic
    * id-stride sample as [[pqBooks]]; each sampled row's residual is
    * taken against ITS nearest centroid (driver-side subtraction on
    * the k collected rows — exact, and SQL-replayable whenever the
    * quantizer is, e.g. the oversample=1 hash sample).
    */
  def pqBooksResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int, k: Int, dims: Int,
      stride: Long = 11L): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    val rows = corpus
      .filter(col(idCol) % stride === 0 && col(idCol) < k * stride)
      .select(col(idCol).cast("long"), col(vecCol),
        cellOf(col(vecCol), centroids).as("__cell"))
      .collect()
      .sortBy(_.getLong(0))
    require(rows.length == k,
      s"pqBooksResidual: expected $k sample vectors, found ${rows.length}")
    val resids = rows.map { r =>
      val v = r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
      val cent = centroids(r.getInt(2))
      Array.tabulate(dims)(i => v(i) - cent(i))
    }
    Array.tabulate(m, k)((j, c) => resids(c).slice(j * sub, (j + 1) * sub))
  }

  /** The residual of a vector against its assigned cell's centroid,
    * declaratively: zip_with(v, cent[cell], _ − _) with the centroid
    * looked up from the quantizer literal by a (non-nullable) cell
    * column.
    */
  private def residualOf(vec: Column, cell: Column,
      centroids: Array[Array[Double]]): Column =
    zip_with(vec,
      element_at(typedLit(centroids.map(_.toSeq).toSeq), cell + 1),
      (a, b) => a.cast("double") - b)

  /** IVFADC — [[ivfPqTopK]] with RESIDUAL encoding, the composition
    * the PQ paper actually ships: corpus codes quantize v − c(v)
    * (fractional energy → finer cells for the same bits), and the
    * query's ADC table is computed PER PROBED CELL against
    * q − c(cell) (the asymmetric part: the query residual is exact).
    * The per-(query, cell) LUT costs nprobe·m·k sub-distances per
    * query — still query-batch-sized, never corpus-sized.
    *
    * Degeneracy contract (spec-pinned): with ONE all-zero centroid
    * the residual is the identity and this equals flat [[pqTopK]]
    * with the same books exactly. All distances stay nano-unit longs;
    * with an SQL-replayable quantizer the whole composition is
    * oracle-gated (sim_ivf_pq_residual).
    */
  def ivfPqResidualTopK(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nprobe: Int = 4): DataFrame = {
    val m = books.length
    // ONE native kernel for (cell, residual, codes): composing the
    // declarative pieces re-evaluates the residual expression per
    // element access inside the interpreted pqEncode HOF — ~1024 full
    // re-evaluations per row (measured 35 s vs 2 s on the sf0.1
    // gate). Kernel output is bit-identical to the declarative
    // composition (parity-spec'd), so the SQL oracle is unchanged.
    val enc = exprCol(graft.expressions.PqEncodeResidual(
      colExpr(col(corpusVec)), centroids, books))
    val c = corpus.select(col(corpusId), enc.as("__enc"))
      .select(col(corpusId),
        col("__enc").getField("codes").as("__codes"),
        coalesce(col("__enc").getField("cell"), lit(-1)).as("__cell"))
    val q = queries
      .select(col(queryId), col(queryVec),
        probeCells(col(queryVec), centroids, nprobe).as("__probes"))
      .select(col(queryId), col(queryVec),
        explode(col("__probes").getField("cell")).as("__cell"))
      .select(col(queryId), col("__cell"),
        exprCol(graft.expressions.PqLutResidual(
          colExpr(col(queryVec)), colExpr(col("__cell")),
          centroids, books)).as("__lut"))
    val score = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("__codes"), j + 1) + 1)
    }.reduce(_ + _)
    val joined = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId), score.as("dist_nano"))
      // a row whose codes degraded to null (null vector element —
      // see PqEncodeFlat) must not rank: Spark sorts NULLS FIRST on
      // asc, which would put unscorable rows at rank 1
      .filter(col("dist_nano").isNotNull)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("dist_nano").asc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The declarative composition the kernels replace — kept as the
    * parity twin: the spec pins kernel output bit-identical to this
    * (which is what the SQL oracle replays). Unusably slow on real
    * corpora (the per-element re-evaluation note in
    * [[ivfPqResidualTopK]]).
    */
  private[functions] def ivfPqResidualTopKDeclarative(corpus: DataFrame,
      corpusId: String, corpusVec: String, queries: DataFrame,
      queryId: String, queryVec: String, k: Int,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nprobe: Int): DataFrame = {
    val m = books.length
    val cell = cellOf(col(corpusVec), centroids)
    val c = corpus.select(col(corpusId),
      pqEncode(residualOf(col(corpusVec), cell, centroids), books)
        .as("__codes"),
      cell.as("__cell"))
    val q = queries
      .select(col(queryId), col(queryVec),
        probeCells(col(queryVec), centroids, nprobe).as("__probes"))
      .select(col(queryId), col(queryVec),
        explode(col("__probes").getField("cell")).as("__cell"))
      .select(col(queryId), col("__cell"),
        pqLut(residualOf(col(queryVec), col("__cell"), centroids), books)
          .as("__lut"))
    val score = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("__codes"), j + 1) + 1)
    }.reduce(_ + _)
    val joined = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId), score.as("dist_nano"))
      // a row whose codes degraded to null (null vector element —
      // see PqEncodeFlat) must not rank: Spark sorts NULLS FIRST on
      // asc, which would put unscorable rows at rank 1
      .filter(col("dist_nano").isNotNull)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("dist_nano").asc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // IMI — the inverted multi-index (Babenko & Lempitsky 2012): the
  // product-space answer to "nlist must grow with the corpus". A
  // vector-space coarse quantizer needs nlist centroids for nlist
  // cells; IMI splits the vector in two halves with K centroids EACH
  // and indexes on the (code₀, code₁) PAIR — K² cells from 2K
  // centroids, so a billion-scale cell count (K=2¹⁴ → 2²⁸ cells)
  // costs only 2K centroid dots per vector. Probing ranks cells by
  // d₀(i)+d₁(j), which needs only the 2K half-distances per query.
  // ------------------------------------------------------------------

  /** IMI cell id of a vector: the two coarse codebooks (a `pqBooks`
    * result with m=2) encode each half independently; cell =
    * code₀·K + code₁. Map-only — rides the scan like
    * [[ivfAssignments]].
    */
  def imiCells(vec: Column, coarse: Array[Array[Array[Double]]]): Column = {
    // NOTE: this declarative form is the PARITY TWIN of the native
    // [[graft.expressions.ImiCellAssign]] kernel (which imiTopK's
    // corpus side uses — at K=128 this composition walks 2K centroids
    // × sub dims per row through the interpreted-HOF path and
    // dominated the K=128 gate at 16.9 s). Spec pins the two
    // bit-identical, tie fixtures included.
    require(coarse.length == 2, "IMI needs exactly 2 coarse codebooks")
    val k = coarse(0).length
    // ONE reference to the pqEncode subtree: cell = fold(codes,
    // acc·K + c) ≡ code₀·K + code₁ for m=2 (element_at twice would
    // duplicate the whole coarse-encode HOF — no CSE across copies).
    // coalesce for the same reason as cellOf: a nullable join key
    // makes the optimizer push isnotnull(<encode>) BELOW the
    // projection and the 512-step coarse encode runs twice per row.
    coalesce(
      aggregate(pqEncode(vec, coarse), lit(0), (acc, c) => acc * k + c),
      lit(-1))
  }

  /** IMI-pruned PQ-ADC top-k — the composed billion-scale index shape
    * (IMI coarse cells prune, fine product codes score): corpus rows
    * carry (imi cell, fine codes); queries probe their `nprobe`
    * best cell PAIRS (native kernel
    * [[graft.expressions.ImiProbeCells]] — the K² pair ranking needs
    * only 2K half-distances, computed once per query) and ADC-score
    * only the probed cells' codes via the same equi-join + broadcast
    * shape as [[ivfPqTopK]].
    *
    * Exactness contract (spec-pinned): `nprobe == K²` probes every
    * cell, so the result is IDENTICAL to flat [[pqTopK]] with the
    * same fine codebooks — the IMI layer is pure pruning, never a
    * scoring change. All distances are the nano-unit longs of the PQ
    * family, so an oracle replays cells, probes and scores exactly.
    */
  def imiTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      coarse: Array[Array[Array[Double]]],
      fine: Array[Array[Array[Double]]], k: Int,
      nprobe: Int = 8): DataFrame = {
    val m = fine.length
    val c = corpus.select(col(corpusId),
      pqEncodeNative(col(corpusVec), fine).as("__codes"),
      // native kernel, not the declarative imiCells: the coarse encode
      // runs on EVERY corpus row and at billion-scale K the interpreted
      // HOF walk is the gate's whole cost (coalesce keeps the
      // nullable-join-key convention of imiCells/cellOf)
      coalesce(
        exprCol(graft.expressions.ImiCellAssign(
          colExpr(col(corpusVec)), coarse)),
        lit(-1)).as("__cell"))
    // __lut and __probes in their OWN select, the explode in the next
    // (the ivfPqTopK shape): a generator mixed into the same select
    // gets extracted UNDER the other expressions, so the analyzer
    // plans Project(__lut) ABOVE the Generate and the interpreted-HOF
    // LUT recomputes per EXPLODED row — nprobe× per query (measured:
    // the K=128/nprobe=512 gate spent 8 s re-deriving 40 LUTs 512×
    // each; split, it is 40 evaluations)
    val q = queries
      .select(col(queryId), pqLut(col(queryVec), fine).as("__lut"),
        exprCol(graft.expressions.ImiProbeCells(
          colExpr(col(queryVec)), coarse, nprobe)).as("__probes"))
      .select(col(queryId), col("__lut"),
        explode(col("__probes")).as("__cell"))
    val score = (0 until m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col("__codes"), j + 1) + 1)
    }.reduce(_ + _)
    val joined = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId), score.as("dist_nano"))
      // a row whose codes degraded to null (null vector element —
      // see PqEncodeFlat) must not rank: Spark sorts NULLS FIRST on
      // asc, which would put unscorable rows at rank 1
      .filter(col("dist_nano").isNotNull)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("dist_nano").asc, col(corpusId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Group a trained quantizer's centroids under `ngroups`
    * super-centroids for two-level assignment: greedy farthest-point
    * selection over the CENTROID array picks the supers (same
    * deterministic rule as ivfCentroids — first centroid seeds, ties
    * keep the first), then every centroid joins its nearest super
    * (ties → lower super id). Pure driver math over O(nlist·dims)
    * values — KBs; the quantizer is already driver-resident.
    * Returns (superCentroids, memberCellIds) with member lists in
    * ascending global cell id.
    */
  def ivfGroups(centroids: Array[Array[Double]], ngroups: Int)
      : (Array[Array[Double]], Array[Array[Int]]) = {
    require(ngroups >= 1 && ngroups <= centroids.length,
      "ngroups must be in [1, nlist]")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val minD = centroids.map(c => d2(c, centroids(0)))
    while (chosen.size < ngroups) {
      var best = 0; var bestD = -1.0; var i = 0
      while (i < centroids.length) {
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      chosen += best
      i = 0
      while (i < centroids.length) {
        val d = d2(centroids(i), centroids(best))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    val supers = chosen.map(centroids(_).clone()).toArray
    val members = Array.fill(ngroups)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    centroids.indices.foreach { c =>
      var bg = 0; var bd = d2(centroids(c), supers(0)); var g = 1
      while (g < ngroups) {
        val d = d2(centroids(c), supers(g))
        if (d < bd) { bd = d; bg = g }
        g += 1
      }
      members(bg) += c
    }
    (supers, members.map(_.sorted.toArray))
  }

  /** [[ivfAssignments]] through the two-level quantizer — same output
    * schema (id, vec, cell), ~O(√nlist) centroid dots per vector
    * instead of nlist. `wprobe == ngroups` is EXACTLY flat assignment
    * (spec-pinned); small wprobe is the IVF approximation. Map-only:
    * the grouped quantizer rides the closure, never a join.
    */
  def ivfAssignmentsTwoLevel(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      superCents: Array[Array[Double]], members: Array[Array[Int]],
      wprobe: Int = 1): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      coalesce(
        exprCol(graft.expressions.NearestCellTwoLevel(colExpr(col(vecCol)),
          superCents, members, centroids, wprobe)),
        lit(-1)).as("cell"))
}
