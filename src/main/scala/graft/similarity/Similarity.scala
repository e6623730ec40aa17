package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, mirroring a production ANN stack:
  *  - `bruteForceTopK` — exact cosine top-k for a SMALL query set against
  *    the full corpus.
  *  - `lshTopK` — random-hyperplane LSH: each vector gets a J-bit bucket
  *    signature (sign of J fixed pseudo-random projections); queries only
  *    compare against corpus vectors in the SAME bucket, dropping
  *    corpus-side work from O(|Q|·N) to O(collisions). The hyperplanes
  *    are deterministic integer grids so the DuckDB oracle reproduces
  *    buckets exactly (production would use seeded gaussians).
  *
  * Execution shape: all vector math is ROW-SHAPED — embeddings are
  * posexploded to (id, pos, x) and dot products / projections become
  * plain join + sum aggregations (matrix-multiply-as-join). Higher-order
  * array lambdas (`aggregate`, `zip_with`) are interpreted, not
  * codegen'd, and cost ~2x+ on the scoring hot path; the row shape keeps
  * everything inside WholeStageCodegen and scales out by partitioning on
  * the id/bucket keys. Norms are computed once per vector, never per
  * pair. At 100 TB the same shape becomes IVF with stored norm + bucket
  * columns. The exception is the query side of a PQ / IVF-PQ search:
  * its LUT, probes and norms are at most |Q|·m·codes rows, so they are
  * computed on the driver from the collected batch and the model tables
  * and join the distributed corpus side as broadcast local relations
  * (no aggregation or shuffle; each broadcast is one small job over its
  * rows) — a persisted IVF-PQ search of 8 local queries runs 9 jobs
  * (spec-pinned).
  *
  * Candidate-pair scoring (LSH/IVF) uses the NATIVE dot-product
  * expression (graft.functions.VectorMath): a codegen'd sequential fold,
  * bit-identical to the oracle's `list_reduce` order. The remaining
  * accepted trade-off is the brute-force matmul path and the
  * bucket/centroid aggregations, whose groupBy sums are
  * partition-order-dependent floating point vs the oracle's sequential
  * fold; scores are rounded to 4 dp so divergence needs a knife-edge
  * value — vanishingly unlikely, not impossible. A flaky similarity_*
  * hash mismatch should look there first.
  */
object Similarity {

  /** Number of hyperplanes = signature bits. */
  val Planes = 8

  /** Cast a float embedding to double (exact widening). */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** Symmetric per-vector int8 quantization — the 4× memory/bandwidth
    * compression step before large-scale ANN serving or embedding-table
    * shipping: `scale = max|x|/127`, `q = clamp(round(x/scale), ±127)`.
    * Pure map-side higher-order expressions (one pass, no shuffle, no
    * UDF). All arithmetic runs in DOUBLE with an explicit
    * `floor(v + 0.5)` round, so the quantized codes are bit-identical
    * across engines (a native round() would tie-break differently).
    * Zero vectors quantize to zeros with scale 0.
    */
  def quantizeInt8(vectors: DataFrame, embCol: String = "embedding"): DataFrame = {
    val withScale = vectors.withColumn("scale",
      array_max(transform(col(embCol), x => abs(x.cast("double")))) / lit(127.0))
    // every non-embedding column passes through untouched — the op is a
    // column rewrite, not a projection onto one fixture's schema
    val passthrough = vectors.columns.filterNot(_ == embCol).map(col).toSeq
    withScale.select(
      passthrough :+ col("scale") :+
        transform(col(embCol), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(greatest(lit(-127.0),
              least(lit(127.0), floor(x.cast("double") / col("scale") + lit(0.5)))))
            .cast("tinyint")).as("q"): _*)
  }

  /** Sign-bit (binary) quantization — 1 bit per dimension, the 32×
    * compression step past int8: bit (i − 32w) of word w is set iff
    * `x_i > 0`, 32 dimensions per long word (a 64-dim float32 embedding
    * compresses 256 bytes → 8). Each word folds hi→lo as `acc·2 + bit` —
    * exact integer arithmetic with no shift builtins and no float pow,
    * so any engine replicates the words bit-identically. Pure map-side
    * (one pass, no shuffle, no UDF); all non-embedding columns pass
    * through. At serving scale the signature table is what ships: a
    * billion 64-dim vectors fit in 8 GB, and candidate generation
    * becomes XOR+popcount over longs instead of float dot products.
    */
  def quantizeSign(vectors: DataFrame, dims: Int, embCol: String = "embedding"): DataFrame = {
    require(dims > 0, "quantizeSign needs the embedding dimensionality")
    val nWords = (dims + 31) / 32
    val passthrough = vectors.columns.filterNot(_ == embCol).map(col).toSeq
    val words = (0 until nWords).map { w =>
      val lo = w * 32
      val hi = math.min(dims, lo + 32) - 1
      aggregate(
        sequence(lit(hi), lit(lo), lit(-1)),
        lit(0L),
        (acc, i) => acc * lit(2L) +
          when(element_at(col(embCol), (i + lit(1)).cast("int")).cast("double") > 0.0, lit(1L))
            .otherwise(lit(0L)))
    }
    vectors.select(passthrough :+ array(words: _*).as("sig"): _*)
  }

  /** Hamming distance between two packed sign signatures: per-word
    * XOR + popcount, summed — integer-only, codegen'd builtins.
    */
  private def hammingDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, d) => acc + d)

  /** ANN top-k over sign signatures: both sides quantize to packed
    * bits, the |Q|-row query side broadcasts, the corpus streams ONCE
    * scoring XOR+popcount per candidate — the memory-bandwidth-bound
    * shape that scans a billion signatures where float cosine cannot.
    * Ranking is (hamming asc, vec_id asc): fully deterministic, and at
    * 1-bit resolution ties are common — the id tiebreak makes the cut
    * reproducible cross-engine. Production reranks the top-k with the
    * exact float vectors; that composition is [[bruteForceTopK]] over
    * the returned candidate ids.
    */
  def signHammingTopK(
      queries: DataFrame, corpus: DataFrame, dims: Int, k: Int,
      maxQueries: Long = 100000L): DataFrame = {
    val q = quantizeSign(queries, dims)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    // the shape's standing assumption, enforced: the QUERY side
    // broadcasts whole (each executor holds |Q| signatures while the
    // corpus streams past once). Correct and fast for bounded query
    // sets; passing the corpus as queries would OOM every executor —
    // fail actionably instead. 100k queries × 8-byte sigs ≈ 1 MB
    // broadcast, far under any executor budget; the count() probe is
    // one cheap job on the small-by-contract side.
    val nQ = q.count()
    require(nQ <= maxQueries,
      s"signHammingTopK broadcasts the query side: got $nQ query vectors " +
        s"(bound $maxQueries). For corpus-scale query sets, batch the " +
        "queries or use lshTopK (bucket equi-join, no broadcast of the " +
        "full query side).")
    val c = quantizeSign(corpus, dims).select(col("vec_id"), col("sig"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        hammingDist(col("qsig"), col("sig")).as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "hamming", "rank")
  }

  /** `embedding_audit`: pre-index data-quality audit of an embedding
    * column — the vector counterpart of the text quality gates. Per
    * group: vector count, wrong-dimensionality count, NaN-poisoned
    * count, exact-zero count (unembeddable inputs a cosine index would
    * divide by), and the L2-norm min/avg/max (norm collapse or blowup =
    * a broken encoder batch). One map-side HOF pass + one hash
    * aggregation — linear, no shuffle of vectors, NaN vectors excluded
    * from the norm stats so one poison row cannot mask the
    * distribution.
    */
  def embeddingAudit(vectors: DataFrame, dims: Int,
      embCol: String = "embedding", groupCol: String = "label"): DataFrame = {
    val x = col(embCol)
    val feats = vectors.select(col(groupCol),
      size(x).as("len"),
      aggregate(x, lit(0.0),
        (a, v) => a + v.cast("double") * v.cast("double")).as("sq"),
      aggregate(x, lit(0),
        (a, v) => a + when(v.isNaN, 1).otherwise(0)).as("nan"))
    feats.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("len") =!= dims, 1L).otherwise(0L)).as("n_badlen"),
        sum(when(col("nan") > 0, 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("sq") === 0.0 && col("nan") === 0, 1L).otherwise(0L)).as("n_zero"),
        round(min(when(col("nan") === 0, sqrt(col("sq")))), 4).as("nrm_min"),
        round(avg(when(col("nan") === 0, sqrt(col("sq")))), 4).as("nrm_avg"),
        round(max(when(col("nan") === 0, sqrt(col("sq")))), 4).as("nrm_max"))
  }

  /** Two-stage binary ANN (the production serving shape): stage 1 scans
    * the packed sign bits for `candidates` Hamming neighbors per query
    * (8 bytes/vector, XOR+popcount); stage 2 reranks ONLY those
    * candidates with the exact float cosine. Recall comes from the
    * candidate width, precision from the rerank — and the float work is
    * bounded to candidates·|Q| pairs instead of N·|Q|, so the corpus
    * never streams at full float width.
    */
  def signHammingRerank(queries: DataFrame, corpus: DataFrame, dims: Int,
      candidates: Int, k: Int): DataFrame = {
    require(candidates >= k, "rerank needs at least k candidates")
    val cand = signHammingTopK(queries, corpus, dims, candidates)
      .select(col("query_id"), col("vec_id"))
    rankWindow(scoreCandidates(cand, queries, corpus), k)
  }

  /** (id, pos, x) row view of an embedding column. */
  private def exploded(df: DataFrame, idCol: String, asId: String): DataFrame =
    df.select(col(idCol).as(asId), posexplode(asDouble(col("embedding"))))
      .toDF(asId, "pos", "x")

  /** Per-vector Euclidean norm (one pass, row-shaped). */
  private def norms(e: DataFrame, idCol: String): DataFrame =
    e.groupBy(col(idCol)).agg(sqrt(sum(col("x") * col("x"))).as("nrm"))

  /** Deterministic integer hyperplane weight for plane j at 0-based pos. */
  private def weight(j: Int): Column =
    (lit(j * 31) + col("pos") * 17) % 7 - 3

  /** Per-vector LSH bucket: J sign bits packed into a long, all J
    * projections computed in ONE aggregation pass over the row view.
    */
  private def buckets(e: DataFrame, idCol: String): DataFrame = {
    val projections = (0 until Planes).map(j =>
      sum(col("x") * weight(j).cast("double")).as(s"p$j"))
    val packed = (0 until Planes).map(j =>
      when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    e.groupBy(col(idCol)).agg(projections.head, projections.tail: _*)
      .select(col(idCol), packed.as("bucket"))
  }

  /** Rank scored pairs: (cos desc, vec_id asc), top k per query. */
  private def rankWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** All-pairs scored rows (query_id, vec_id, cos): the shared cosine
    * contract of both ranking variants — corpus streams once, the
    * (64 x |Q|)-row query side is broadcast, norms join once per vector.
    */
  private def scoredPairs(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val qe = exploded(queries, "vec_id", "query_id")
    val ce = exploded(corpus, "vec_id", "vec_id")
    val dots = ce.join(broadcast(qe.toDF("query_id", "pos", "qx")), Seq("pos"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("x") * col("qx")).as("dot"))
    dots
      .join(broadcast(norms(qe, "query_id").select(col("query_id"), col("nrm").as("qnrm"))), "query_id")
      .join(norms(ce, "vec_id").select(col("vec_id"), col("nrm").as("cnrm")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        (round(col("dot") / (col("qnrm") * col("cnrm")), 4) + lit(0.0)).as("cos"))
  }

  /** Exact cosine top-k via window ranking. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankWindow(scoredPairs(queries, corpus), k)

  /** Per-vector (id, array, norm) view for native-expression scoring of
    * CANDIDATE pairs: once a candidate set is bounded (bucket or cell
    * collisions), joining whole arrays and scoring with the codegen'd
    * dot product moves pairs — not pair*dims rows — through the join
    * (measured ~6x over the positional row shape at 64 dims; the gap
    * grows with dimensionality).
    */
  private def vectors(df: DataFrame, idCol: String, asId: String): DataFrame =
    df.select(col(idCol).as(asId), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorMath.l2Norm(col("v")))

  /** Score candidate (query_id, vec_id) pairs with the native dot. */
  private def scoreCandidates(
      candidates: DataFrame, queries: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.functions.VectorMath
    val qv = vectors(queries, "vec_id", "query_id")
      .toDF("query_id", "qv", "qnrm")
    val cv = vectors(corpus, "vec_id", "vec_id")
    candidates
      .join(cv, "vec_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("vec_id"),
        (round(VectorMath.dotProduct(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 4) + lit(0.0)).as("cos"))
  }

  /** ANN top-k: compare only within matching LSH buckets. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val qe = exploded(queries, "vec_id", "query_id")
    val ce = exploded(corpus, "vec_id", "vec_id")
    val candidates = buckets(ce, "vec_id")
      .join(broadcast(buckets(qe, "query_id")
        .withColumnRenamed("bucket", "qbucket")), col("bucket") === col("qbucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    rankWindow(scoreCandidates(candidates, queries, corpus), k)
  }

  /** `similarity_hard_negatives`: negative mining for contrastive /
    * embedding training — for each query vector, the top-k most similar
    * corpus vectors with a DIFFERENT label (same-label neighbors are
    * the positive set; the valuable negatives are the ones the current
    * embedding space confuses with it — "hard" negatives, the standard
    * curriculum for retrieval/embedding training). Candidates are the
    * LSH bucket collisions (bounded, never all-pairs), labels join
    * map-side before scoring so excluded pairs are never scored, and
    * the ranking is the shared top-k window.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, labelCol: String, k: Int): DataFrame = {
    val qe = exploded(queries, "vec_id", "query_id")
    val ce = exploded(corpus, "vec_id", "vec_id")
    val qLabels = queries.select(col("vec_id").as("query_id"),
      col(labelCol).as("qlabel"))
    val cLabels = corpus.select(col("vec_id"), col(labelCol).as("clabel"))
    val candidates = buckets(ce, "vec_id")
      .join(broadcast(buckets(qe, "query_id")
        .withColumnRenamed("bucket", "qbucket")), col("bucket") === col("qbucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(cLabels, "vec_id")
      .join(broadcast(qLabels), "query_id")
      .filter(col("clabel") =!= col("qlabel"))
      .select("query_id", "vec_id")
    rankWindow(scoreCandidates(candidates, queries, corpus), k)
  }

  /** `embedding_project_rp`: sparse random projection (Achlioptas 2003,
    * "Database-friendly random projections") — the Johnson-Lindenstrauss
    * dimension reducer that needs no training at all: weights
    * w(pos, j) ∈ {+1, −1, 0, 0, 0, 0} (prob 1/6, 1/6, 2/3) derive from an
    * md5 hash of (position, output dim), scaled by sqrt(3/k). The cheap
    * first stage before clustering/ANN when 64 dims is already too many
    * times 10^11 vectors: distance-preserving in expectation, zero model
    * state, any executor reproduces any weight on demand (nothing is
    * broadcast, trained, or stored).
    *
    * Scale: a pure map-side select — the {+1,−1,0} weight matrix
    * materializes once driver-side and rides as literal arrays into a
    * native codegen dot product per output dim; no explode, no groupBy,
    * no shuffle, no per-row hashing (see the r16 note below).
    */
  def randomProject(emb: DataFrame, outDims: Int = 16, dims: Int = 64): DataFrame = {
    require(outDims > 0 && dims > 0, "outDims and dims must be positive")
    val scale = rpScale(outDims)
    // the {+1,-1,0} weight matrix depends only on (pos, j) — outDims×dims
    // constants. The r15 formulation re-derived each weight PER DATA ROW
    // (an md5 per element per output dim — 1024 digests per vector) and
    // paid an explode + groupBy shuffle to sum; the matrix now
    // materializes ONCE driver-side (same md5 draw, bit-identical to the
    // oracle's) and rides as literal arrays into the native codegen dot
    // product: one map-side pass, no shuffle, no per-row hashing. The
    // fold order is unchanged — dotProduct is the sequential
    // left-to-right sum the row-view aggregation accumulated in pos
    // order, and the oracle's list_reduce replays.
    def w(pos: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$pos:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 6 match {
        case 0 => 1.0
        case 1 => -1.0
        case _ => 0.0
      }
    }
    val v = asDouble(col("embedding"))
    val projections = (0 until outDims).map { j =>
      // sliced to the vector's own length: weights are per-position, so
      // shorter vectors see exactly the prefix they used to hash
      // row-by-row (vectors wider than `dims` dot to NULL — loud, not
      // silently truncated)
      val wj = slice(lit((0 until dims).map(p => w(p, j)).toArray),
        lit(1), size(v))
      // `+ 0.0` normalizes IEEE negative zero: a negative sum rounding to
      // zero must hash identically across engines (DuckDB's round()
      // preserves the sign; Spark's BigDecimal round() does not).
      (round(graft.functions.VectorMath.dotProduct(v, wj) * lit(scale), 4) + lit(0.0))
        .as(s"p$j")
    }
    emb.select(col("vec_id") +: projections: _*)
  }

  /** The [[randomProject]] scale factor, shared with the oracle SQL so
    * both engines multiply by the bit-identical double literal.
    */
  def rpScale(outDims: Int): Double = math.sqrt(3.0 / outDims)

  /** `similarity_range`: RADIUS search — every corpus vector within a
    * cosine threshold of each query (the "find everything this similar"
    * shape dedup and retrieval-augmentation both need, where top-k's
    * fixed k either truncates dense neighborhoods or pads sparse ones).
    * Candidates from the hyperplane-LSH bucket equi-join, exact cosine
    * verify on the bounded candidate set — identical recall contract to
    * [[lshTopK]], no ranking stage at all (no window, no global sort):
    * the filter is embarrassingly parallel after the bucket join.
    */
  def lshRange(queries: DataFrame, corpus: DataFrame, minCos: Double): DataFrame = {
    val qe = exploded(queries, "vec_id", "query_id")
    val ce = exploded(corpus, "vec_id", "vec_id")
    val candidates = buckets(ce, "vec_id")
      .join(broadcast(buckets(qe, "query_id")
        .withColumnRenamed("bucket", "qbucket")), col("bucket") === col("qbucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    scoreCandidates(candidates, queries, corpus)
      .filter(col("cos") >= minCos)
  }

  /** Per-dimension centroid view (cell, pos, c) of a corpus, using a
    * label column as the trained coarse quantizer's cells.
    */
  private def centroidRows(corpus: DataFrame, cellCol: String): DataFrame =
    corpus.select(col(cellCol).as("cell"),
        posexplode(asDouble(col("embedding")))).toDF("cell", "pos", "cx")
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("cx")).as("c"))

  /** Nearest-cell assignment by squared L2 distance: the `nProbe`
    * closest cells of ||v||^2 - 2 v.c + ||c||^2, computed as one join +
    * aggregation with a deterministic (distance, cell) tie-break.
    * Returns (id, cell), `nProbe` rows per id.
    */
  private def assignCells(
      e: DataFrame, idCol: String, cents: DataFrame, nProbe: Int = 1): DataFrame = {
    val cnorm2 = cents.groupBy(col("cell")).agg(sum(col("c") * col("c")).as("cn2"))
    val vnorm2 = e.groupBy(col(idCol)).agg(sum(col("x") * col("x")).as("vn2"))
    val dots = e.join(broadcast(cents), Seq("pos"))
      .groupBy(col(idCol), col("cell"))
      .agg(sum(col("x") * col("c")).as("vc"))
    dots.join(broadcast(cnorm2), "cell").join(vnorm2, idCol)
      .withColumn("d2", round(col("vn2") - lit(2.0) * col("vc") + col("cn2"), 6))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("d2").asc, col("cell").asc)))
      .filter(col("_rn") <= nProbe)
      .select(col(idCol), col("cell"))
  }

  /** `similarity_ivf`: IVF-style ANN — a coarse quantizer (here the
    * per-label centroids) partitions the corpus into cells; each query
    * probes its `nprobe` nearest cells. Candidate volume is
    * ~nprobe * N/cells; the cell assignment is itself one scan + one
    * broadcast join (centroids are tiny). The LSH variant buckets by
    * random projections; IVF buckets by learned structure — both exist
    * because real pipelines need both.
    *
    * `nprobe` is THE recall/cost dial of an IVF index: corpus vectors
    * live in exactly one cell, so a query probing p distinct cells meets
    * each corpus vector at most once (no dedup needed), recall is
    * monotonically non-decreasing in p (candidate sets are nested), and
    * at p = |cells| the candidates are the full corpus — exact
    * brute-force recall. Tune it against [[recallAtK]] measurements.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, cellCol: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    val cents = centroidRows(corpus, cellCol)
    val qe = exploded(queries, "vec_id", "query_id")
    val ce = exploded(corpus, "vec_id", "vec_id")
    val corpusCells = assignCells(ce, "vec_id", cents)
    val queryCells = assignCells(qe, "query_id", cents, nprobe)
    val candidates = corpusCells.join(broadcast(queryCells), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id")
    rankWindow(scoreCandidates(candidates, queries, corpus), k)
  }

  /** `embedding_kmeans`: distributed Lloyd iterations — TRAINING for
    * the IVF coarse quantizer (ivfTopK consumes label cells today; this
    * learns cells from the data instead). Deterministic init: cell =
    * vec_id mod k (hash-free, oracle-reproducible); each iteration is
    * M-step (per-(cell, pos) mean over the row-shaped view — map-side
    * partial aggregation, the shuffle carries k·dims partials per
    * partition, never vectors) then E-step (argmin reassignment via
    * [[assignCells]]: centroids are a k·dims broadcast, corpus streams).
    * Returns the final M-step's centroids in the LONG (cell, pos, c)
    * shape, rounded like [[centroids]].
    *
    * Per-round `localCheckpoint` on the (vec_id, cell) assignment cuts
    * the growing plan (same discipline as connectedComponents) and pins
    * each round's result before the next builds on it. SSE is
    * non-increasing per Lloyd's guarantee — spec-checked.
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = exploded(corpus, "vec_id", "vec_id")
    e.join(kmeansAssign(corpus, k, iters), "vec_id")
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("c"))
      .select(col("cell"), col("pos"), (round(col("c"), 6) + lit(0.0)).as("c"))
  }

  /** Final (vec_id, cell) assignment of [[kmeans]] — what you attach to
    * the corpus to INDEX it with the trained quantizer (see
    * `similarity_ivf_trained`).
    *
    * Routed through a plan-keyed cache ([[graft.util.KeyedCache]]): the
    * quantizer is trained ONCE per (corpus, k, iters) per driver run and
    * every consumer — `embedding_kmeans`'s centroids,
    * `similarity_ivf_trained`'s index, semantic dedup's blocking cells —
    * reads the same persisted (vec_id, cell) table. Train-once /
    * consume-many is the production shape; without the cache each
    * operator would re-run all Lloyd iterations over the full corpus.
    */
  def kmeansAssign(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val cached = assignCache.getOrBuild(corpus, s"kmeans_assign:$iters", k) {
      lloydRuns.incrementAndGet(): Unit
      lloyd(corpus, exploded(corpus, "vec_id", "vec_id"), k, iters)
    }
    // fresh output attributes per consumer: the cached plan ends in a
    // checkpointed LogicalRDD whose attribute ids are shared with the
    // corpus plan it derived from, and joining it back against that
    // plan without re-aliasing can trip the analyzer's
    // conflicting-reference INTERNAL_ERROR (LogicalRDD self-conflicts
    // aren't always deduplicated)
    cached.select(col("vec_id").as("vec_id"), col("cell").as("cell"))
  }

  // persistEntries = false: lloyd's result already ends in a
  // localCheckpoint (materialized), so persisting would only add the
  // plan-fragment rebinding hazard documented on KeyedCache
  private val assignCache = new graft.util.KeyedCache(persistEntries = false)

  /** Count of actual Lloyd training runs (cache misses) — test
    * observability for the train-once/consume-many contract.
    */
  private[graft] val lloydRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drop cached trained assignments (see [[graft.dedup.Dedup.clearCaches]]). */
  def clearCaches(): Unit = assignCache.clear()

  /** `similarity_pq`: product-quantized ANN (Jégou, Douze, Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
    * 33(1)) — the memory-compression tier of an ANN stack: each vector
    * is stored as `m` small codes (one byte each at `codes` ≤ 256)
    * instead of `dims` floats, a 32×+ compression that is what makes a
    * 10^11-vector index fit a cluster's RAM at all.
    *
    *  1. TRAIN: the vector space is split into `m` subspaces of
    *     `dims / m` dimensions; each subspace gets its own tiny Lloyd
    *     codebook (`codes` centroids) via the cached [[kmeansAssign]]
    *     path — one training per (corpus, subspace) per driver run.
    *  2. ENCODE: every corpus vector → (sub, code) per subspace: the
    *     PQ code table, m integers per vector. O(N) rows, never
    *     vectors, through the shuffle.
    *  3. SEARCH (ADC — asymmetric distance computation): per query,
    *     a lookup table of partial dots against every (sub, code)
    *     centroid — |Q|·m·codes rows, computed on the driver with the
    *     query norms (the collected codebook is m·codes·dims/m doubles)
    *     and broadcast as a local relation — then each corpus vector's
    *     approximate dot is the sum of its m table entries: the scoring
    *     join moves only code rows, no vector math per pair. Scores are
    *     normalized by the EXACT stored norms (one scan, kept once per
    *     vector in production) and ranked like every other similarity
    *     operator. Collecting the codebook runs its training when the
    *     search is built, not at the first action (cached, so once).
    *
    * Partial dots and their sums are rounded (6 dp) before the final
    * 4 dp cosine so the DuckDB oracle — which replicates the per-
    * subspace Lloyd chains, codebooks, LUT and ADC exactly — hash-
    * matches across engines.
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int, codes: Int, iters: Int, dims: Int): DataFrame = {
    val (corpusCodes, codebook, cnorms) = pqArtifacts(corpus, m, codes, iters, dims)
    pqSearch(queries, corpusCodes, codebook, cnorms, k, dims / m)
  }

  /** The three artifacts a PQ index consists of, as frames:
    *  - code table (vec_id, sub, code) — m small ints per vector,
    *  - rounded trained codebooks (sub, code, spos, c) — m·codes·subdim
    *    rows, tiny,
    *  - exact corpus norms (vec_id, cnrm) — one double per vector.
    * Together they are everything ADC search needs; the raw vectors are
    * NOT among them (that is the whole point of PQ).
    */
  private def pqArtifacts(
      corpus: DataFrame, m: Int, codes: Int, iters: Int, dims: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(m > 0 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    // the m subspace trainings must fit the keyed cache simultaneously:
    // an eviction mid-build would release checkpoint blocks the final
    // search plan still references (executes lazily, after training)
    require(m < graft.util.KeyedCache.CacheSlots,
      s"m=$m subspace trainings exceed the KeyedCache working-set bound " +
        s"(${graft.util.KeyedCache.CacheSlots} slots)")
    val sub = dims / m
    def subspace(df: DataFrame, s: Int): DataFrame =
      df.select(col("vec_id"), slice(col("embedding"), s * sub + 1, sub).as("embedding"))
    // (vec_id, sub, code): the PQ code table — m trainings, all cached
    val corpusCodes = (0 until m).map { s =>
      kmeansAssign(subspace(corpus, s), codes, iters)
        .select(col("vec_id"), lit(s).as("sub"), col("cell").as("code"))
    }.reduce(_ unionByName _)
    // (sub, code, spos, c): the rounded trained codebooks
    val codebook = (0 until m).map { s =>
      kmeans(subspace(corpus, s), codes, iters)
        .select(lit(s).as("sub"), col("cell").as("code"),
          col("pos").as("spos"), col("c"))
    }.reduce(_ unionByName _)
    val ce = exploded(corpus, "vec_id", "vec_id")
    val cnorms = norms(ce, "vec_id").select(col("vec_id"), col("nrm").as("cnrm"))
    (corpusCodes, codebook, cnorms)
  }

  /** ADC search against PQ artifacts (built inline or loaded from a
    * persisted index): the driver-built [[querySide]] (LUT, query
    * norms), then the corpus side — approximate dots by summing each
    * code row's LUT entry, exact-norm cosine, rank.
    */
  private def pqSearch(
      queries: DataFrame, corpusCodes: DataFrame, codebook: DataFrame,
      cnorms: DataFrame, k: Int, subDim: Int): DataFrame = {
    val qs = querySide(queries, codebook, None, 0, subDim)
    val adots = corpusCodes.join(broadcast(qs.lut), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pdot")), 6).as("adot"))
    rankWindow(cosines(adots, qs.qnorms, cnorms), k)
  }

  /** Exact-norm cosine of approximate dots (query_id, vec_id, adot). */
  private def cosines(adots: DataFrame, qnorms: DataFrame, cnorms: DataFrame): DataFrame =
    adots.join(broadcast(qnorms), "query_id")
      .join(cnorms, "vec_id")
      .select(col("query_id"), col("vec_id"),
        (round(col("adot") / (col("qnrm") * col("cnrm")), 4) + lit(0.0)).as("cos"))

  /** The query side of an ADC search, as local relations (no aggregation
    * or shuffle builds them; broadcasting one is a small job over its rows):
    *  - `lut` (query_id, sub, code, pdot): each query's rounded partial
    *    dot against every codebook entry of its subspace,
    *  - `qnorms` (query_id, qnrm): each query's exact norm,
    *  - `probes` (query_id, cell, cdot), IVF-PQ only: the `nprobe`
    *    coarse cells nearest each query by rounded squared L2 distance
    *    (ties to the lower cell, the [[assignCells]] metric), with the
    *    rounded query-cell dot.
    *
    * Built on the driver from one collect of the query batch and one of
    * the model tables (the coarse centroids as `sub` -1 beside the
    * codebook). Every sum folds in posexplode order, as the streamed
    * side of a broadcast join feeds a hash aggregate, except a
    * centroid's squared norm, which folds in `pos` order; `round` is
    * Spark's (HALF_UP on the double's decimal form). The rows come from
    * the exploded (query_id, pos, x) view, not one row per query, so
    * two rows under one id, a null embedding or element and a short
    * vector give the rows the aggregations gave; a null query id meets
    * nothing and is dropped.
    *
    * Driver cost: the model is bounded by the index settings
    * (nCells·dims + codes·dims doubles), and the |Q|·m·codes LUT rows,
    * probes and norms are broadcast whole to every executor anyway, so
    * holding them and the batch on the driver adds no new size bound.
    */
  private final case class QuerySide(lut: DataFrame, qnorms: DataFrame, probes: DataFrame)

  private def querySide(
      queries: DataFrame, codebook: DataFrame, coarse: Option[DataFrame],
      nprobe: Int, subDim: Int): QuerySide = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    type D = java.lang.Double // a SQL double: null when absent

    /** Spark's `sum` of products: null until a non-null term arrives. */
    final class Sum {
      private var seen = false
      private var v = 0.0
      def add(a: D, b: D): Unit = if (a != null && b != null) { v += a * b; seen = true }
      def value: D = if (seen) v else null
    }
    def round6(x: D): D =
      if (x == null || x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def dbl(r: Row, i: Int): D = if (r.isNullAt(i)) null else r.getDouble(i)
    // ascending, nulls first, NaN above every number (Spark's sort order)
    def before(a: D, b: D): Int =
      if (a == null) (if (b == null) 0 else -1)
      else if (b == null) 1
      else if (a.doubleValue == b.doubleValue) 0
      else java.lang.Double.compare(a, b)

    val byQuery = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuffer[(Int, D)]]
    queries.select(col("vec_id"), asDouble(col("embedding"))).collect()
      .filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .foreach { r =>
        val rows = byQuery.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty)
        r.getSeq[D](1).iterator.zipWithIndex.foreach { case (x, pos) => rows += (pos -> x) }
      }
    val model = coarse.fold(codebook)(c =>
      c.select(lit(-1).as("sub"), col("cell").as("code"), col("pos").as("spos"), col("c"))
        .unionByName(codebook.select("sub", "code", "spos", "c")))
      .select("sub", "code", "spos", "c").collect()
    val (cents, book) = model.partition(_.getInt(0) < 0)
    val bookAt = book.groupBy(r => (r.getInt(0), r.getInt(2)))
      .view.mapValues(_.map(r => (r.getLong(1), dbl(r, 3)))).toMap
    val centAt = cents.groupBy(_.getInt(2)).view.mapValues(_.map(r => (r.getLong(1), dbl(r, 3)))).toMap
    val cn2 = cents.groupBy(_.getLong(1)).view.mapValues { rs =>
      val s = new Sum
      rs.sortBy(_.getInt(2)).foreach(r => s.add(dbl(r, 3), dbl(r, 3)))
      s.value
    }.toMap

    val lut, qnorms, probes = mutable.ArrayBuffer.empty[Row]
    byQuery.foreach { case (q, rows) =>
      val vn2 = new Sum
      rows.foreach { case (_, x) => vn2.add(x, x) }
      qnorms += Row(q, vn2.value match { case null => null; case v => math.sqrt(v) })
      val pdots = mutable.LinkedHashMap.empty[(Int, Long), Sum]
      rows.foreach { case (pos, x) =>
        bookAt.getOrElse((pos / subDim, pos % subDim), Array.empty[(Long, D)]).foreach {
          case (code, c) => pdots.getOrElseUpdate((pos / subDim, code), new Sum).add(x, c)
        }
      }
      pdots.foreach { case ((sub, code), pdot) => lut += Row(q, sub, code, round6(pdot.value)) }
      if (coarse.isDefined) {
        val vcs = mutable.LinkedHashMap.empty[Long, Sum]
        rows.foreach { case (pos, x) =>
          centAt.getOrElse(pos, Array.empty[(Long, D)]).foreach {
            case (cell, c) => vcs.getOrElseUpdate(cell, new Sum).add(x, c)
          }
        }
        vcs.toSeq.map { case (cell, vc) =>
          val (v, d, n) = (vn2.value, vc.value, cn2(cell))
          val d2: D = if (v == null || d == null || n == null) null else round6(v - 2.0 * d + n)
          (d2, cell, vc.value)
        }.sortWith { case ((da, ca, _), (db, cb, _)) =>
          val o = before(da, db)
          if (o != 0) o < 0 else ca < cb
        }.take(nprobe).foreach { case (_, cell, vc) => probes += Row(q, cell, round6(vc)) }
      }
    }
    val qid = queries.schema("vec_id").copy(name = "query_id")
    def local(rows: Seq[Row], fields: StructField*) =
      queries.sparkSession.createDataFrame(rows.asJava, StructType(qid +: fields))
    QuerySide(
      local(lut.toSeq, StructField("sub", IntegerType), StructField("code", LongType),
        StructField("pdot", DoubleType)),
      local(qnorms.toSeq, StructField("qnrm", DoubleType)),
      local(probes.toSeq, StructField("cell", LongType), StructField("cdot", DoubleType)))
  }

  /** `similarity_ivfpq`: IVF-PQ — the IVFADC structure of Jégou 2011 §IV
    * (what FAISS ships as `IndexIVFPQ`), composing the two index tiers
    * this engine already has: the coarse IVF quantizer bounds WHICH
    * vectors a query meets (~nprobe·N/cells candidates), and per-subspace
    * PQ codebooks over the RESIDUALS (vector minus its cell centroid)
    * bound WHAT moves per candidate (m byte codes, never vectors).
    * Residual encoding is why the combination beats flat PQ: within a
    * cell the residuals span a much smaller region than the raw space,
    * so the same 8-bit codebooks quantize far more precisely.
    *
    * Search decomposes the inner product exactly:
    * `q·v = q·c_cell + q·r_v ≈ q·c_cell + Σ_sub LUT[sub, code_v(sub)]`
    * — the coarse term comes free from the probing pass's cell dot, and
    * the LUT is the raw query against the residual codebooks (no
    * per-probed-cell query residuals needed for inner-product ADC).
    * The query side — LUT, the `nprobe` probes with their cell dots, the
    * query norms — is computed on the driver from the collected batch and
    * one collect of the coarse centroids and residual codebooks
    * (nCells·dims + codes·dims doubles), and broadcast as local
    * relations, which every executor holds whole anyway, so the driver
    * adds no new size bound. Scoring joins move (candidate, sub)
    * code rows + the broadcast LUT; norms are the exact stored ones, so
    * scores are comparable across cells. All trainings (coarse + m
    * subspace codebooks) go through the cached [[kmeansAssign]] path —
    * train once, serve many; the inline search runs them when it is
    * built (the model collect), not at the first action.
    *
    * Build cost note: the one-off residual materialization uses an
    * interpreted `zip_with` per vector (build path, one pass, O(N·dims))
    * — the search path stays code rows + broadcast joins only.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int, nprobe: Int, m: Int, codes: Int, iters: Int, dims: Int): DataFrame = {
    val (coarseCents, coarseAssign, residCodes, residCodebook, cnorms) =
      ivfPqArtifacts(corpus, nCells, m, codes, iters, dims)
    ivfPqSearch(queries, coarseCents, coarseAssign, residCodes, residCodebook,
      cnorms, k, nprobe, dims / m)
  }

  /** The five artifacts an IVF-PQ index consists of: rounded coarse
    * centroids (long shape, tiny), the corpus→cell assignment, residual
    * code table, residual codebooks, exact norms. Together they serve
    * searches without the raw vectors.
    */
  private def ivfPqArtifacts(
      corpus: DataFrame, nCells: Int, m: Int, codes: Int, iters: Int, dims: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // working set = 1 coarse + m subspace trainings, all referenced by
    // the (lazy) search plan — see the KeyedCache.CacheSlots contract
    require(m + 1 < graft.util.KeyedCache.CacheSlots,
      s"IVF-PQ needs ${m + 1} simultaneous cached trainings; raise " +
        s"KeyedCache.CacheSlots (${graft.util.KeyedCache.CacheSlots})")
    val coarseAssign = kmeansAssign(corpus, nCells, iters)
    val coarseCents = kmeans(corpus, nCells, iters) // (cell, pos, c), rounded
    val resid = residualCorpus(corpus, coarseAssign, coarseCents)
    val (residCodes, residCodebook, _) = pqArtifacts(resid, m, codes, iters, dims)
    val ce = exploded(corpus, "vec_id", "vec_id")
    val cnorms = norms(ce, "vec_id").select(col("vec_id"), col("nrm").as("cnrm"))
    (coarseCents, coarseAssign, residCodes, residCodebook, cnorms)
  }

  /** ADC search against IVF-PQ artifacts (built inline or loaded from a
    * persisted index): the driver-built [[querySide]] (LUT, probes,
    * query norms) meets the corpus side — the probed cells' assignment
    * rows, their residual codes and the stored norms — in one plan.
    */
  private def ivfPqSearch(
      queries: DataFrame, coarseCents: DataFrame, coarseAssign: DataFrame,
      residCodes: DataFrame, residCodebook: DataFrame, cnorms: DataFrame,
      k: Int, nprobe: Int, subDim: Int): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    val qs = querySide(queries, residCodebook, Some(coarseCents), nprobe, subDim)
    // a corpus vector lives in exactly ONE cell, so (query, vec) pairs are
    // unique here: candidate volume ~nprobe·N/cells, nested in nprobe
    val cand = coarseAssign.join(broadcast(qs.probes), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cdot"))
    val adots = cand.join(residCodes, "vec_id")
      .join(broadcast(qs.lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(first(col("cdot")) + sum(col("pdot")), 6).as("adot"))
    rankWindow(cosines(adots, qs.qnorms, cnorms), k)
  }

  /** Names of the five snapshot tables a persisted IVF-PQ index occupies
    * under its warehouse (namespace `ann`).
    */
  private val IvfPqTables =
    Seq("ivfpq_coarse", "ivfpq_assign", "ivfpq_codes", "ivfpq_codebook", "ivfpq_norms")

  /** Build an IVF-PQ index once and persist its five artifacts as
    * snapshot tables — same production contract as [[pqIndexPersist]]:
    * the index is trained by a build job and SERVED for months; searches
    * must never retrain. Codes and assignment are sorted within
    * partitions on their join keys for row-group stat skipping.
    */
  def ivfPqIndexPersist(
      corpus: DataFrame, warehouse: String,
      nCells: Int, m: Int, codes: Int, iters: Int, dims: Int): Unit = {
    val (coarseCents, coarseAssign, residCodes, residCodebook, cnorms) =
      ivfPqArtifacts(corpus, nCells, m, codes, iters, dims)
    import graft.sink.SnapshotTable
    SnapshotTable(warehouse, "ann", "ivfpq_coarse").overwrite(coarseCents)
    SnapshotTable(warehouse, "ann", "ivfpq_assign")
      .overwrite(coarseAssign, sortCols = Seq(col("cell").asc))
    SnapshotTable(warehouse, "ann", "ivfpq_codes")
      .overwrite(residCodes, sortCols = Seq(col("sub").asc, col("code").asc))
    SnapshotTable(warehouse, "ann", "ivfpq_codebook").overwrite(residCodebook)
    SnapshotTable(warehouse, "ann", "ivfpq_norms").overwrite(cnorms)
  }

  /** Incremental index maintenance (`similarity_ivfpq_incremental`):
    * fold a delta batch into a persisted IVF-PQ index with ZERO
    * training — the production steady state (FAISS `add` on a trained
    * `IndexIVFPQ`): indexes are trained rarely and ingest deltas daily.
    * The batch is coarse-assigned against the EXISTING rounded
    * centroids, residual-encoded against the EXISTING codebooks (both
    * pure assignment passes: one broadcast argmin each, O(batch) rows
    * moved), and the three per-vector artifact tables grow by one
    * O(batch) append commit each — the centroid/codebook tables are
    * untouched, and [[lloydRuns]] stays flat (spec-pinned).
    *
    * Assignment semantics match a full rebuild's SEARCH-time behavior
    * (nearest rounded centroid, round(d2, 6) + index-asc tie-break);
    * training-time assignments may differ at cell boundaries — the
    * usual ANN contract (recall, not bit-identity, is the metric), and
    * the registry oracle replicates THIS path exactly.
    */
  def ivfPqIndexAppend(
      newVectors: DataFrame, warehouse: String, m: Int, dims: Int): Unit = {
    require(m > 0 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    import graft.sink.SnapshotTable
    val spark = newVectors.sparkSession
    val subDim = dims / m
    val coarseCents = SnapshotTable(warehouse, "ann", "ivfpq_coarse").read(spark)
    val residCodebook = SnapshotTable(warehouse, "ann", "ivfpq_codebook").read(spark)
    val be = exploded(newVectors, "vec_id", "vec_id")
    // nearest EXISTING cell per batch vector — no training. Both O(batch)
    // intermediates are MATERIALIZED once (localCheckpoint): the m
    // subspace encodings and the three append commits all feed on them,
    // and recomputing the assignment chain per consumer would turn a
    // tiny delta fold into ~3m redundant argmin jobs of fixed overhead.
    val batchAssign = assignCells(be, "vec_id", coarseCents).localCheckpoint()
    // residuals vs the assigned (stored, rounded) centroids
    val resid = residualCorpus(newVectors, batchAssign, coarseCents).localCheckpoint()
    try {
      // PQ-encode residuals against the EXISTING per-subspace codebooks:
      // each codebook re-shaped to the (cell, pos, c) centroid form is an
      // assignment target like any other
      val batchCodes = (0 until m).map { s =>
        val subCents = residCodebook.filter(col("sub") === s)
          .select(col("code").as("cell"), col("spos").as("pos"), col("c"))
        val se = resid.select(col("vec_id"),
          slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
        assignCells(exploded(se, "vec_id", "vec_id"), "vec_id", subCents)
          .select(col("vec_id"), lit(s).as("sub"), col("cell").as("code"))
      }.reduce(_ unionByName _)
      val bnorms = norms(be, "vec_id").select(col("vec_id"), col("nrm").as("cnrm"))
      // three O(batch) append commits; coarse + codebook tables untouched
      SnapshotTable(warehouse, "ann", "ivfpq_assign")
        .append(batchAssign, sortCols = Seq(col("cell").asc)): Unit
      SnapshotTable(warehouse, "ann", "ivfpq_codes")
        .append(batchCodes, sortCols = Seq(col("sub").asc, col("code").asc)): Unit
      SnapshotTable(warehouse, "ann", "ivfpq_norms").append(bnorms): Unit
    } finally {
      // the checkpoint blocks are this invocation's working set — a
      // library must release them, not leak O(batch) per delta fold
      Seq(batchAssign, resid).foreach(_.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      })
    }
  }

  /** `similarity_ivfpq_persisted`: IVF-PQ search served entirely from a
    * persisted index — zero Lloyd training on the read path (spec-pinned
    * via [[lloydRuns]]); bit-identical to the inline build (the
    * artifacts are doubles/longs, parquet round-trips them exactly).
    */
  def ivfPqTopKPersisted(
      queries: DataFrame, warehouse: String, k: Int, nprobe: Int, m: Int,
      dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    import graft.sink.SnapshotTable
    val spark = queries.sparkSession
    val Seq(coarseCents, coarseAssign, residCodes, residCodebook, cnorms) =
      IvfPqTables.map(t => SnapshotTable(warehouse, "ann", t).read(spark))
    ivfPqSearch(queries, coarseCents, coarseAssign, residCodes, residCodebook,
      cnorms, k, nprobe, dims / m)
  }

  /** (vec_id, embedding) residuals: each vector minus its coarse-cell
    * centroid. Centroid arrays are reassembled from the long shape (tiny,
    * broadcast); the subtraction is one narrow pass over the corpus.
    */
  private def residualCorpus(
      corpus: DataFrame, assign: DataFrame, cents: DataFrame): DataFrame = {
    val cvecs = cents.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cell"), expr("transform(pc, p -> p.c)").as("cvec"))
    corpus.join(assign, "vec_id").join(broadcast(cvecs), "cell")
      .select(col("vec_id"),
        zip_with(asDouble(col("embedding")), col("cvec"), (x, c) => x - c).as("embedding"))
  }

  /** Names of the three snapshot tables a persisted PQ index occupies
    * under its warehouse (namespace `ann`).
    */
  private val PqTables = Seq("pq_codes", "pq_codebook", "pq_norms")

  /** Build a PQ index ONCE and persist its artifacts as snapshot tables
    * (`ann.pq_codes`, `ann.pq_codebook`, `ann.pq_norms`) — the
    * production shape: a 10^11-vector index is trained by a build job
    * and SERVED from storage for months; searches must never retrain.
    * The code table is sorted by (sub, code) within partitions so ADC's
    * (sub, code) join probes skip row groups via min/max stats.
    */
  def pqIndexPersist(
      corpus: DataFrame, warehouse: String,
      m: Int, codes: Int, iters: Int, dims: Int): Unit = {
    val (corpusCodes, codebook, cnorms) = pqArtifacts(corpus, m, codes, iters, dims)
    import graft.sink.SnapshotTable
    SnapshotTable(warehouse, "ann", "pq_codes")
      .overwrite(corpusCodes, sortCols = Seq(col("sub").asc, col("code").asc))
    SnapshotTable(warehouse, "ann", "pq_codebook").overwrite(codebook)
    SnapshotTable(warehouse, "ann", "pq_norms").overwrite(cnorms)
  }

  /** `similarity_pq_persisted`: ADC search served ENTIRELY from a
    * persisted index — loads the three artifact tables and runs the same
    * [[pqSearch]] as [[pqTopK]]; zero Lloyd training on the read path
    * (spec-pinned via [[lloydRuns]]). Results are bit-identical to the
    * inline build: the artifacts are doubles/longs, which parquet
    * round-trips exactly.
    */
  def pqTopKPersisted(
      queries: DataFrame, warehouse: String, k: Int, m: Int, dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims $dims must divide into m=$m subspaces")
    import graft.sink.SnapshotTable
    val spark = queries.sparkSession
    val Seq(corpusCodes, codebook, cnorms) =
      PqTables.map(t => SnapshotTable(warehouse, "ann", t).read(spark))
    pqSearch(queries, corpusCodes, codebook, cnorms, k, dims / m)
  }

  private def lloyd(corpus: DataFrame, e: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    var assign = corpus
      .select(col("vec_id"), pmod(col("vec_id"), lit(k.toLong)).as("cell"))
    for (_ <- 1 to iters) {
      val cents = e.join(assign, "vec_id")
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("c"))
      // re-alias after the checkpoint: the LogicalRDD's output attributes
      // are pass-throughs of e's own ids, and the next round's
      // e.join(assign) with shared ids on a checkpointed frame can trip
      // the analyzer's conflicting-reference INTERNAL_ERROR on some
      // resolution paths; fresh aliases make every round's join clean
      assign = assignCells(e, "vec_id", cents).localCheckpoint()
        .select(col("vec_id").as("vec_id"), col("cell").as("cell"))
    }
    assign
  }

  /** `embedding_centroids`: per-cell mean vectors in the LONG shape
    * (cell, pos, m) — the k-means E-step / mean-pooling building block.
    * Row-shaped: explode to (cell, pos, x), one (cell, pos) average;
    * vectors are never collected. The long shape is also the
    * driver-verifiable contract (scalar columns hash deterministically);
    * [[centroidVectors]] reassembles arrays for API consumers.
    */
  def centroids(corpus: DataFrame, cellCol: String): DataFrame =
    centroidRows(corpus, cellCol)
      .select(col("cell").as("label"), col("pos"),
        (round(col("c"), 6) + lit(0.0)).as("m"))

  /** Array-of-doubles view of [[centroids]]: one row per cell with the
    * mean vector assembled in position order plus its dimension count.
    */
  def centroidVectors(corpus: DataFrame, cellCol: String): DataFrame =
    centroids(corpus, cellCol)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .getField("m").as("centroid"),
        count(lit(1)).as("dims"))

  /** `embedding_drift`: per-label centroid drift between a BASELINE and
    * a CURRENT slice of a vector corpus — the embedding counterpart of
    * the tabular drift sensor (a re-trained or silently-changed encoder
    * shifts class centroids long before downstream task metrics react;
    * index assignments and ANN recall quietly degrade). Both sides
    * reduce to per-label mean vectors first — bounded |labels|×dims
    * rows — so the comparison joins CENTROIDS, never vectors; at 100 TB
    * the only full pass is the map-side mean. Cosine and L2 shift run
    * on the assembled arrays with the codegen sequential-fold
    * expressions, bit-identical to the oracle's list_reduce. Labels
    * present in only one slice drop (no centroid to compare).
    */
  def centroidDrift(
      base: DataFrame, cur: DataFrame,
      labelCol: String = "label", minCos: Double = 0.98): DataFrame = {
    import graft.functions.VectorMath
    val b = centroidVectors(base, labelCol)
      .select(col("label"), col("centroid").as("bv"))
    val c = centroidVectors(cur, labelCol)
      .select(col("label"), col("centroid").as("cv"))
    b.join(c, "label")
      .select(col("label"),
        (round(VectorMath.dotProduct(col("bv"), col("cv")) /
          (sqrt(VectorMath.sumSquares(col("bv"))) *
           sqrt(VectorMath.sumSquares(col("cv")))), 4) + lit(0.0)).as("cos"),
        round(sqrt(VectorMath.sumSquares(
          zip_with(col("bv"), col("cv"), (x, y) => x - y))), 6).as("l2_shift"))
      .withColumn("drifted", col("cos") < lit(minCos))
  }

  /** `similarity_recall`: per-query recall@k of an approximate (ANN)
    * top-k against the exact top-k — the evaluation loop every ANN
    * deployment needs before trusting an index (tune nprobe / planes /
    * cells against measured recall, not hope). Pure small-data math:
    * both inputs carry <= k rows per query, so the join and aggregate
    * shuffle O(|Q| * k) rows no matter the corpus size.
    */
  def recallAtK(approxTopK: DataFrame, exactTopK: DataFrame): DataFrame =
    exactTopK.select(col("query_id"), col("vec_id"))
      .join(approxTopK.select(col("query_id"), col("vec_id"), lit(1L).as("_hit")),
        Seq("query_id", "vec_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("hits"),
        count(lit(1)).as("truth_k"))
      .select(col("query_id"), col("hits"), col("truth_k"),
        round(col("hits").cast("double") / col("truth_k"), 6).as("recall"))

  /** Bucket signature surface for tests/inspection: (vec_id, bucket). */
  def bucketSignatures(corpus: DataFrame): DataFrame =
    buckets(exploded(corpus, "vec_id", "vec_id"), "vec_id")

  /** Brute-force top-k ranked by the bounded-heap aggregate instead of a
    * window: map-side partials already truncate to k, so the final
    * shuffle carries at most k entries per (partition, query) — the
    * formulation that survives a hot query against 10^9 corpus rows.
    * Same output (and oracle) as [[bruteForceTopK]].
    */
  def bruteForceTopKHeap(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = scoredPairs(queries, corpus)
    val spark = scored.sparkSession
    import spark.implicits._
    val topk = new graft.functions.TopKAggregator(k).toColumn
    scored.select(col("query_id"), col("vec_id"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col._1").as("vec_id"),
        col("col._2").as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }
}
