package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  // 4-dim toy corpus with known cosine structure
  lazy val corpus = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Seq(0.7f, 0.7f, 0.0f, 0.0f)),
    (5L, Seq(1.0f, 0.0f, 0.0f, 0.0f))) // exact copy of vec 0
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with deterministic tie-breaks") {
    val out = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus, k = 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(5L, 1L, 4L))
    assert(out.head.getAs[Double]("cos") > 0.99)
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("hard negatives: same-label neighbors never surface, ranks stay dense") {
    // vec 6 duplicates query 0's vector exactly (guaranteed bucket
    // collision even on the zero-projection planes of this toy corpus)
    // but carries a DIFFERENT label — the textbook hard negative: a
    // cross-class collision the embedding space cannot separate at
    // all. Vecs 1 and 5 are equally close but share the query's label
    // (positives): they must never surface, no matter how similar.
    val labeled = corpus
      .unionByName(Seq((6L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"))
      .withColumn("label",
        when($"vec_id".isin(0L, 1L, 5L), "a")
          .when($"vec_id".isin(2L, 4L, 6L), "b").otherwise("c"))
    val out = Similarity.hardNegatives(
        labeled.filter($"vec_id" === 0), labeled, "label", k = 3)
      .orderBy($"rank").collect()
    assert(out.nonEmpty, "the collinear cross-label vector must be a candidate")
    assert(!out.exists(r => Seq(0L, 1L, 5L).contains(r.getAs[Long]("vec_id"))),
      s"same-label (positive-set) vectors must never mine as negatives: ${out.toSeq}")
    assert(out.head.getAs[Long]("vec_id") == 6L,
      s"the hardest cross-label negative (vec 6, cos~1) must rank first: ${out.toSeq}")
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to out.length).toSeq)
  }

  test("self-matches are excluded") {
    val out = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus, k = 10)
    assert(!out.collect().exists(_.getAs[Long]("vec_id") == 0L))
  }

  test("LSH results are a subset of brute-force candidates with equal scores") {
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus, 10)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val lsh = Similarity.lshTopK(corpus.filter($"vec_id" === 0), corpus, k = 10)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos"))
    assert(lsh.exists(_._1 == 5L)) // the identical vector shares every bucket bit
    lsh.foreach { case (id, cos) => assert(brute(id) == cos) }
    // opposite vector never shares all 8 sign bits
    assert(!lsh.exists(_._1 == 3L))
  }

  test("range search returns exactly the bucket-mates above the threshold") {
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus, 10)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val lshAll = Similarity.lshTopK(corpus.filter($"vec_id" === 0), corpus, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val range = Similarity.lshRange(corpus.filter($"vec_id" === 0), corpus, minCos = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    // = candidates (bucket-mates) whose exact cosine clears the threshold;
    // scores identical to brute force, no below-threshold leakage
    assert(range.keySet == lshAll.filter(brute(_) >= 0.9))
    range.foreach { case (id, cos) => assert(brute(id) == cos && cos >= 0.9) }
    assert(range.contains(5L)) // the identical vector always qualifies
  }

  test("random projection: linear, deterministic, identical inputs project identically") {
    val out = Similarity.randomProject(corpus, outDims = 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getDouble)).toMap
    assert(out.size == 6 && out.values.forall(_.size == 8))
    // vec 5 is an exact copy of vec 0; vec 3 = -vec 0 and the map is linear
    assert(out(5L) == out(0L))
    assert(out(3L) == out(0L).map(x => if (x == 0.0) 0.0 else -x))
    val repart = Similarity.randomProject(
        corpus.repartition(5, col("vec_id")), outDims = 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getDouble)).toMap
    assert(repart == out)
  }

  test("IVF recall is monotonically non-decreasing in nprobe; full probe is exact") {
    // 3 coarse cells, 36 vectors clustered around 3 directions with seeded
    // jitter — tight enough that nprobe=1 misses some cross-cell neighbors
    val rnd = new scala.util.Random(13)
    // heavily OVERLAPPING clusters: jitter comparable to the axis spread,
    // so a vector's true nearest neighbors routinely live in other cells
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, (i % 3).toLong,
        a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus = rows.toDF("vec_id", "label", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
    def meanRecall(nprobe: Int): Double =
      Similarity.recallAtK(
          Similarity.ivfTopK(queries, corpus, "label", k = 5, nprobe = nprobe), exact)
        .agg(avg($"recall")).head().getDouble(0)
    val recalls = Seq(1, 2, 3).map(meanRecall)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in nprobe: $recalls")
    // probing every cell makes the candidate set the full corpus: exact
    assert(recalls.last == 1.0, s"full-probe recall should be 1.0: $recalls")
    // and the dial matters on this fixture: single-probe is genuinely lossy
    assert(recalls.head < 1.0, s"fixture too easy - nprobe=1 already exact: $recalls")
  }

  test("kmeans: SSE non-increasing per Lloyd round; output partition-invariant") {
    val rnd = new scala.util.Random(29)
    val axes = Seq(Seq(2.0, 0.0, 0.0, 0.0), Seq(0.0, 2.0, 0.0, 0.0), Seq(0.0, 0.0, 2.0, 0.0))
    // clusters in contiguous id blocks, so the vec_id-mod-k init starts
    // maximally WRONG (each init cell mixes all three true clusters)
    val rows = (0 until 45).map { i =>
      val a = axes(i / 15)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    // SSE of an assignment implied by centroids at `iters`: rebuild the
    // E-step distance to each point's NEAREST returned centroid
    def sse(iters: Int): Double = {
      val cents = Similarity.kmeans(corpus, k = 3, iters = iters)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      rows.map { case (_, v) =>
        cents.values.map(c => c.zip(v).map { case (ci, xi) =>
          (xi - ci) * (xi - ci) }.sum).min
      }.sum
    }
    val sses = Seq(0, 1, 2, 3).map(sse)
    assert(sses.zip(sses.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"SSE increased across Lloyd rounds: $sses")
    assert(sses.last < sses.head, "fixture should actually improve from the mod-k init")
    // partitioning is a parallelism knob only
    val a = Similarity.kmeans(corpus.repartition(13), 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val b = Similarity.kmeans(corpus.coalesce(1), 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("PQ at full codebook resolution degenerates to exact ranking") {
    // codes >= |corpus|: init cell = vec_id, every vector is its own
    // centroid, so ADC partial dots are exact (up to the 6dp rounding)
    // and the PQ ranking must equal brute force - the exactness limit
    // that pins the whole train/encode/LUT/ADC chain end to end
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = corpus36.filter($"vec_id" < 3)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("vec_id"))
      .toMap
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus36, k = 5))
    val pq = pairs(Similarity.pqTopK(queries, corpus36, k = 5,
      m = 2, codes = 64, iters = 1, dims = 4))
    assert(pq == exact, "full-resolution PQ must reproduce the exact top-k")
  }

  test("IVF-PQ at full probe + full codebook resolution degenerates to exact ranking") {
    // both tiers at their exactness limits: probing every coarse cell
    // makes the candidate set the full corpus, and codes >= |corpus|
    // makes every residual its own centroid — so the ADC decomposition
    // q·c_cell + q·r must reproduce brute force exactly (up to the same
    // roundings), pinning coarse train, residuals, residual codebooks,
    // probing and the score decomposition end to end
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = corpus36.filter($"vec_id" < 3)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("vec_id"))
      .toMap
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus36, k = 5))
    val ivfpq = pairs(Similarity.ivfPqTopK(queries, corpus36, k = 5,
      nCells = 3, nprobe = 3, m = 2, codes = 64, iters = 1, dims = 4))
    assert(ivfpq == exact, "full-resolution full-probe IVF-PQ must reproduce brute force")
  }

  test("IVF-PQ recall is monotone in nprobe; trainings are cache-served") {
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = corpus36.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, corpus36, k = 5)
    Similarity.clearCaches()
    val before = Similarity.lloydRuns.get()
    def meanRecall(nprobe: Int): Double =
      Similarity.recallAtK(
          Similarity.ivfPqTopK(queries, corpus36, k = 5,
            nCells = 3, nprobe = nprobe, m = 2, codes = 8, iters = 2, dims = 4),
          exact)
        .agg(avg($"recall")).head().getDouble(0)
    val recalls = Seq(1, 2, 3).map(meanRecall)
    // scores per (query, vec) pair don't depend on the probe set, and
    // candidate sets nest — recall can only grow with nprobe
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in nprobe: $recalls")
    assert(recalls.head < recalls.last, s"fixture too easy for the nprobe dial: $recalls")
    // one coarse training + one per residual subspace, all cache-served
    // across the three searches
    assert(Similarity.lloydRuns.get() == before + 3,
      s"expected 3 trainings (coarse + 2 subspaces), got ${Similarity.lloydRuns.get() - before}")
    Similarity.clearCaches()
  }

  test("persisted IVF-PQ index serves searches with ZERO training runs") {
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = corpus36.filter($"vec_id" < 3)
    val wh = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    val inline = Similarity.ivfPqTopK(queries, corpus36, k = 5,
      nCells = 3, nprobe = 2, m = 2, codes = 8, iters = 2, dims = 4)
      .collect().map(_.toSeq).toSet
    Similarity.ivfPqIndexPersist(corpus36, wh,
      nCells = 3, m = 2, codes = 8, iters = 2, dims = 4)
    Similarity.clearCaches() // drop trained state: serving must not rebuild it
    val before = Similarity.lloydRuns.get()
    val served = Similarity.ivfPqTopKPersisted(queries, wh,
      k = 5, nprobe = 2, m = 2, dims = 4)
      .collect().map(_.toSeq).toSet
    assert(Similarity.lloydRuns.get() == before, "read path must not train")
    assert(served == inline, "served results must equal the inline build")
  }

  test("incremental IVF-PQ append folds a batch in with ZERO training runs") {
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 40).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    // vec 36 (in the delta) is a near-copy of query 0: after the append
    // it must surface in query 0's top-k — the "new duplicate arrives"
    // scenario an incremental dedup/search pipeline exists to catch
    val nearDup = rows.map {
      case (36L, _) => (36L, rows.head._2.map(x => x + 0.001f))
      case r => r
    }
    val corpus = nearDup.toDF("vec_id", "embedding")
    val batch = corpus.filter($"vec_id" >= 36) // the daily delta
    val train = corpus.filter($"vec_id" < 36)
    val queries = corpus.filter($"vec_id" < 3)
    val wh = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString
    Similarity.ivfPqIndexPersist(train, wh,
      nCells = 3, m = 2, codes = 8, iters = 2, dims = 4)
    Similarity.clearCaches() // append must use the STORED artifacts
    val before = Similarity.lloydRuns.get()
    Similarity.ivfPqIndexAppend(batch, wh, m = 2, dims = 4)
    assert(Similarity.lloydRuns.get() == before,
      "append path must never train — that is its entire point")
    // the per-vector tables grew by O(batch); the trained artifacts
    // (centroids, codebooks) were not even re-committed
    import graft.sink.SnapshotTable
    def snaps(t: String) = SnapshotTable(wh, "ann", t).snapshots.size
    assert(snaps("ivfpq_assign") == 2 && snaps("ivfpq_codes") == 2 &&
      snaps("ivfpq_norms") == 2, "per-vector tables take one append commit each")
    assert(snaps("ivfpq_coarse") == 1 && snaps("ivfpq_codebook") == 1,
      "trained artifacts must stay untouched")
    assert(SnapshotTable(wh, "ann", "ivfpq_assign").read(spark).count() == 40)
    assert(SnapshotTable(wh, "ann", "ivfpq_codes").read(spark).count() == 80) // m=2 per vec
    // the appended vectors are now searchable: every query gets full
    // result lists over the COMBINED corpus, and the near-duplicate
    // scores well despite m=2/8-code quantization (ADC approximates —
    // top-10, not necessarily rank 1: the quantizer's granularity caps
    // how far a near-dup separates from same-cell train vectors)
    val served = Similarity.ivfPqTopKPersisted(queries, wh,
      k = 10, nprobe = 3, m = 2, dims = 4).collect()
    assert(Similarity.lloydRuns.get() == before, "search must not train either")
    val perQuery = served.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 10), s"short result lists: ${perQuery.toMap}")
    val q0 = served.filter(_.getAs[Long]("query_id") == 0L).map(_.getAs[Long]("vec_id"))
    assert(q0.contains(36L),
      s"query 0's near-duplicate (appended vec 36) must surface in its top-10, got ${q0.toSeq}")
  }

  test("a persisted search of a local query batch runs 9 jobs (IVF-PQ) and 7 (PQ)") {
    // the query side (LUT, probes, query norms) is built on the driver
    // from the batch and one collect of the model tables; the rest is
    // the index side. Each count was measured twice on a local[4]
    // session with the same result (17 and 9 when the query side was
    // Spark aggregations); a failing pin prints every job's call site
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = rows.take(8).map { case (id, v) => (id + 100L, v) }.toDF("vec_id", "embedding")
    val ivfWh = java.nio.file.Files.createTempDirectory("graft_ivfpq_jobs").toString
    val pqWh = java.nio.file.Files.createTempDirectory("graft_pq_jobs").toString
    Similarity.ivfPqIndexPersist(corpus36, ivfWh, nCells = 3, m = 2, codes = 8, iters = 2, dims = 4)
    Similarity.pqIndexPersist(corpus36, pqWh, m = 2, codes = 4, iters = 2, dims = 4)
    val searches = Seq(
      ("ivfPqTopKPersisted", 9, () => Similarity.ivfPqTopKPersisted(queries, ivfWh,
        k = 5, nprobe = 2, m = 2, dims = 4).collect()),
      ("pqTopKPersisted", 7, () => Similarity.pqTopKPersisted(queries, pqWh,
        k = 5, m = 2, dims = 4).collect()))
    for ((name, pin, search) <- searches; round <- 1 to 2) {
      val sites = jobSitesDuring(search())
      info(s"$name, search $round: ${sites.size} jobs")
      assert(sites.size <= pin,
        s"$name search $round ran ${sites.size} jobs, pinned at $pin: ${sites.mkString("; ")}")
    }
  }

  test("PQ codebooks train once per subspace and are cache-served after") {
    Similarity.clearCaches()
    val before = Similarity.lloydRuns.get()
    val out1 = Similarity.pqTopK(corpus.filter($"vec_id" === 0), corpus,
        k = 6, m = 2, codes = 2, iters = 2, dims = 4)
      .orderBy($"rank").collect()
    assert(Similarity.lloydRuns.get() == before + 2, "one Lloyd run per subspace")
    // the identical vector shares every code with the query, so the two
    // get IDENTICAL approximate scores against every codebook entry -
    // vec 5 must appear, and at the same cos as any other code-sharer
    // (note: it need NOT rank first - ADC scores vectors by their CELL
    // centroid, and another cell's centroid can align better with the
    // query than the query's own cell mean)
    assert(out1.exists(_.getAs[Long]("vec_id") == 5L))
    val out2 = Similarity.pqTopK(corpus.filter($"vec_id" === 0), corpus,
        k = 6, m = 2, codes = 2, iters = 2, dims = 4)
      .orderBy($"rank").collect()
    assert(Similarity.lloydRuns.get() == before + 2, "second call is cache-served")
    assert(out1.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq, "deterministic output")
    Similarity.clearCaches()
  }

  test("persisted PQ index serves searches with ZERO training runs") {
    val rnd = new scala.util.Random(13)
    val axes = Seq(
      Seq(1.0, 0.4, 0.0, 0.0), Seq(0.4, 1.0, 0.0, 0.0), Seq(0.2, 0.6, 0.8, 0.2))
    val rows = (0 until 36).map { i =>
      val a = axes(i % 3)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.8).toFloat))
    }
    val corpus36 = rows.toDF("vec_id", "embedding")
    val queries = corpus36.filter($"vec_id" < 3)
    val wh = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    // BUILD once (trains, persists the three artifact tables) ...
    Similarity.pqIndexPersist(corpus36, wh, m = 2, codes = 4, iters = 2, dims = 4)
    // ... then the READ path: drop the in-memory caches so any retrain
    // would be visible, and search from the persisted artifacts alone
    Similarity.clearCaches()
    val before = Similarity.lloydRuns.get()
    val served = Similarity.pqTopKPersisted(queries, wh, k = 5, m = 2, dims = 4)
      .collect().map(_.toSeq).toSet
    assert(Similarity.lloydRuns.get() == before,
      "search against a persisted index must not run Lloyd training")
    // bit-identical to the inline build-and-search (parquet round-trips
    // the double/long artifacts exactly)
    val inline = Similarity.pqTopK(queries, corpus36, k = 5,
      m = 2, codes = 4, iters = 2, dims = 4).collect().map(_.toSeq).toSet
    assert(served == inline, "persisted-index results must equal the inline build")
    Similarity.clearCaches()
  }

  test("quantizer trains once across kmeans / assign / index consumers") {
    Similarity.clearCaches()
    val emb = corpus.select($"vec_id", $"embedding")
    val before = Similarity.lloydRuns.get()
    // the three production consumers of one trained quantizer:
    // centroids (embedding_kmeans), corpus indexing (similarity_ivf_trained),
    // and blocking cells (dedup_semantic) — all on the SAME corpus plan
    Similarity.kmeans(emb, k = 3, iters = 2).collect(): Unit
    Similarity.kmeansAssign(emb, k = 3, iters = 2).collect(): Unit
    emb.join(Similarity.kmeansAssign(emb, 3, 2), "vec_id").collect(): Unit
    assert(Similarity.lloydRuns.get() == before + 1,
      "same (corpus, k, iters) must reuse one Lloyd training run")
    // different hyperparameters are a different quantizer - retrain
    Similarity.kmeansAssign(emb, k = 2, iters = 2).collect(): Unit
    assert(Similarity.lloydRuns.get() == before + 2)
    Similarity.clearCaches()
  }

  test("quantizeInt8 carries every non-embedding column through, any schema") {
    // not the fixture's schema: different id/metadata columns
    val df = Seq((10L, "web", Seq(1.0f, -2.0f, 0.5f)), (11L, "pdf", Seq(0f, 0f, 0f)))
      .toDF("doc_id", "source", "vec")
    val q = Similarity.quantizeInt8(df, embCol = "vec")
    assert(q.columns.toSeq == Seq("doc_id", "source", "scale", "q"))
    val rows = q.orderBy($"doc_id").collect()
    assert(rows.map(_.getAs[String]("source")).toSeq == Seq("web", "pdf"))
    // max|x| = 2 -> scale = 2/127; codes round-trip the extremes exactly
    assert(rows(0).getSeq[Byte](rows(0).fieldIndex("q")).toSeq == Seq[Byte](64, -127, 32))
    // zero vector: scale 0, all-zero codes (no division blowup)
    assert(rows(1).getAs[Double]("scale") == 0.0)
    assert(rows(1).getSeq[Byte](rows(1).fieldIndex("q")).toSeq == Seq[Byte](0, 0, 0))
  }

  test("quantizeSign packs the exact sign pattern, 32 bits per word") {
    // 40 dims (not a multiple of 32): word 0 full, word 1 carries 8 bits
    val v = (0 until 40).map(i => if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.0f)
    val df = Seq((1L, "m", v)).toDF("vec_id", "meta", "embedding")
    val out = Similarity.quantizeSign(df, dims = 40)
    assert(out.columns.toSeq == Seq("vec_id", "meta", "sig"))
    val sig = out.head().getSeq[Long](2)
    assert(sig.length == 2)
    // strict x > 0: only the i % 3 == 0 positions set (zero is NOT set)
    val expected0 = (0 until 32).filter(_ % 3 == 0).map(1L << _).sum
    val expected1 = (32 until 40).filter(_ % 3 == 0).map(i => 1L << (i - 32)).sum
    assert(sig == Seq(expected0, expected1))
  }

  test("signHammingTopK: copies at distance 0 rank first; complements at dims") {
    val base = (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val comp = base.map(-_)
    val near = base.updated(0, -1.0f) // one flipped bit
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, comp))
      .toDF("vec_id", "embedding")
    val out = Similarity.signHammingTopK(
      df.filter($"vec_id" === 0L), df, dims = 64, k = 3)
      .orderBy($"rank").as[(Long, Long, Long, Int)].collect().toSeq
    // rank 1: the identical copy at hamming 0 (binary signatures, unlike
    // PQ cells, preserve exact-copy identity); rank 2: the 1-bit flip;
    // rank 3: the complement at the full 64 (every bit differs — sign of
    // -1 clears, sign of +1 sets... both flip)
    assert(out.map(r => (r._2, r._3)) == Seq((1L, 0L), (2L, 1L), (3L, 64L)))
  }

  test("centroidDrift: identical slices read cos 1; a shifted label flags; one-sided labels drop") {
    def vec(seed: Int, shift: Float = 0f): Seq[Float] =
      (0 until 64).map(i => ((i * 31 + seed) % 7 - 3).toFloat + shift)
    val base = Seq(
      (0L, "a", vec(1)), (1L, "a", vec(2)),
      (2L, "b", vec(3)), (3L, "b", vec(4)),
      (4L, "gone", vec(5))).toDF("vec_id", "label", "embedding")
    val cur = Seq(
      (10L, "a", vec(1)), (11L, "a", vec(2)),       // unchanged centroid
      (12L, "b", vec(3)), (13L, "b", vec(4)))
      .toDF("vec_id", "label", "embedding")
    val same = Similarity.centroidDrift(base, cur, "label")
      .orderBy("label").collect()
    // the 'gone' label exists only in base: no comparison row
    assert(same.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(same.forall(r => r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0
      && !r.getBoolean(3)), same.mkString(", "))
    // shift every 'b' vector hard: its centroid moves, 'a' stays green
    val curShifted = Seq(
      (10L, "a", vec(1)), (11L, "a", vec(2)),
      (12L, "b", vec(3, 50f)), (13L, "b", vec(4, 50f)))
      .toDF("vec_id", "label", "embedding")
    val drift = Similarity.centroidDrift(base, curShifted, "label")
      .orderBy("label").collect()
    val a = drift(0); val b = drift(1)
    assert(a.getString(0) == "a" && !a.getBoolean(3))
    assert(b.getString(0) == "b" && b.getBoolean(3) && b.getDouble(2) > 100.0,
      b.toString)
  }

  test("signHammingTopK refuses a query side beyond its broadcast bound, actionably") {
    val base = (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = (0L until 4L).map(i => (i, base)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.signHammingTopK(df, df, dims = 64, k = 1, maxQueries = 2L))
    assert(e.getMessage.contains("broadcasts the query side") &&
      e.getMessage.contains("lshTopK"), e.getMessage)
    // at the bound, the path still serves
    assert(Similarity.signHammingTopK(
      df.filter($"vec_id" < 2), df, dims = 64, k = 1, maxQueries = 2L).count() == 2)
  }

  test("embeddingAudit counts the poison classes; NaN rows never taint norms") {
    val rows = Seq(
      (1L, 1, Seq(3.0f, 4.0f)),               // norm 5
      (2L, 1, Seq(0.0f, 0.0f)),               // exact zero
      (3L, 1, Seq(Float.NaN, 1.0f)),          // NaN-poisoned
      (4L, 1, Seq(1.0f, 2.0f, 2.0f)),         // wrong dims (3 != 2), norm 3
      (5L, 2, Seq(6.0f, 8.0f)))               // second group, norm 10
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.embeddingAudit(rows, dims = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    val g1 = out(1)
    assert(g1.getLong(1) == 4L && g1.getLong(2) == 1L && // n_vecs, n_badlen
      g1.getLong(3) == 1L && g1.getLong(4) == 1L)        // n_nan, n_zero
    assert(g1.getDouble(5) == 0.0 && g1.getDouble(7) == 5.0,
      "NaN row excluded; min=zero vector, max=norm-5 vector")
    assert(out(2).getDouble(6) == 10.0) // clean group's avg untainted
  }

  test("bucket signatures are stable and pack into 8 bits") {
    val b = Similarity.bucketSignatures(corpus)
      .as[(Long, Long)].collect().toMap
    assert(b.values.forall(v => v >= 0 && v < 256))
    assert(b(0L) != b(3L)) // opposite vectors flip every nonzero projection
  }
}
