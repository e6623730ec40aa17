package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import graft.dedup.Dedup
import graft.functions.NormalizeNFC
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sink.SnapshotTable
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Doc(id: Long, lang: String, source: String, text: String)

/** Seeded corpus with planted ground truth: heavy-tailed lengths with a
  * block of 100-300 kB documents, exact and near duplicates with known
  * pairs, boilerplate-dominated pages that crowd one LSH bucket, PII
  * strings, near-duplicate images and clustered embeddings.
  */
final class CorpusGen(seed: Long) {
  val ShortDocs = 160
  val LongDocs = 2
  val LongBytes = (100000, 120000)
  val ExactDups = 12
  val NearDups = 20
  val BoilerplateDocs = 30
  /** Share of words replaced in a near duplicate. */
  val NearEditShare = 0.02
  val Images = 300
  val NearImages = 30
  val Vectors = 1000
  val Dims = 32
  val Clusters = 100
  val QueryBatches = 3
  val QueriesPerBatch = 8

  private val markers = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que"))
  private val langs = markers.keys.toSeq.sorted
  private val sources = Seq("web", "forum", "news", "books")
  val Boilerplate: Seq[String] = Seq(
    "subscribe to our newsletter for weekly updates and exclusive offers from our partners",
    "all rights reserved no part of this page may be reproduced without written permission",
    "click here to accept cookies and continue browsing the site under our privacy policy")

  private def vocab(lang: String): IndexedSeq[String] = {
    val r = Gen.rng(seed, 20, lang.hashCode.toLong)
    val syl = Seq("ka", "lo", "mi", "ren", "sa", "tu", "vel", "dor", "an", "is", "ber", "qui")
    IndexedSeq.fill(400)((1 to 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
  }
  private val vocabs = langs.map(l => l -> vocab(l)).toMap

  private def sentence(r: Random, lang: String): String = {
    val v = vocabs(lang)
    val m = markers(lang)
    (0 until 8 + r.nextInt(12)).map(_ =>
      if (r.nextDouble() < 0.3) m(r.nextInt(m.size)) else v(r.nextInt(v.size))).mkString(" ") + "."
  }

  private def body(r: Random, lang: String, targetChars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < targetChars) {
      sb ++= (1 to 1 + r.nextInt(3)).map(_ => sentence(r, lang)).mkString(" ")
      if (r.nextDouble() < 0.05) sb ++= s" contact j.doe${r.nextInt(100)}@example.com or +1-555-01${r.nextInt(90) + 10}."
      sb += '\n'
    }
    sb.toString
  }

  /** Documents, planted exact-duplicate pairs and near-duplicate pairs. */
  lazy val corpus: (Seq[Doc], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val r = Gen.rng(seed, 21, 0)
    val docs = mutable.ArrayBuffer.empty[Doc]
    def add(lang: String, text: String): Long = {
      val id = docs.size.toLong
      docs += Doc(id, lang, sources(r.nextInt(sources.size)), text)
      id
    }
    (0 until ShortDocs).foreach { _ =>
      val lang = langs(r.nextInt(langs.size))
      // heavy-tailed short lengths: most a few hundred characters, some tens of kB
      val len = math.min(40000, (400 / math.pow(1 - r.nextDouble() * 0.999, 0.8)).toInt)
      val bp = if (r.nextDouble() < 0.3) Boilerplate(r.nextInt(Boilerplate.size)) + "\n" else ""
      add(lang, bp + body(r, lang, len))
    }
    (0 until LongDocs).foreach { _ =>
      val lang = langs(r.nextInt(langs.size))
      add(lang, body(r, lang, LongBytes._1 + r.nextInt(LongBytes._2 - LongBytes._1)))
    }
    (0 until BoilerplateDocs).foreach { _ =>
      add("en", Boilerplate.mkString("\n") + "\n" + sentence(r, "en") + "\n")
    }
    val originals = docs.take(ShortDocs).filter(_.text.length > 1500).toIndexedSeq
    val exact = (0 until ExactDups).map { _ =>
      val o = originals(r.nextInt(originals.size))
      (o.id, add(o.lang, o.text))
    }
    val near = (0 until NearDups).map { _ =>
      val o = originals(r.nextInt(originals.size))
      val v = vocabs(o.lang)
      val edited = o.text.split("\n", -1).map(_.split(" ", -1).map(w =>
        if (w.nonEmpty && r.nextDouble() < NearEditShare) v(r.nextInt(v.size)) else w).mkString(" "))
        .mkString("\n")
      (o.id, add(o.lang, edited))
    }
    (docs.toList, exact, near)
  }

  /** Image payloads (the byte grid the perceptual hash reads) and the
    * planted near-duplicate pairs: a copy with one byte nudged.
    */
  lazy val images: (Seq[(Long, Array[Byte])], Seq[(Long, Long)]) = {
    val r = Gen.rng(seed, 22, 0)
    val base = (0 until Images).map(i => (i.toLong, Array.fill(96)(r.nextInt(256).toByte)))
    val near = (0 until NearImages).map { j =>
      val (id, b) = base(r.nextInt(Images))
      val c = b.clone()
      val k = 1 + r.nextInt(70)
      c(k) = (c(k) ^ 1).toByte
      ((id, (Images + j).toLong), c)
    }
    (base ++ near.map { case ((_, nid), c) => (nid, c) }, near.map(_._1))
  }

  /** Corpus vectors in tight planted clusters of Vectors / Clusters
    * members, and query batches aimed at cluster centres: a query's true
    * ten nearest neighbours are its cluster, so recall is well defined.
    */
  lazy val vectors: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val r = Gen.rng(seed, 23, 0)
    val centres = Array.fill(Clusters, Dims)(r.nextGaussian())
    def around(c: Array[Double], s: Double) = c.map(x => math.round((x + r.nextGaussian() * s) * 1e4) / 1e4)
    val corpus = (0 until Vectors).map(i => (i.toLong, around(centres(i % Clusters), 0.05)))
    val queries = (0 until QueryBatches).map(b => (0 until QueriesPerBatch).map(q =>
      ((1000000 + b * 100 + q).toLong, around(centres(r.nextInt(Clusters)), 0.02))))
    (corpus, queries)
  }
}

/** `corpus_curation`: the compute path. A one-pass curation pipeline over
  * a generated multilingual corpus (normalise, language id, quality and
  * Gopher rules, repetition, content-defined chunks and their audit,
  * exact and near-duplicate detection, repeated spans, image dedup, an
  * ANN index), then a closed loop of batched searches against the
  * persisted index, then one append of the curated corpus. Commits and
  * SQL DML play almost no part: this is the control for write-path
  * changes.
  */
object CorpusCuration extends Workload {
  val name = "corpus_curation"
  val SetupReps = 2
  val MinJaccard = 0.5
  /** Floor on recall@10 of the persisted index against exact search;
    * seeded runs read 0.53 to 0.68 with these index settings.
    */
  val MinAnnRecall = 0.4
  val MaxBucket = 20
  val Cells = 16
  val Probe = 4
  val SubQuantizers = 2
  val Codes = 8

  final class State(val dir: Path, val docs: DataFrame, val media: DataFrame, val vecs: DataFrame)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new CorpusGen(ctx.seed)
    val t = ctx.tracer
    ctx.log("session ready")

    ctx.calibrate()
    val (st, setupS) = ctx.setupReps(SetupReps) { dir =>
      val g = new CorpusGen(ctx.seed) // fresh: generation is part of every set-up
      val (docs, _, _) = g.corpus
      docs.map(d => (d.id, d.lang, d.source, d.text)).toDF("doc_id", "lang", "source", "text")
        .repartition(4).write.parquet(dir.resolve("docs").toString)
      g.images._1.toDF("media_id", "payload").write.parquet(dir.resolve("media").toString)
      g.vectors._1.toDF("vec_id", "embedding").write.parquet(dir.resolve("vectors").toString)
      new State(dir, spark.read.parquet(dir.resolve("docs").toString),
        spark.read.parquet(dir.resolve("media").toString),
        spark.read.parquet(dir.resolve("vectors").toString))
    } { _ => () }
    val (docsSeq, exactPairs, nearPairs) = gen.corpus
    val wh = st.dir.resolve("wh").toString
    val longIds = docsSeq.filter(_.text.length >= 100000).map(_.id).toSet
    val longMb = docsSeq.filter(d => longIds(d.id)).map(_.text.length).sum / 1e6
    val shortMb = docsSeq.filterNot(d => longIds(d.id)).map(_.text.length).sum / 1e6
    ctx.log(f"${docsSeq.size} documents, $longMb%.2f MB in ${longIds.size} long ones, $shortMb%.2f MB in the rest")

    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val stageMs = mutable.LinkedHashMap.empty[String, Double]
    var opId = 0
    def stage[T](name: String)(body: => T): T = {
      ctx.calibrate()
      opId += 1
      var out: Option[T] = None
      ctx.timedOp(name, opId) { out = Some(body) }.foreach(ms => stageMs(name) = ms)
      out.getOrElse(throw new IllegalStateException(s"stage $name failed"))
    }

    val w0 = Clock.nowMs
    val t0 = System.nanoTime()
    val norm = stage("text.normalize") {
      st.docs.select(col("doc_id"), col("lang"), col("source"),
        NormalizeNFC.normalizeNfc(col("text")).as("text")).localCheckpoint()
    }
    val lang = stage("text.lang_id")(TextAnalysis.languageId(norm, "text").localCheckpoint())
    val quality = stage("text.quality") {
      TextAnalysis.qualityScore(norm, "text").select("doc_id", "quality_score")
        .join(TextAnalysis.gopherRules(norm, "text").select("doc_id", "keep"), "doc_id")
        .localCheckpoint()
    }
    val rep = stage("text.repetition")(TextAnalysis.repetitionStats(norm, "text").localCheckpoint())
    val chunks = stage("text.chunk")(TextAnalysis.cdcChunksFast(norm, "text", 8, 64).localCheckpoint())
    def audit(pred: org.apache.spark.sql.Column) =
      TextAnalysis.cdcInvariants(chunks.join(norm.filter(pred).select("doc_id"), "doc_id"),
        norm.filter(pred), "text", k = 8, divisor = 64, keyCol = "chunk_hash").collect()
    val isLong = length(col("text")) >= 100000
    val auditLong = stage("text.chunk_audit_long")(audit(isLong))
    val auditShort = stage("text.chunk_audit_short")(audit(!isLong))
    val exact = stage("dedup.exact")(Dedup.exact(norm, "text").collect())
    val pairs = stage("dedup.minhash") {
      Dedup.minhashLshPairsCapped(norm, "text", n = 3, rowsPerBand = 2,
        minJaccard = MinJaccard, maxBucket = MaxBucket).localCheckpoint()
    }
    val clusters = stage("dedup.components")(Dedup.connectedComponents(pairs).collect())
    val spans = stage("dedup.substring")(Dedup.substringSpans(norm, "text", 12).localCheckpoint())
    val imageDups = stage("multimodal.phash_dedup") {
      Multimodal.phashDedup(st.media, "media_id", "payload", maxHamming = 4).collect()
    }
    stage("similarity.index_build") {
      Similarity.ivfPqIndexPersist(st.vecs, wh, nCells = Cells, m = SubQuantizers, codes = Codes,
        iters = 1, dims = gen.Dims)
    }
    val clusterOf = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val curated = stage("sink.curated_commit") {
      val keepNear = clusters.filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSeq
      val kept = norm.join(quality, "doc_id").join(lang.select("doc_id", "predicted_lang"), "doc_id")
        .join(rep.select("doc_id", "repetitive"), "doc_id")
        .join(exact.toSeq.map(r => r.getLong(1)).toDF("doc_id"), "doc_id") // one copy per content
        .filter(col("keep") && !col("repetitive") && !col("doc_id").isin(keepNear: _*))
        .select("doc_id", "predicted_lang", "source", "quality_score", "text")
      SnapshotTable(wh, "corpus", "curated").append(kept)
    }
    val pipelineS = stageMs.values.sum / 1e3
    ctx.log(f"pipeline took $pipelineS%.1f s")

    // closed loop of batched searches against the persisted index, after
    // one untimed search so every timed batch runs compiled plans
    val batches = gen.vectors._2.map(b => b.toDF("vec_id", "embedding"))
    Similarity.ivfPqTopKPersisted(batches.head, wh, k = 10, nprobe = Probe, m = SubQuantizers,
      dims = gen.Dims).collect()
    val searchMs = mutable.ArrayBuffer.empty[Double]
    val found = mutable.Map.empty[Int, Array[org.apache.spark.sql.Row]]
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var b = 0
    while (b < batches.size || System.nanoTime() < deadline) {
      ctx.calibrate()
      opId += 1
      val i = b % batches.size
      var res: Array[org.apache.spark.sql.Row] = Array.empty
      ctx.timedOp("search", opId) {
        res = t.span("similarity.search") {
          Similarity.ivfPqTopKPersisted(batches(i), wh, k = 10, nprobe = Probe, m = SubQuantizers,
            dims = gen.Dims).collect()
        }
      }.foreach { ms => searchMs += ms; found(i) = res }
      b += 1
    }
    val cpuS = ctx.opCpuNs / 1e9
    val w1 = Clock.nowMs
    ctx.log(f"timed phase: $b searches, ${ctx.opMs / 1e3}%.1f s inside the operations")
    t.drain(spark)

    // ---- correctness ---------------------------------------------------
    val textOf = docsSeq.map(d => d.id -> d.text).toMap
    (auditLong ++ auditShort).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val txt = textOf(id)
      if (!Checks.cdcRowOk(r.getAs[String]("reassembled_md5"), r.getAs[Int]("covered_len"),
          r.getAs[Int]("first_start"), r.getAs[Int]("last_end"), r.getAs[Boolean]("keys_injective"),
          r.getAs[Boolean]("boundaries_valid"), txt))
        ctx.check(s"corpus.cdc_invariants@$id", ok = false, r.toString)
    }
    ctx.check("corpus.cdc_invariants", (auditLong ++ auditShort).length == docsSeq.size,
      s"audited ${(auditLong ++ auditShort).length} of ${docsSeq.size} documents")
    // exact duplicates group by the engine's content hash, near ones by
    // connected component; a near pair that is also exact counts as found
    val byHash = exact.map(r => r.getString(0)).zipWithIndex.toMap
    val hashGroup = docsSeq.map(d => d.id -> byHash.get(Checks.md5(d.text)).map(_.toLong).getOrElse(-1 - d.id)).toMap
    val exactRecall = Checks.groupRecall(exactPairs, hashGroup)
    val nearRecall = math.max(Checks.groupRecall(nearPairs, clusterOf), Checks.groupRecall(nearPairs, hashGroup))
    val dedupRecall = (exactRecall * exactPairs.size + nearRecall * nearPairs.size) /
      (exactPairs.size + nearPairs.size)
    ctx.check("corpus.dedup_recall", dedupRecall >= 0.9,
      f"exact-pair recall $exactRecall%.3f, near-pair recall $nearRecall%.3f")
    val reported = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val badPairs = reported.filter { case (a, bb) => Checks.jaccard(textOf(a), textOf(bb)) < MinJaccard - 1e-6 }
    ctx.check("corpus.reported_pairs_meet_threshold", badPairs.isEmpty,
      s"${badPairs.length} of ${reported.length} pairs below $MinJaccard, e.g. ${badPairs.take(3).toSeq}")
    val (_, nearImages) = gen.images
    val imageRecall = Checks.groupRecall(nearImages, imageDups.map(r => r.getLong(0) -> r.getLong(2)).toMap)
    ctx.check("corpus.image_dedup_recall", imageRecall == 1.0,
      s"found $imageRecall of ${nearImages.size} planted near-duplicate images")
    val allQueries = gen.vectors._2.flatten.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(allQueries, st.vecs, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = found.values.flatten.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = Checks.recallAtK(truth, approx)
    ctx.check("corpus.ann_recall_at_10", recall >= MinAnnRecall, s"recall@10 $recall against exact search")
    val curatedRows = SnapshotTable(wh, "corpus", "curated").read(spark).count()
    ctx.check("corpus.curated_commit", curated.rowCount == curatedRows && curatedRows > 0,
      s"commit recorded ${curated.rowCount} rows, table reads $curatedRows")
    ctx.log(f"checks done: dedup recall $dedupRecall%.3f, image recall $imageRecall%.3f, ANN recall@10 $recall%.3f")

    val tables = Seq("curated").map(n => SnapshotTable(wh, "corpus", n)) ++
      Seq("ivfpq_coarse", "ivfpq_assign", "ivfpq_codes", "ivfpq_codebook", "ivfpq_norms")
        .map(n => SnapshotTable(wh, "ann", n))
    val meta = tables.map(tb => Main.metaBytes(tb.root).toDouble).sum
    val snaps = tables.map(_.snapshots.size).sum
    val docsPerS = docsSeq.size / pipelineS
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_ms_p50" -> (Stats.median(searchMs.toSeq), "ms"),
      "read_ms_mean" -> (searchMs.sum / searchMs.size, "ms"),
      "ops_per_s" -> (docsPerS, "1/s"),
      "cpu_ms_per_op" -> (cpuS * 1000 / opId, "ms"),
      "peak_rss_mb" -> (Main.peakRssMb, "MB"),
      "meta_bytes_per_commit" -> (meta / snaps, "B"))
    val perLayer =
      if (!t.enabled) Map.empty[String, (Double, String)]
      else Layers.corpus(ctx, stageMs.toMap, longMb, shortMb, searchMs.toSeq, docsPerS, dedupRecall,
        recall, Dedup.minhashLshCapStats(norm, "text", n = 3, rowsPerBand = 2, maxBucket = MaxBucket)
          .agg(sum("pairs_total")).head().getLong(0), reported.length, w0, w1, cpuS)
    Outcome(e2e, perLayer)
  }
}
