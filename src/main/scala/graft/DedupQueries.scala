package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions.{col, concat, count, lit, pmod, when}

/** Deduplication operators over the `documents` / `embeddings` tables
  * (north-star LLM-pipeline surface). Oracles rebuild the identical
  * algorithm in DuckDB — same md5-derived hashes, same permutation
  * constants, same fold order — so pair sets match exactly.
  */
object DedupQueries {

  import Queries.tbl

  /** DuckDB CTE: distinct word n-gram shingles per document —
    * parameterized so span-length variants (13-token decontamination
    * spans) share the same oracle shape as the 3-gram index.
    */
  private[graft] def shinglesSql(n: Int): String = {
    val gram = (1 until n)
      .map(o => s"toks[CAST(i AS INT) + $o]")
      .foldLeft("toks[CAST(i AS INT)]")((acc, t) => s"$acc || ' ' || $t")
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) >= $n THEN
       |    list_transform(range(1, len(toks) - ${n - 2}),
       |      i -> $gram)
       |    ELSE [] END) AS shingles
       |FROM t)""".stripMargin
  }

  /** DuckDB CTE: distinct word 3-gram shingles per document. */
  private val ShinglesSql = shinglesSql(3)

  /** DuckDB minhash signature CTE (over `sh`): 8 permutations of the
    * md5-derived 60-bit shingle hash mod P.
    */
  private val SigsSql = {
    val perms = Dedup.A.zip(Dedup.B).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % ${Dedup.P}))"
    }.mkString("[", ",\n    ", "]")
    s"""hs AS (SELECT doc_id, shingles,
       |  list_transform(shingles, s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT) % ${Dedup.P}) AS hs
       |FROM sh WHERE len(shingles) > 0),
       |sigs AS (SELECT doc_id, shingles,
       |  $perms AS sig
       |FROM hs)""".stripMargin
  }

  /** DuckDB CTE chain ending in `hp(doc_a, doc_b, hamming)`: the SimHash
    * banded candidate pairs with exact Hamming filter (shared by
    * `dedup_simhash_pairs` and `dedup_clusters`).
    */
  private val SimhashPairsCte =
    """w AS (
      |  SELECT doc_id,
      |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
      |      t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS th
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), b -> CASE
      |      WHEN list_sum(list_transform(th, h -> CASE
      |        WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM w),
      |banded AS (
      |  SELECT doc_id, t.b AS band,
      |    (simhash >> CAST(15 * t.b AS INT)) & 32767 AS bv
      |  FROM sh, range(0, 4) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |hp AS (
      |  SELECT doc_a, doc_b,
      |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
      |  FROM cand
      |  JOIN sh sa ON doc_a = sa.doc_id
      |  JOIN sh sb ON doc_b = sb.doc_id
      |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2)""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    "corpus_clean" -> QueryDef(
      (s, dir) => {
        // The capstone training-data pipeline as ONE composed plan:
        //   quality filter -> language filter -> exact dedup (keep min
        //   doc_id) -> near-dup removal (drop the higher doc_id of every
        //   Jaccard>=0.6 pair) -> clean corpus.
        // Quality + language are appended COLUMN expressions on the one
        // scan (no self-joins of separately-derived doc_id sets — at
        // 100 TB a join per filter stage is three extra shuffles), and
        // exact dedup is a min-doc_id window over the content hash, so
        // the whole prefix is scan -> narrow filters -> ONE hash shuffle.
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val docs = tbl(s, dir, "documents")
        // `kept` feeds several consumers (the postings restriction AND
        // the final anti-join), and the near-dup stage consumes the
        // restricted postings ~4x (rare-shingle counts, both sides of
        // the candidate self-join, set sizes) — both intermediates go
        // through the bounded plan-keyed cache so the expensive subtree
        // (full-corpus tokenize + quality + language + dedup window)
        // runs ONCE per dataset instead of once per consumer. Profiled
        // at sf0.1: the unpersisted form re-evaluated `kept` 4x inside
        // jaccardPairs (~1.2 s each).
        val kept = Dedup.sharedDerived(docs, "corpus_clean:kept") {
          docs
            .filter(graft.text.TextAnalysis.qualityScoreCol(col("text")) >= 0.7 &&
              graft.text.TextAnalysis.predictedLangCol(col("text")) === "en")
            .withColumn("_rn", row_number().over(
              Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
            .filter(col("_rn") === 1).drop("_rn")
        }
        // Shingle the KEPT docs directly — never the full corpus.
        // Building the full index just to filter it would tokenize
        // documents the quality gate already discarded (at 100 TB with
        // an aggressive filter that is most of the corpus), and reusing
        // a full-postings cache another dedup operator MIGHT have left
        // made the capstone's measured cost depend on which query ran
        // first (r10 driver bench doubled on exactly that order change).
        // Same result either way — shingles are per-document — so the
        // deterministic, standalone-cheapest derivation wins.
        // The maxDf rarity cap is applied by jaccardPairs AFTER this
        // restriction, i.e. counted over kept docs, matching the oracle.
        val keptPostings = Dedup.sharedDerived(docs, "corpus_clean:postings") {
          Dedup.shinglePostings(kept, "text", 3)
        }
        val nearDupLosers = Dedup.jaccardPairs(
            keptPostings, minJaccard = 0.6, maxDf = 10)
          .select(col("doc_b").as("doc_id")).distinct()
        kept.join(nearDupLosers, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source", "n_chars")
      },
      Some(s"""WITH q AS (
              |  SELECT doc_id,
              |    regexp_split_to_array(trim(text), '\\s+') AS toks,
              |    length(text) AS n_chars,
              |    length(text) - length(regexp_replace(text, '[!"#$$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]', '', 'g')) AS punct
              |  FROM documents),
              |quality AS (
              |  SELECT doc_id FROM q
              |  WHERE round(CAST(
              |    (CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
              |    (CASE WHEN round(CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','or','to','in','on','is','are'], x))) AS DOUBLE) / len(toks), 6) > 0.05 THEN 0.3 ELSE 0.0 END) +
              |    (CASE WHEN round(CAST(punct AS DOUBLE) / n_chars, 6) < 0.2 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 6) >= 0.7),
              |lt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
              |ls AS (SELECT doc_id,
              |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
              |  len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un'], x))) AS s_es,
              |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','zu'], x))) AS s_de,
              |  len(list_filter(toks, x -> list_contains(['le','la','de','et','un','est','que'], x))) AS s_fr,
              |  len(list_filter(toks, x -> list_contains(['de','shi','le','zai','you','wo','ta'], x))) AS s_zh
              |  FROM lt),
              |english AS (
              |  SELECT doc_id FROM ls
              |  WHERE NOT (s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 AND s_zh = 0)
              |    AND s_en >= greatest(s_es, s_de, s_fr, s_zh)),
              |surviving AS (
              |  SELECT d.* FROM documents d
              |  JOIN quality USING (doc_id) JOIN english USING (doc_id)),
              |kept AS (
              |  SELECT s.* FROM surviving s
              |  JOIN (SELECT min(doc_id) AS doc_id FROM surviving GROUP BY md5(text)) k
              |    USING (doc_id)),
              |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM kept),
              |sh AS (SELECT doc_id,
              |  list_distinct(CASE WHEN len(toks) >= 3 THEN
              |    list_transform(range(1, len(toks) - 1),
              |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])
              |    ELSE [] END) AS shingles FROM t),
              |p AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
              |rare AS (SELECT sh FROM p GROUP BY sh HAVING count(*) <= 10),
              |pr AS (SELECT p.doc_id, p.sh FROM p JOIN rare USING (sh)),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
              |losers AS (
              |  SELECT DISTINCT doc_b AS doc_id FROM pairs
              |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
              |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.6)
              |SELECT doc_id, lang, source, n_chars FROM kept
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin),
      doc = "capstone pipeline: quality + language + exact dedup + near-dup removal in one plan"),

    "corpus_url_filter" -> QueryDef(
      (s, dir) => {
        // RefinedWeb URL curation: domain blocklist + weighted soft
        // word score over the URL string, decided before any content
        // work. The fixture synthesizes four URL shapes per doc: a
        // blocked-subdomain hit, a two-word score at 1.2 (dropped), a
        // one-word score at 0.8 (kept — soft matching means one
        // incidental word is not a verdict), and clean.
        val d = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
        val page = (col("doc_id") % 50).cast("string")
        val url = when(col("doc_id") % 7 === 0,
            concat(lit("https://ads.spam-mirror.example.com/p/"), page))
          .when(col("doc_id") % 7 === 1,
            concat(lit("https://"), col("source"),
              lit(".example.com/free-casino-poker/"), page))
          .when(col("doc_id") % 7 === 2,
            concat(lit("https://"), col("source"),
              lit(".example.com/casino-news/"), page))
          .otherwise(concat(lit("https://"), col("source"),
            lit(".example.com/articles/"), page))
        graft.dedup.UrlDedup.urlFilter(d.withColumn("url", url), "url",
          blockedDomains = Seq("spam-mirror.example.com", "blocked.site"),
          badWords = Seq("casino" -> 0.8, "poker" -> 0.4, "xxx" -> 1.0))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(doc_id % 50 AS VARCHAR) AS page FROM documents),
             |u AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN 'https://ads.spam-mirror.example.com/p/' || page
             |         WHEN doc_id % 7 = 1 THEN 'https://' || source || '.example.com/free-casino-poker/' || page
             |         WHEN doc_id % 7 = 2 THEN 'https://' || source || '.example.com/casino-news/' || page
             |         ELSE 'https://' || source || '.example.com/articles/' || page END AS url
             |  FROM d),
             |h AS (SELECT doc_id, url,
             |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host,
             |    (round(CAST(
             |           CASE WHEN contains(lower(url), 'casino') THEN 0.8 ELSE 0.0 END
             |         + CASE WHEN contains(lower(url), 'poker') THEN 0.4 ELSE 0.0 END
             |         + CASE WHEN contains(lower(url), 'xxx') THEN 1.0 ELSE 0.0 END
             |           AS DOUBLE), 4) + 0.0) AS url_score
             |  FROM u),
             |b AS (SELECT doc_id, host, url_score,
             |    (host = 'spam-mirror.example.com' OR host LIKE '%.spam-mirror.example.com'
             |     OR host = 'blocked.site' OR host LIKE '%.blocked.site') AS blocked
             |  FROM h)
             |SELECT doc_id, host, url_score, blocked,
             |  (NOT blocked AND url_score < 1.0) AS keep
             |FROM b""".stripMargin),
      doc = "RefinedWeb URL curation: domain blocklist (registrable-suffix " +
        "match) + weighted soft word score, decided map-side before any " +
        "content fetch or scoring — no shuffle, no join"),

    "dedup_url" -> QueryDef(
      (s, dir) => {
        // URL-level dedup, the CHEAPEST layer a web corpus runs before
        // any content hashing (CCNet/RefinedWeb): the same page crawled
        // under many surface forms — case noise, default ports,
        // fragments, tracking params, unordered query params, trailing
        // slashes — collapses by canonical URL. The fixture synthesizes
        // four deterministic surface forms per page; three canonicalize
        // together, the http variant stays its own page.
        val d = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
        val page = (col("doc_id") % 40).cast("string")
        // the %10==7 branch is deliberately MALFORMED (no scheme): it
        // must pass through canonicalization unchanged, grouping only
        // with byte-identical strings — never with other malformed URLs
        val url = when(col("doc_id") % 10 === 7,
            concat(lit("www."), col("source"), lit(".example.com/docs/"), page))
          .when(col("doc_id") % 4 === 0,
            concat(lit("https://"), col("source"), lit(".example.com/docs/"), page))
          .when(col("doc_id") % 4 === 1,
            concat(lit("HTTPS://"), col("source"), lit(".EXAMPLE.COM:443/docs/"),
              page, lit("/#top")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://"), col("source"), lit(".example.com/docs/"),
              page, lit("?utm_source=feed&fbclid=z")))
          .otherwise(
            concat(lit("http://"), col("source"), lit(".example.com:80/docs/"),
              page, lit("/?b=2&a=1&ref="), (col("doc_id") % 7).cast("string")))
        graft.dedup.UrlDedup.dedupByUrl(d.withColumn("url", url), "url")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(doc_id % 40 AS VARCHAR) AS page FROM documents),
             |u AS (SELECT doc_id, CASE
             |    WHEN doc_id % 10 = 7 THEN 'www.' || source || '.example.com/docs/' || page
             |    WHEN doc_id % 4 = 0 THEN 'https://' || source || '.example.com/docs/' || page
             |    WHEN doc_id % 4 = 1 THEN 'HTTPS://' || source || '.EXAMPLE.COM:443/docs/' || page || '/#top'
             |    WHEN doc_id % 4 = 2 THEN 'https://' || source || '.example.com/docs/' || page || '?utm_source=feed&fbclid=z'
             |    ELSE 'http://' || source || '.example.com:80/docs/' || page || '/?b=2&a=1&ref=' || CAST(doc_id % 7 AS VARCHAR)
             |  END AS url FROM d),
             |w AS (SELECT doc_id, url,
             |    regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS wellformed FROM u),
             |n AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf
             |  FROM w WHERE wellformed),
             |p AS (SELECT doc_id,
             |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
             |    regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
             |    list_filter(string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
             |      q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)')) AS params
             |  FROM n),
             |c AS (SELECT doc_id,
             |    scheme || '://' ||
             |    (CASE WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
             |          WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
             |          ELSE hostraw END) || path ||
             |    (CASE WHEN len(params) > 0
             |          THEN '?' || array_to_string(list_sort(params), '&')
             |          ELSE '' END) AS canonical_url
             |  FROM p),
             |all_c AS (SELECT doc_id, canonical_url FROM c
             |  UNION ALL SELECT doc_id, url AS canonical_url FROM w WHERE NOT wellformed)
             |SELECT min(doc_id) AS doc_id, canonical_url,
             |  count(*) AS n_forms
             |FROM all_c GROUP BY 2""".stripMargin),
      doc = "URL-level dedup (CCNet/RefinedWeb first layer): canonicalize " +
        "scheme/host case, default ports, fragments, tracking params, query " +
        "order, trailing slashes - map-side expressions + one hash agg on " +
        "the canonical key; min-doc_id keeper, surface-form count as evidence"),

    "dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exact(tbl(s, dir, "documents"), "text"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
             |  count(*) AS copies
             |FROM documents GROUP BY md5(text)""".stripMargin),
      doc = "exact dedup by content hash; text never shuffles, only (hash, id)"),

    "corpus_dedup_apply" -> QueryDef(
      (s, dir) => {
        // the dedup verdict APPLIED to a governed corpus table — the
        // end-to-end shape a 100 TB training-data lake needs: dedup must
        // not rewrite the corpus. The loser set (every copy beyond the
        // canonical min-doc_id per content hash) lands as an O(losers)
        // MERGE-ON-READ equality delete on doc_id: zero corpus files
        // rewritten (pinned), reads anti-join the small delete file,
        // compaction pays the debt at maintenance time. The fixture
        // corpus is documents plus two deterministic clone waves — one
        // with HIGHER ids (originals win) and one with LOWER ids (the
        // clone wins, so canonicalization is exercised both ways).
        import org.apache.spark.sql.functions.min
        val docs = tbl(s, dir, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars")
        val corpus = docs
          .unionByName(docs.filter(col("doc_id") % 7 === 0)
            .withColumn("doc_id", col("doc_id") + 100000L))
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") - 100000L))
        // warm-clone discipline (see corpus_span_rewrite): the seeded
        // corpus is immutable prelude; the MOR equality delete only adds
        // a delete-file commit, never touching base data dirs, so a
        // metadata clone per run is safe and the bench measures the
        // verdict APPLY, not re-writing the seed three times per median
        val wh = MetaQueries.warmCloneWarehouse("corpus_dedup_apply", dir) { b =>
          graft.sink.SnapshotTable(b, "lakehouse", "documents")
            .overwrite(corpus): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "lakehouse", "documents")
        val before = table.currentSnapshot.get.rowCount
        val dirsBefore = table.currentSnapshot.get.dataDirs
        // verdict: keep the canonical min doc_id per content hash; every
        // other copy is a loser. Only (hash, id) shuffles — never text.
        val keep = table.read(s)
          .groupBy(org.apache.spark.sql.functions.md5(col("text")))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val losers = table.read(s).select("doc_id")
          .join(keep, Seq("doc_id"), "left_anti")
        val snap = table.deleteWhere(losers, Seq("doc_id"))
        require(snap.operation == "delete" && snap.dataDirs == dirsBefore &&
          snap.deletes.nonEmpty && snap.rowCount < before,
          "applying the dedup verdict must be a merge-on-read delete, " +
            s"never a corpus rewrite (op=${snap.operation})")
        table.read(s).select("doc_id", "lang", "source", "n_chars")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text, lang, source, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text, lang, source, n_chars
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id - 100000, text, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 0),
             |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text))
             |SELECT c.doc_id, c.lang, c.source, c.n_chars
             |FROM corpus c JOIN keep USING (doc_id)""".stripMargin),
      doc = "dedup verdict applied to the governed corpus: losers erase as an " +
        "O(losers) merge-on-read equality delete — zero corpus files rewritten"),

    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => Dedup.jaccardPairs(
        Dedup.sharedPostings(tbl(s, dir, "documents"), "text", 3),
        minJaccard = 0.4, maxDf = 10),
      Some(s"""WITH $ShinglesSql,
              |p AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
              |rare AS (SELECT sh FROM p GROUP BY sh HAVING count(*) <= 10),
              |pr AS (SELECT p.doc_id, p.sh FROM p JOIN rare USING (sh)),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
              |SELECT doc_a, doc_b, common,
              |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON doc_a = sa.doc_id
              |JOIN sizes sb ON doc_b = sb.doc_id
              |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.4""".stripMargin),
      doc = "n-gram Jaccard near-dup via inverted-index join + frequent-shingle cap"),

    "dedup_decontaminate" -> QueryDef(
      (s, dir) => Dedup.decontaminate(
        // the "benchmark" is docs with doc_id % 50 == 0 (an arbitrary,
        // sf-independent 2% eval set); reuses the shared postings index.
        // spanTokens = 3 here so the fixture's short docs produce spans;
        // production default is the GPT-3-style 13-token span
        tbl(s, dir, "documents"), "text",
        benchPred = pmod(col("doc_id"), lit(50)) === 0,
        spanTokens = 3, minCommon = 3, maxDf = 20),
      Some(s"""WITH $ShinglesSql,
              |p AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
              |rare AS (SELECT sh FROM p GROUP BY sh HAVING count(*) <= 20),
              |pr AS (SELECT p.doc_id, p.sh FROM p JOIN rare USING (sh)),
              |bench AS (SELECT doc_id AS bench_id, sh FROM pr WHERE doc_id % 50 = 0),
              |corpus AS (SELECT doc_id, sh FROM pr WHERE doc_id % 50 <> 0)
              |SELECT c.doc_id, b.bench_id, count(*) AS common
              |FROM corpus c JOIN bench b USING (sh)
              |GROUP BY 1, 2
              |HAVING count(*) >= 3""".stripMargin),
      doc = "benchmark decontamination: corpus docs sharing >=3 rare n-grams " +
        "with an eval doc (broadcast bench postings, df-capped fan-out)"),

    "dedup_decontaminate_spans" -> QueryDef(
      (s, dir) => Dedup.contaminationSpans(
        // same fixture frame as dedup_decontaminate: 2% eval set by id,
        // 3-token grams so the short synthetic docs produce spans
        tbl(s, dir, "documents"), "text",
        benchPred = pmod(col("doc_id"), lit(50)) === 0,
        spanTokens = 3, maxDf = 20),
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
             |grams AS (
             |  SELECT doc_id, CAST(i AS INT) AS pos,
             |    md5(array_to_string(toks[CAST(i AS INT) + 1 : CAST(i AS INT) + 3], ' ')) AS g
             |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 2)) AS i) gs
             |  WHERE len(toks) >= 3),
             |rare AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df
             |  FROM grams GROUP BY g) WHERE df <= 20),
             |rg AS (SELECT grams.doc_id, grams.pos, grams.g FROM grams JOIN rare USING (g)),
             |bench AS (SELECT DISTINCT doc_id AS bench_id, g FROM rg WHERE doc_id % 50 = 0),
             |hits AS (SELECT DISTINCT c.doc_id, b.bench_id, c.pos
             |  FROM rg c JOIN bench b USING (g) WHERE c.doc_id % 50 <> 0),
             |flag AS (
             |  SELECT doc_id, bench_id, pos,
             |    CASE WHEN pos <= max(pos + 3) OVER (PARTITION BY doc_id, bench_id
             |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 0 ELSE 1 END AS ni
             |  FROM hits),
             |isl AS (SELECT doc_id, bench_id, pos,
             |  sum(ni) OVER (PARTITION BY doc_id, bench_id ORDER BY pos) AS island FROM flag)
             |SELECT doc_id, bench_id, CAST(min(pos) AS INT) AS span_start,
             |  CAST(max(pos) + 3 AS INT) AS span_end,
             |  CAST(max(pos) + 3 - min(pos) AS INT) AS span_tokens
             |FROM isl GROUP BY doc_id, bench_id, island""".stripMargin),
      doc = "contamination audit evidence: per (train doc, eval doc) pair, the " +
        "exact token spans covered by shared rare n-grams - decontaminate " +
        "says WHETHER, this says WHERE (the masking pass keys on positions)"),

    "dedup_containment" -> QueryDef(
      (s, dir) => Dedup.containmentPairs(
        Dedup.sharedPostings(tbl(s, dir, "documents"), "text", 3),
        minContainment = 0.5, maxDf = 10),
      Some(s"""WITH $ShinglesSql,
              |p AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
              |rare AS (SELECT sh FROM p GROUP BY sh HAVING count(*) <= 10),
              |pr AS (SELECT p.doc_id, p.sh FROM p JOIN rare USING (sh)),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
              |SELECT doc_a, doc_b, common,
              |  round(CAST(common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
              |FROM pairs
              |JOIN sizes sa ON doc_a = sa.doc_id
              |JOIN sizes sb ON doc_b = sb.doc_id
              |WHERE round(CAST(common AS DOUBLE) / least(sa.n, sb.n), 6) >= 0.5""".stripMargin),
      doc = "containment-scored near-dups (Broder): common / min(|A|,|B|) - " +
        "catches a short doc quoted inside a long one that Jaccard misses"),

    "dedup_cdc_containment" -> QueryDef(
      // the dedup CONSUMER of the bounded CDC chunker: docs sharing >= 2
      // bounded-chunk keys pair up, containment-scored — shift-robust
      // (an excerpt shares its source's chunk keys at ANY offset; fixed
      // windows reshift, whole-doc hashes miss everything partial).
      // Chunk-key postings are df-capped like every pair generator here
      // (a boilerplate chunk in 10^4 docs is boilerplate, not 10^8
      // candidate pairs); the oracle replays the identical bounded walk
      // (recursive closed form) + pair arithmetic.
      (s, dir) => Dedup.cdcContainmentPairs(
        tbl(s, dir, "documents"), "text",
        k = 8, divisor = 64, minLen = 32, maxLen = 128,
        minShared = 2, maxDf = 8),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, text, CAST(length(text) AS INT) AS len
             |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
             |b AS (SELECT doc_id, text, len,
             |  CASE WHEN len >= 8 THEN list_filter(
             |    list_transform(range(8, len + 1), i ->
             |      CASE WHEN CAST(CONCAT('0x',
             |          substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 15))
             |        AS BIGINT) % 64 = 0 THEN CAST(i AS INT) END),
             |    x -> x IS NOT NULL AND x < len)
             |  ELSE [] END AS cs
             |  FROM d),
             |walk AS (
             |  SELECT doc_id, text, len, cs, 0 AS s, 0 AS e, 0 AS ord FROM b
             |  UNION ALL
             |  SELECT doc_id, text, len, cs, e AS s,
             |    LEAST(e + 128,
             |      COALESCE(list_min(list_filter(cs, c -> c >= e + 32)), len)) AS e,
             |    ord + 1
             |  FROM walk WHERE e < len),
             |ch AS (SELECT DISTINCT doc_id,
             |    md5(substr(text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS ck
             |  FROM walk WHERE ord >= 1),
             |dfq AS (SELECT ck, count(*) AS df FROM ch GROUP BY 1),
             |rare AS (SELECT ch.doc_id, ch.ck FROM ch JOIN dfq USING (ck)
             |  WHERE df <= 8),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
             |  FROM rare a JOIN rare b ON a.ck = b.ck AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY 1)
             |SELECT doc_a, doc_b, shared,
             |  round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
             |FROM pairs
             |JOIN sz sa ON doc_a = sa.doc_id
             |JOIN sz sb ON doc_b = sb.doc_id
             |WHERE shared >= 2""".stripMargin),
      doc = "shift-robust near-dup pairs over bounded CDC chunk keys: docs " +
        "sharing >= 2 chunk keys, containment = shared/min(|A|,|B|); " +
        "df-capped chunk postings (boilerplate chunks can't explode " +
        "pairs), equi-join candidate generation; oracle replays the " +
        "bounded walk + pair arithmetic bit-exactly"),

    "dedup_incremental" -> QueryDef(
      (s, dir) => {
        // the "new batch" is docs with doc_id % 10 == 7 (an arbitrary,
        // sf-independent 10% delta); pairs among the other 90% are
        // excluded — the steady-state ingestion check
        import org.apache.spark.sql.functions.{col, pmod, lit}
        val docs = tbl(s, dir, "documents")
        Dedup.incrementalJaccardPairs(
          Dedup.sharedPostings(docs, "text", 3),
          docs.filter(pmod(col("doc_id"), lit(10)) === 7).select("doc_id"),
          minJaccard = 0.4)
      },
      Some(s"""WITH $ShinglesSql,
              |p AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
              |rare AS (SELECT sh FROM p GROUP BY sh HAVING count(*) <= 10),
              |pr AS (SELECT p.doc_id, p.sh FROM p JOIN rare USING (sh)),
              |prn AS (SELECT * FROM pr WHERE doc_id % 10 = 7),
              |pairs AS (
              |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
              |    greatest(a.doc_id, b.doc_id) AS doc_b, count(*) AS common
              |  FROM pr a JOIN prn b ON a.sh = b.sh AND a.doc_id <> b.doc_id
              |    AND (a.doc_id % 10 <> 7 OR a.doc_id < b.doc_id)
              |  GROUP BY 1, 2),
              |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
              |SELECT doc_a, doc_b, common,
              |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON doc_a = sa.doc_id
              |JOIN sizes sb ON doc_b = sb.doc_id
              |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.4""".stripMargin),
      doc = "batch-vs-corpus near-dup check (ingestion shape): cost scales with the delta, not corpus^2"),

    "dedup_minhash_persisted" -> QueryDef(
      (s, dir) => {
        // the PERSISTED LSH index — the dedup twin of the persisted ANN
        // index: corpus band buckets AND the shingle postings (the
        // inverted index exact verification joins) build ONCE and store
        // as snapshot tables; each ingested delta hashes only ITSELF
        // (O(delta) map-side shingle+signature work), joins the stored
        // buckets for candidates, and exact-verifies against stored ∪
        // delta postings. At 100 TB the corpus text is never touched on
        // ingest — the two index tables are the whole contract (and the
        // delta's buckets + postings append as its batch commits).
        import org.apache.spark.sql.functions.pmod
        val docs = tbl(s, dir, "documents")
        val wh = MetaQueries.warmBaseDir("dedup_minhash_index", dir) { b =>
          val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
          val postings = Dedup.shinglePostings(corpus, "text", 3)
          graft.sink.SnapshotTable(b, "dedup", "minhash_buckets").overwrite(
            Dedup.bandBuckets(Dedup.minhashSignature(postings), rowsPerBand = 2)): Unit
          graft.sink.SnapshotTable(b, "dedup", "shingle_postings")
            .overwrite(postings): Unit
        }
        val stored = graft.sink.SnapshotTable(wh, "dedup", "minhash_buckets").read(s)
        val storedPostings =
          graft.sink.SnapshotTable(wh, "dedup", "shingle_postings").read(s)
        val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        // through the keyed cache: the delta's tokenize+window+distinct
        // pipeline feeds TWO consumers in one plan (signature->buckets
        // and the verification union) — uncached it would execute twice
        val deltaPostings = Dedup.sharedPostings(delta, "text", 3)
        val deltaBuckets = Dedup.bandBuckets(
          Dedup.minhashSignature(deltaPostings), rowsPerBand = 2)
        Dedup.minhashPersistedPairs(stored, deltaBuckets,
          storedPostings.unionByName(deltaPostings), minJaccard = 0.4)
      },
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |bn AS (SELECT * FROM banded WHERE doc_id % 10 = 7),
              |cand AS (
              |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
              |    greatest(a.doc_id, b.doc_id) AS doc_b
              |  FROM banded a JOIN bn b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "MinHash LSH with a PERSISTED band-bucket index: the delta hashes " +
        "only itself, candidates come from the stored bucket table " +
        "(delta-vs-corpus + delta-vs-delta), exact-Jaccard verified — " +
        "steady-state ingest dedup where corpus text is never re-shingled"),

    "dedup_minhash_index_append" -> QueryDef(
      (s, dir) => {
        // the index MAINTENANCE leg the persisted key's contract rests
        // on: after a batch's verdicts, its buckets AND postings append
        // to the index tables in O(delta) commits — so the NEXT batch's
        // candidates see it through the INDEX, never by re-reading its
        // text. Two sequential deltas: batch 1 (%10==7) appends, then
        // batch 2 (%10==3) queries the grown index — its output
        // includes batch-2-vs-batch-1 pairs that exist ONLY if the
        // append really landed (the require pins the O(delta) shape).
        import org.apache.spark.sql.functions.pmod
        val docs = tbl(s, dir, "documents")
        // appends are commits: the seed index builds once per session,
        // the per-run appends land on a metadata clone
        val wh = MetaQueries.warmCloneWarehouse("dedup_minhash_index_app", dir) { b =>
          val corpus = docs.filter(
            pmod(col("doc_id"), lit(10)) =!= 7 && pmod(col("doc_id"), lit(10)) =!= 3)
          val postings = Dedup.shinglePostings(corpus, "text", 3)
          graft.sink.SnapshotTable(b, "dedup", "mh_app_buckets").overwrite(
            Dedup.bandBuckets(Dedup.minhashSignature(postings), rowsPerBand = 2)): Unit
          graft.sink.SnapshotTable(b, "dedup", "mh_app_postings")
            .overwrite(postings): Unit
        }
        val bTable = graft.sink.SnapshotTable(wh, "dedup", "mh_app_buckets")
        val pTable = graft.sink.SnapshotTable(wh, "dedup", "mh_app_postings")
        val d1 = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        val d1Postings = Dedup.sharedPostings(d1, "text", 3)
        val dirsBefore = bTable.currentSnapshot.get.dataDirs.size
        val sb = bTable.append(
          Dedup.bandBuckets(Dedup.minhashSignature(d1Postings), rowsPerBand = 2))
        val sp = pTable.append(d1Postings)
        require(sb.operation == "append" && sp.operation == "append" &&
          sb.dataDirs.size == dirsBefore + 1,
          "index maintenance must be one O(delta) append per table, not a rewrite")
        val d2 = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        val d2Postings = Dedup.sharedPostings(d2, "text", 3)
        Dedup.minhashPersistedPairs(
          bTable.read(s),
          Dedup.bandBuckets(Dedup.minhashSignature(d2Postings), rowsPerBand = 2),
          pTable.read(s).unionByName(d2Postings), minJaccard = 0.4)
      },
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |bn AS (SELECT * FROM banded WHERE doc_id % 10 = 3),
              |cand AS (
              |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
              |    greatest(a.doc_id, b.doc_id) AS doc_b
              |  FROM banded a JOIN bn b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "persisted-LSH-index MAINTENANCE: a batch's buckets + postings " +
        "append in O(delta) commits, so the next batch's candidates see it " +
        "through the index (batch-2-vs-batch-1 pairs prove the append landed) " +
        "— the steady-state ingest loop closed end to end"),

    "dedup_minhash_index_compact" -> QueryDef(
      (s, dir) => {
        // the COMPACTION leg of index maintenance: append-per-ingest
        // grows the band-bucket and postings tables one small dir per
        // batch, so after N ingests every probe fans over N dirs —
        // compaction folds them back into target-size files as ONE
        // `replace` commit per table (the same SnapshotTable.compact
        // machinery as maintenance_compact, applied to the index
        // artifacts), and the probe's verdicts must be bit-identical
        // before and after (the index is pure content; only the file
        // layout may change). Fixture: seed index (all but %10∈{7,3})
        // + TWO fragmenting delta appends (batch 7 in halves), then a
        // %10==3 probe measured against the index pre- and
        // post-compaction.
        import org.apache.spark.sql.functions.pmod
        val docs = tbl(s, dir, "documents")
        val wh = MetaQueries.warmCloneWarehouse("dedup_minhash_index_cpt", dir) { b =>
          val corpus = docs.filter(
            pmod(col("doc_id"), lit(10)) =!= 7 && pmod(col("doc_id"), lit(10)) =!= 3)
          val postings = Dedup.shinglePostings(corpus, "text", 3)
          graft.sink.SnapshotTable(b, "dedup", "mh_cpt_buckets").overwrite(
            Dedup.bandBuckets(Dedup.minhashSignature(postings), rowsPerBand = 2)): Unit
          graft.sink.SnapshotTable(b, "dedup", "mh_cpt_postings")
            .overwrite(postings): Unit
          Seq(7, 17).foreach { r =>
            val dp = Dedup.shinglePostings(
              docs.filter(pmod(col("doc_id"), lit(20)) === r), "text", 3)
            graft.sink.SnapshotTable(b, "dedup", "mh_cpt_buckets").append(
              Dedup.bandBuckets(Dedup.minhashSignature(dp), rowsPerBand = 2)): Unit
            graft.sink.SnapshotTable(b, "dedup", "mh_cpt_postings").append(dp): Unit
          }
        }
        val bT = graft.sink.SnapshotTable(wh, "dedup", "mh_cpt_buckets")
        val pT = graft.sink.SnapshotTable(wh, "dedup", "mh_cpt_postings")
        val probePostings = Dedup.sharedPostings(
          docs.filter(pmod(col("doc_id"), lit(10)) === 3), "text", 3)
        val probeBuckets = Dedup.bandBuckets(
          Dedup.minhashSignature(probePostings), rowsPerBand = 2)
        def pairs() = Dedup.minhashPersistedPairs(bT.read(s), probeBuckets,
          pT.read(s).unionByName(probePostings), minJaccard = 0.4)
        // the pre-compaction verdicts are a DETERMINISTIC property of
        // the warm fixture (every run's clone has identical content),
        // so the proof's baseline collects once per session — the bench
        // measures compaction + one probe, not three probes
        val before = MetaQueries.memoFixture("dedup_mh_cpt_before", dir) {
          pairs().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        }
        val bDirs = bT.currentSnapshot.get.dataDirs.size
        val pDirs = pT.currentSnapshot.get.dataDirs.size
        require(bDirs >= 3 && pDirs >= 3,
          s"fixture must be fragmented before compaction (got $bDirs/$pDirs dirs)")
        val cb = bT.compact(s)
        val cp = pT.compact(s)
        require(cb.operation == "replace" && cp.operation == "replace",
          "index compaction must commit replace snapshots")
        require(bT.currentSnapshot.get.dataDirs.size < bDirs &&
          pT.currentSnapshot.get.dataDirs.size < pDirs,
          "compaction must fold the per-ingest delta dirs")
        // materialize the probe ONCE inside the timed region: the
        // bit-identity proof's collect and the returned frame otherwise
        // each re-run the whole LSH probe pipeline (localCheckpoint =
        // within-run reuse, not cross-run caching)
        val after = pairs().localCheckpoint()
        require(after.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == before,
          "compaction must not change probe verdicts — same pairs, same jaccards")
        after
      },
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |bn AS (SELECT * FROM banded WHERE doc_id % 10 = 3),
              |cand AS (
              |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
              |    greatest(a.doc_id, b.doc_id) AS doc_b
              |  FROM banded a JOIN bn b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "persisted-LSH-index COMPACTION: the per-ingest delta dirs fold " +
        "back into target-size files as one replace commit per index table " +
        "(same machinery as maintenance_compact), probe verdicts proven " +
        "bit-identical before/after — steady-state ingest stays O(delta) " +
        "without the probe fan-out growing with ingest count"),

    "dedup_minhash_index_evict" -> QueryDef(
      (s, dir) => {
        // EVICTION completes the persisted-index lifecycle (build →
        // probe → append → compact → evict): when corpus docs are
        // DELETED (decontamination, takedowns, retention), their
        // buckets and postings must leave the index too — otherwise
        // every future probe reports pairs against GHOSTS and exact
        // verification joins deleted postings. Eviction is one MOR
        // equality-delete commit per index table on doc_id —
        // O(|evicted|), no data dir rewritten, reads anti-join the
        // delete file (the same contract corpus-side deletes get).
        // Fixture: index over everything but the %10==3 probe batch;
        // the %10∈{7,9} slices then evict. The requires pin
        // non-vacuity (the probe really reported a pair against a
        // to-be-evicted doc first — planted near-dups guarantee one at
        // every SF) and the post-eviction ghost-free contract.
        import org.apache.spark.sql.functions.pmod
        val docs = tbl(s, dir, "documents")
        val wh = MetaQueries.warmCloneWarehouse("dedup_minhash_index_evc", dir) { b =>
          val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
          val postings = Dedup.shinglePostings(corpus, "text", 3)
          graft.sink.SnapshotTable(b, "dedup", "mh_evc_buckets").overwrite(
            Dedup.bandBuckets(Dedup.minhashSignature(postings), rowsPerBand = 2)): Unit
          graft.sink.SnapshotTable(b, "dedup", "mh_evc_postings")
            .overwrite(postings): Unit
        }
        val bT = graft.sink.SnapshotTable(wh, "dedup", "mh_evc_buckets")
        val pT = graft.sink.SnapshotTable(wh, "dedup", "mh_evc_postings")
        val probePostings = Dedup.sharedPostings(
          docs.filter(pmod(col("doc_id"), lit(10)) === 3), "text", 3)
        val probeBuckets = Dedup.bandBuckets(
          Dedup.minhashSignature(probePostings), rowsPerBand = 2)
        def pairs() = Dedup.minhashPersistedPairs(bT.read(s), probeBuckets,
          pT.read(s).unionByName(probePostings), minJaccard = 0.4)
        val isGhost =
          pmod(col("doc_a"), lit(10)).isin(7, 9) ||
            pmod(col("doc_b"), lit(10)).isin(7, 9)
        // the ghost-pair proof is a deterministic property of the warm
        // fixture — prove it once per session, not once per bench sample
        MetaQueries.memoFixture("dedup_mh_evc_ghost", dir) {
          require(pairs().filter(isGhost).limit(1).collect().nonEmpty,
            "fixture must report a pair against a to-be-evicted doc first")
          true
        }: Unit
        val evictKeys = docs
          .filter(pmod(col("doc_id"), lit(10)).isin(7, 9)).select("doc_id")
        val db = bT.deleteWhere(evictKeys, Seq("doc_id"))
        val dp = pT.deleteWhere(evictKeys, Seq("doc_id"))
        require(db.operation == "delete" && dp.operation == "delete",
          "eviction must be O(|evicted|) equality-delete commits, not rewrites")
        // materialize ONCE: the ghost-free proof and the returned frame
        // otherwise each re-run the whole probe pipeline
        val after = pairs().localCheckpoint()
        require(after.filter(isGhost).limit(1).collect().isEmpty,
          "evicted docs must not appear in any probe pair")
        after
      },
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |bn AS (SELECT * FROM banded WHERE doc_id % 10 = 3),
              |cand AS (
              |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
              |    greatest(a.doc_id, b.doc_id) AS doc_b
              |  FROM banded a JOIN bn b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
              |    AND a.doc_id % 10 NOT IN (7, 9)),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "persisted-LSH-index EVICTION: deleted corpus docs leave the index " +
        "via one MOR equality-delete commit per table (O(|evicted|), no dir " +
        "rewritten); require-pinned ghost-pair proof before and ghost-free " +
        "probe after — the index lifecycle (build/probe/append/compact/evict) " +
        "closed end to end"),

    "dedup_minhash" -> QueryDef(
      (s, dir) => Dedup.minhashLshPairs(
        tbl(s, dir, "documents"), "text", n = 3, rowsPerBand = 2, minJaccard = 0.4),
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "MinHash(8) + LSH(4 bands x 2) candidate pairs, Jaccard-verified"),

    "dedup_minhash_capped" -> QueryDef(
      (s, dir) => {
        // the HOT-BUCKET CAP — production LSH's quadratic-blowup
        // safeguard: a degenerate bucket with B members (boilerplate /
        // templated pages sharing a signature slice) yields B²/2
        // candidates regardless of banding quality, so buckets above
        // the cap are skipped for candidate generation (one
        // partial-agg size pass + an equi join back). The fixture cap
        // of 2 is deliberately tiny so the skip path is EXERCISED at
        // every SF (production caps sit in the hundreds); the require
        // pins non-vacuity — at least one bucket really got dropped.
        // The recall trade is deliberate and documented on the
        // operator: over-cap members usually co-occur in a colder
        // band, and hot buckets mostly hold near-identical boilerplate
        // that exact dedup removes anyway.
        val docs = tbl(s, dir, "documents")
        val cap = 2
        val banded = Dedup.bandBuckets(Dedup.minhashSignature(
          Dedup.sharedPostings(docs, "text", 3)), rowsPerBand = 2)
        val probe = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("total"),
            count(when(col("c") > cap, 1)).as("hot")).head()
        require(probe.getLong(1) > 0,
          s"fixture must contain at least one over-cap bucket (cap=$cap)")
        Dedup.minhashLshPairsCapped(docs, "text", n = 3,
          rowsPerBand = 2, minJaccard = 0.4, maxBucket = cap)
      },
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, t.b AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |cold AS (SELECT band, bucket FROM banded
              |  GROUP BY band, bucket HAVING count(*) <= 2),
              |bk AS (SELECT banded.* FROM banded JOIN cold USING (band, bucket)),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM bk a JOIN bk b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
              |verified AS (
              |  SELECT doc_a, doc_b,
              |    len(list_intersect(sa.shingles, sb.shingles)) AS common,
              |    len(sa.shingles) AS na, len(sb.shingles) AS nb
              |  FROM cand
              |  JOIN sh sa ON doc_a = sa.doc_id
              |  JOIN sh sb ON doc_b = sb.doc_id)
              |SELECT doc_a, doc_b,
              |  round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
              |FROM verified
              |WHERE round(CAST(common AS DOUBLE) / (na + nb - common), 6) >= 0.4""".stripMargin),
      doc = "MinHash LSH with the production hot-bucket cap: over-cap buckets " +
        "skipped for candidate generation (B-member bucket = B²/2 candidates " +
        "— one hot bucket turns candidate generation quadratic); size pass + " +
        "equi join back, both corpus-scale safe; oracle replays the cap; " +
        "dedup_minhash_cap_stats reports what the cap skipped"),

    "dedup_minhash_cap_stats" -> QueryDef(
      (s, dir) =>
        // the cap's TELEMETRY — "no silent caps": per band, the buckets
        // the cap=2 fixture drops and the candidate-pair volume
        // (Σ B·(B−1)/2) those buckets would have generated, so a user
        // can read exactly how much candidate recall the capped run
        // above traded on this corpus. Two keyed aggregations over the
        // same shared postings/signature pipeline the operator uses —
        // never a pair join, safe at any scale.
        Dedup.minhashLshCapStats(tbl(s, dir, "documents"), "text", n = 3,
          rowsPerBand = 2, maxBucket = 2),
      Some(s"""WITH $ShinglesSql,
              |$SigsSql,
              |banded AS (
              |  SELECT doc_id, CAST(t.b AS INT) AS band,
              |    CONCAT(sig[2 * CAST(t.b AS INT) + 1], ':', sig[2 * CAST(t.b AS INT) + 2]) AS bucket
              |  FROM sigs, range(0, 4) t(b)),
              |bs AS (SELECT band, bucket, count(*) AS bc FROM banded GROUP BY 1, 2),
              |agg AS (
              |  SELECT band,
              |    count(*) AS buckets,
              |    count(CASE WHEN bc > 2 THEN 1 END) AS buckets_skipped,
              |    CAST(sum(bc * (bc - 1) // 2) AS BIGINT) AS pairs_total,
              |    CAST(coalesce(sum(CASE WHEN bc > 2 THEN bc * (bc - 1) // 2 END), 0)
              |      AS BIGINT) AS pairs_skipped
              |  FROM bs GROUP BY 1)
              |SELECT band, buckets, buckets_skipped, pairs_total, pairs_skipped,
              |  round(CAST(buckets_skipped AS DOUBLE) / greatest(buckets, 1), 6)
              |    AS bucket_skip_frac,
              |  round(CAST(pairs_skipped AS DOUBLE) / CAST(greatest(pairs_total, 1) AS DOUBLE), 6)
              |    AS pair_skip_frac
              |FROM agg""".stripMargin),
      doc = "hot-bucket cap telemetry (the 'no silent caps' surface for " +
        "dedup_minhash_capped): per-band skipped-bucket count, skipped " +
        "candidate-pair volume sum(B*(B-1)/2), and skip fractions; integer " +
        "pair arithmetic (div), fractions rounded 6dp; oracle replays the " +
        "same bucket-size arithmetic"),

    "dedup_simhash" -> QueryDef(
      (s, dir) => Dedup.sharedSimhash(tbl(s, dir, "documents"), "text"),
      // integer bit math ((h >> b) & 1) mirroring the engine's shiftright,
      // and the outer list_sum CAST to BIGINT: DuckDB's HUGEINT otherwise
      // reaches the driver's pandas compare as float64 and hash-mismatches
      // Spark's int64 even when every value is equal
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
             |      t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS th
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(list_sum(list_transform(range(0, 60), b -> CASE
             |    WHEN list_sum(list_transform(th, h -> CASE
             |      WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
             |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
             |FROM w""".stripMargin),
      doc = "60-bit SimHash signatures: per-bit majority vote of token hashes"),

    "dedup_simhash_pairs" -> QueryDef(
      (s, dir) => Dedup.simhashPairs(tbl(s, dir, "documents"), "text", maxHamming = 2),
      Some(s"""WITH $SimhashPairsCte
              |SELECT doc_a, doc_b, hamming FROM hp""".stripMargin),
      doc = "SimHash 4x15-bit band-bucket candidates + exact Hamming filter (pigeonhole-complete for d<=3)"),

    "dedup_clusters" -> QueryDef(
      (s, dir) => {
        // pairwise matches -> dedup GROUPS: connected components over
        // the near-dup pair graph (keep min doc_id per cluster, drop
        // the rest). Routed through the bounded derived cache: the
        // result is eagerly materialized by the iterative fixpoint, and
        // the cache owns (and eventually releases) the persisted copy.
        val docs = tbl(s, dir, "documents")
        Dedup.sharedDerived(docs, "dedup_clusters") {
          Dedup.connectedComponents(
            Dedup.simhashPairs(docs, "text", maxHamming = 2))
        }
      },
      // oracle: transitive closure by recursive CTE, then per-node
      // component min + size — the same fixpoint min-label converges to
      Some(s"""WITH RECURSIVE $SimhashPairsCte,
              |e AS (SELECT doc_a AS a, doc_b AS b FROM hp
              |      UNION SELECT doc_b, doc_a FROM hp),
              |n AS (SELECT DISTINCT a AS doc FROM e),
              |reach(a, b) AS (
              |  SELECT doc, doc FROM n
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
              |SELECT a AS doc_id, min(b) AS cluster_id,
              |  CAST(count(DISTINCT b) AS BIGINT) AS cluster_size
              |FROM reach GROUP BY a""".stripMargin),
      doc = "near-dup pair graph -> dedup groups: distributed min-label connected components"),

    "dedup_cluster_canonical" -> QueryDef(
      (s, dir) => {
        // production canonicalization: within each near-dup cluster keep
        // the HIGHEST-QUALITY copy, not the lowest id (RefinedWeb-style
        // pipelines keep the best-scoring duplicate; min-id is only the
        // arbitrary default). Shares the cached cluster table with
        // dedup_clusters (same tag), joins the quality signal, and ranks
        // inside each cluster — a window bounded by cluster size, never
        // corpus-wide.
        val docs = tbl(s, dir, "documents")
        val clusters = Dedup.sharedDerived(docs, "dedup_clusters") {
          Dedup.connectedComponents(
            Dedup.simhashPairs(docs, "text", maxHamming = 2))
        }
        Dedup.canonicalByQuality(clusters,
          graft.text.TextAnalysis.qualityScore(docs, "text")
            .select(col("doc_id"), col("quality_score")))
      },
      Some(s"""WITH RECURSIVE $SimhashPairsCte,
              |e AS (SELECT doc_a AS a, doc_b AS b FROM hp
              |      UNION SELECT doc_b, doc_a FROM hp),
              |n AS (SELECT DISTINCT a AS doc FROM e),
              |reach(a, b) AS (
              |  SELECT doc, doc FROM n
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
              |cl AS (SELECT a AS doc_id, min(b) AS cluster_id,
              |  CAST(count(DISTINCT b) AS BIGINT) AS cluster_size
              |  FROM reach GROUP BY a),
              |${TextQueries.QualityScoreCte}
              |SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, q.quality_score,
              |  (row_number() OVER (PARTITION BY cl.cluster_id
              |    ORDER BY q.quality_score DESC, cl.doc_id ASC) = 1) AS kept
              |FROM cl JOIN qscore q USING (doc_id)""".stripMargin),
      doc = "quality-aware cluster canonicalization: keep each near-dup " +
        "cluster's best-scoring copy (not the arbitrary min id); shares " +
        "the cached cluster table and bounds ranking by cluster size"),

    "dedup_semantic" -> QueryDef(
      (s, dir) => Dedup.semanticDedup(tbl(s, dir, "embeddings"), k = 8, iters = 2, minCos = 0.35),
      // Oracle: the unrolled Lloyd CTE (same as embedding_kmeans) gives
      // the trained cells; within-cell smaller-id near-dups drop.
      Some(s"""WITH ${SimilarityQueries.kmeansCte(8, 2)},
             |ind AS (SELECT e.vec_id, a.cell, e.v FROM e JOIN a2 a USING (vec_id)),
             |p AS (
             |  SELECT b.vec_id AS vec_b,
             |    round(
             |      list_reduce(list_transform(range(1, 65),
             |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), (x, y) -> x + y) /
             |      (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y)) *
             |       sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))), 4) AS cos
             |  FROM ind a JOIN ind b ON a.cell = b.cell AND a.vec_id < b.vec_id),
             |d AS (SELECT DISTINCT vec_b FROM p WHERE cos >= 0.35)
             |SELECT i.vec_id, i.cell, (d.vec_b IS NULL) AS kept
             |FROM ind i LEFT JOIN d ON i.vec_id = d.vec_b""".stripMargin),
      doc = "SemDeDup: k-means cells as blocking, drop smaller-id cosine near-dups " +
        "within each trained cell (train -> index -> prune chain)"),

    "dedup_embedding" -> QueryDef(
      (s, dir) => Dedup.embeddingPairs(tbl(s, dir, "embeddings"), "label", minCos = 0.3),
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS block,
             |    round(
             |      list_reduce(list_transform(range(1, 65),
             |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), (x, y) -> x + y) /
             |      (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y)) *
             |       sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))), 4) AS cos
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT vec_a, vec_b, block, cos FROM p WHERE cos >= 0.3""".stripMargin),
      doc = "embedding cosine near-dup within blocking key (IVF-cell pattern)"),

    "dedup_substring_spans" -> QueryDef(
      (s, dir) => Dedup.substringSpans(tbl(s, dir, "documents"), "text", w = 12),
      Some(s"""WITH ${substringIslandsSql(12)}
              |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
              |  CAST(max(pos) + 12 AS INT) AS span_end,
              |  CAST(max(pos) + 12 - min(pos) AS INT) AS span_tokens
              |FROM isl GROUP BY doc_id, island""".stripMargin),
      doc = "exact-substring dedup (Lee et al. 2022): maximal token spans " +
        "covered by any 12-token window repeated corpus-wide - the " +
        "span-cut list a training pipeline applies before tokenization"),

    "dedup_substring_stats" -> QueryDef(
      (s, dir) => Dedup.substringStats(tbl(s, dir, "documents"), "text", w = 12),
      Some(s"""WITH ${substringIslandsSql(12)},
              |spans AS (
              |  SELECT doc_id, CAST(sum(sp) AS BIGINT) AS dup_tokens FROM (
              |    SELECT doc_id, max(pos) + 12 - min(pos) AS sp
              |    FROM isl GROUP BY doc_id, island) GROUP BY doc_id),
              |sz AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
              |  AS n_tokens FROM documents)
              |SELECT sz.doc_id, sz.n_tokens,
              |  coalesce(spans.dup_tokens, 0) AS dup_tokens,
              |  round(coalesce(spans.dup_tokens, 0) / CAST(sz.n_tokens AS DOUBLE), 6) AS dup_ratio
              |FROM sz LEFT JOIN spans USING (doc_id)""".stripMargin),
      doc = "per-doc duplicated-token coverage under exact-substring dedup - " +
        "the corpus-health readout that decides whether span-cutting pays"),

    "dedup_substring_apply" -> QueryDef(
      (s, dir) => Dedup.substringApply(tbl(s, dir, "documents"), "text", w = 12),
      Some(s"""WITH ${substringIslandsSql(12)},
              |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
              |  FROM isl GROUP BY doc_id, island),
              |tk AS (SELECT doc_id, CAST(gs.i AS INT) AS pos,
              |    toks[CAST(gs.i AS INT) + 1] AS tok
              |  FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) gs),
              |kept AS (
              |  SELECT tk.doc_id, tk.pos, tk.tok FROM tk
              |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
              |    WHERE sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e)),
              |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
              |  CAST(count(*) AS BIGINT) AS kept_tokens FROM kept GROUP BY doc_id)
              |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
              |  coalesce(agg.kept_tokens, 0) AS kept_tokens,
              |  CAST(len(toks) AS INT) AS n_tokens
              |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin),
      doc = "span-cut rewrite: duplicated-span tokens removed, survivors " +
        "rejoin in order; fully-duplicated docs come back empty, not dropped"),

    "corpus_span_rewrite" -> QueryDef(
      (s, dir) => {
        // exact-substring dedup closing the loop through the engine's
        // merge-on-read path: the span-cut rewrites of the affected docs
        // land as ONE atomic positional-delete + append commit costing
        // O(affected rows) — zero corpus data files rewritten (pinned
        // below: every original dir survives), reads reconstruct. At
        // 100 TB a span-cut pass touches a few percent of docs; COW
        // would rewrite every file holding one.
        val docs = tbl(s, dir, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars")
        // warm-clone discipline (see sink_positional_delete /
        // maintenance_compact): the corpus seed commit is immutable
        // prelude — build it once per session, clone metadata per run,
        // so the bench measures the span-cut MERGE, not re-writing the
        // same seed table three times per median. Clone-safe: the MOR
        // merge only ADDS a positional-delete + append commit, it never
        // touches the base's data dirs (unlike the retention/expiry
        // keys, which physically delete dirs and must rebuild per run).
        val wh = MetaQueries.warmCloneWarehouse("corpus_span_rewrite", dir) { b =>
          graft.sink.SnapshotTable(b, "lakehouse", "documents")
            .overwrite(docs): Unit
        }
        val table = graft.sink.SnapshotTable(wh, "lakehouse", "documents")
        val origDirs = table.currentSnapshot.get.dataDirs
        val before = table.currentSnapshot.get.rowCount
        // spans compute from the SOURCE frame (content-identical to the
        // table just overwritten with it): the cached gram view is then
        // the same entry the other substring keys share, instead of a
        // dead cache slot keyed to this query's throwaway warehouse
        val cleaned = Dedup.substringApply(docs, "text", w = 12)
          .filter(col("kept_tokens") < col("n_tokens")) // affected docs only
          .select(col("doc_id"), col("clean_text"))
        val snap = table.merge(cleaned, Seq("doc_id" -> "doc_id"),
          matched = Seq(graft.sink.Merge.WhenMatched(
            graft.sink.Merge.Update(Map(
              "text" -> graft.sink.Merge.s("clean_text"))))),
          notMatched = Nil, mode = graft.sink.WriteMode.MergeOnRead)
        require(snap.operation == "merge" &&
          origDirs.forall(snap.dataDirs.contains) &&
          snap.rowCount == before && snap.deletes.exists(_.positional),
          "span rewrite must land merge-on-read: original files intact, " +
            s"row count unchanged (op=${snap.operation})")
        table.read(s).select("doc_id", "text", "n_chars")
      },
      Some(s"""WITH ${substringIslandsSql(12)},
              |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
              |  FROM isl GROUP BY doc_id, island),
              |tk AS (SELECT doc_id, CAST(gs.i AS INT) AS pos,
              |    toks[CAST(gs.i AS INT) + 1] AS tok
              |  FROM t, LATERAL (SELECT unnest(range(len(toks))) AS i) gs),
              |kept AS (
              |  SELECT tk.doc_id, tk.pos, tk.tok FROM tk
              |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
              |    WHERE sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e)),
              |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
              |  FROM kept GROUP BY doc_id),
              |affected AS (SELECT DISTINCT doc_id FROM isl)
              |SELECT d.doc_id,
              |  CASE WHEN a.doc_id IS NOT NULL THEN coalesce(agg.clean_text, '')
              |       ELSE d.text END AS text,
              |  d.n_chars
              |FROM documents d
              |LEFT JOIN affected a USING (doc_id)
              |LEFT JOIN agg USING (doc_id)""".stripMargin),
      doc = "span-cut verdict applied to the governed corpus: affected docs " +
        "rewrite as ONE atomic merge-on-read commit (positional delete + " +
        "append, O(affected)); zero corpus files rewritten - pinned in-query")
  )

  /** DuckDB CTE chain shared by the exact-substring ops: 12-token window
    * fingerprints -> corpus-wide occurrence >= 2 -> duplicated start
    * positions -> gaps-and-islands span grouping (`isl`), mirroring
    * [[graft.dedup.Dedup.substringSpans]] exactly.
    */
  private def substringIslandsSql(w: Int): String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    md5(array_to_string(toks[CAST(i AS INT) + 1 : CAST(i AS INT) + $w], ' ')) AS g
       |  FROM t, LATERAL (SELECT unnest(range(len(toks) - ${w - 1})) AS i) gs
       |  WHERE len(toks) >= $w),
       |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       |starts AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
       |flag AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos <= max(pos + $w) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS ni
       |  FROM starts),
       |isl AS (SELECT doc_id, pos,
       |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM flag)""".stripMargin
}
