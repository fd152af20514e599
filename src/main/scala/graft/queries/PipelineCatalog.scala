package graft.queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/**
 * Training-data-pipeline query catalog: deduplication, similarity search,
 * text analysis, and multimodal plumbing bound to the driver's `documents`
 * and `embeddings` tables (TESTDATA.md), with DuckDB oracles wherever the
 * semantics are ANSI-SQL-expressible.
 *
 * Oracle notes:
 *  - md5 / string / list functions are portable → exact oracles.
 *  - xxhash64-seeded families (MinHash bands, SimHash, hyperplane LSH)
 *    have no DuckDB twin → rows-only entries; their correctness is pinned
 *    by ScalaTest fixtures with planted duplicates instead.
 *  - Cosine scores are rounded to 6 digits on BOTH engines before rank /
 *    threshold so last-bit summation differences can't flip rows.
 */
object PipelineCatalog {

  import Catalog.Q

  // ------------------------------------------------------------------
  // Deduplication (documents)
  // ------------------------------------------------------------------

  val dedupExactGroups: Q = (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")

  val dedupExactGroupsSql: String =
    """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  val dedupExact: Q = (s, dir) =>
    Dedup.exactDedup(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  val dedupExactSql: String =
    """SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents
      |) WHERE rn = 1""".stripMargin

  /** Blocked word-set Jaccard pairs. The block is corpus-proportional —
    * `source × (n_chars div 64)` — so block population stays bounded as the
    * corpus grows (docs of similar length land together; near-dups share a
    * length bucket), instead of the constant-cardinality `source`-only block
    * whose groups grow O(n). */
  val dedupJaccard: Q = (s, dir) =>
    Dedup.jaccardPairs(
      Tables.documents(s, dir)
        .withColumn("blk", concat_ws("#", col("source"), expr("n_chars div 64"))),
      "doc_id", "text", "blk", 0.20)

  val dedupJaccardSql: String =
    """WITH t AS (
      |  SELECT doc_id AS id, source || '#' || CAST(n_chars // 64 AS VARCHAR) AS blk,
      |         list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |       CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
      |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |      CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.20""".stripMargin

  /** Entity-field fuzzy join: customer names one typo apart within a
    * nation block (the TPC-H names carry planted digit-edit structure).
    * Levenshtein has identical unit-cost semantics in Spark and DuckDB,
    * so the gate is exact. */
  val fuzzyPairs: Q = (s, dir) =>
    Dedup.editDistancePairs(Tables.customer(s, dir),
      "c_custkey", "c_name", "c_nationkey", maxDist = 1)

  val fuzzyPairsSql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      | AND abs(len(a.c_name) - len(b.c_name)) <= 1
      |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Radius-2 twin of [[fuzzyPairs]]: certifies the two-deletion
    * neighborhood candidate path (r11) end-to-end against a brute
    * blocked scan in DuckDB. Distances 0..2, same blocking. */
  val fuzzyPairsR2: Q = (s, dir) =>
    Dedup.editDistancePairs(Tables.customer(s, dir),
      "c_custkey", "c_name", "c_nationkey", maxDist = 2)

  val fuzzyPairsR2Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      | AND abs(len(a.c_name) - len(b.c_name)) <= 2
      |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin

  /** Cluster resolution over the blocked-Jaccard pairs: one row per doc in
    * any near-dup component, labeled with the component's min id. Oracle =
    * the same pair query + a recursive-CTE transitive closure. */
  val dedupClusters: Q = (s, dir) =>
    Dedup.resolveClusters(dedupJaccard(s, dir))

  val dedupClustersSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id AS id, source || '#' || CAST(n_chars // 64 AS VARCHAR) AS blk,
      |         list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |), p AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 0.20
      |), edges AS (
      |  SELECT id_a AS s, id_b AS t FROM p
      |  UNION SELECT id_b, id_a FROM p
      |), reach(s, t) AS (
      |  SELECT s, t FROM edges
      |  UNION
      |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      |)
      |SELECT s AS doc_id, least(s, min(t)) AS cluster_id
      |FROM reach GROUP BY s""".stripMargin

  /** End of the dedup story: the kept corpus — every doc that is not a
    * non-keeper member of a near-dup component (keeper = component min id).
    * Oracle reuses the recursive-CTE closure. */
  val dedupKeep: Q = (s, dir) => {
    val clusters = Dedup.resolveClusters(dedupJaccard(s, dir))
    Tables.documents(s, dir)
      .join(clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  val dedupKeepSql: String = {
    // same closure as dedupClustersSql, then anti-join the non-keepers
    val closure = dedupClustersSql.substring(0, dedupClustersSql.indexOf("SELECT s AS doc_id"))
    closure +
      """, clusters AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id
        |  FROM reach GROUP BY s
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)""".stripMargin
  }

  /** Quality-aware keep (r12): one survivor per near-dup component by
    * MAX n_chars (keep the longest copy), ties to the min id — the
    * curation-pipeline keep policy, vs [[dedupKeep]]'s min-id keep. */
  val dedupKeepBest: Q = (s, dir) =>
    Dedup.keepBestPerCluster(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      "doc_id", dedupJaccard(s, dir), "n_chars")

  val dedupKeepBestSql: String = {
    val closure = dedupClustersSql.substring(
      0, dedupClustersSql.indexOf("SELECT s AS doc_id"))
    closure +
      """, clusters AS (
        |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id
        |  FROM reach GROUP BY s
        |), withc AS (
        |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |         COALESCE(c.cluster_id, d.doc_id) AS comp
        |  FROM documents d
        |  LEFT JOIN clusters c ON d.doc_id = c.doc_id
        |)
        |SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY comp
        |           ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rn
        |  FROM withc
        |) WHERE rn = 1""".stripMargin
  }

  /** Incremental ingest dedup: docs from 'src1' arriving against the
    * standing corpus (everything else) — in-batch keepers that are not
    * already in the corpus. */
  val dedupIncremental: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalDedup(
      docs.filter(col("source") === "src1"),
      docs.filter(col("source") =!= "src1"),
      "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val dedupIncrementalSql: String =
    """WITH keepers AS (
      |  SELECT doc_id, lang, n_chars, text FROM (
      |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents WHERE source = 'src1'
      |  ) WHERE rn = 1
      |)
      |SELECT doc_id, lang, n_chars FROM keepers
      |WHERE md5(text) NOT IN (
      |  SELECT DISTINCT md5(text) FROM documents WHERE source <> 'src1')""".stripMargin

  /** Duplicated 12-token spans (exact substring dedup, per-doc rollup). */
  val dedupSpans: Q = (s, dir) =>
    Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", n = 12)
      .withColumnRenamed("id", "doc_id")

  val dedupSpansSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), g AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 12
      |              THEN list_transform(range(1, len(t) - 10),
      |                     i -> array_to_string(t[i:i+11], ' '))
      |              ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM tk
      |), x AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM g
      |), occ AS (
      |  SELECT gram FROM x GROUP BY gram HAVING count(*) > 1
      |), d AS (
      |  SELECT x.doc_id, count(*) AS n_dup FROM x JOIN occ ON x.gram = occ.gram
      |  GROUP BY x.doc_id
      |)
      |SELECT g.doc_id, CAST(len(g.grams) AS INT) AS n_spans,
      |       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
      |       CASE WHEN len(g.grams) > 0
      |            THEN CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(len(g.grams) AS DOUBLE)
      |            ELSE 0.0 END AS dup_span_frac
      |FROM g LEFT JOIN d ON g.doc_id = d.doc_id""".stripMargin

  /** Incremental duplicated-span screen (r14): the ingest slice
    * (doc_id % 4 == 0) screens against the SPAN STORE built from the
    * rest of the corpus. The store is a sufficient statistic
    * (occurrence counts sum exactly), so the contract is exact: output
    * ≡ the batch rollup over the FULL corpus restricted to ingest ids —
    * which is literally what the oracle replays (the `dedup_spans`
    * CTEs, final select filtered to the ingest slice). */
  val dedupSpansInc: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val ingest = docs.filter(col("doc_id") % 4 === 0)
    val store = Dedup.spanStore(corpus, "doc_id", "text", n = 12)
    Dedup.duplicatedSpansIncremental(ingest, store, "doc_id", "text", n = 12)
      .withColumnRenamed("id", "doc_id")
  }

  val dedupSpansIncSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), g AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 12
      |              THEN list_transform(range(1, len(t) - 10),
      |                     i -> array_to_string(t[i:i+11], ' '))
      |              ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM tk
      |), x AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM g
      |), occ AS (
      |  SELECT gram FROM x GROUP BY gram HAVING count(*) > 1
      |), d AS (
      |  SELECT x.doc_id, count(*) AS n_dup FROM x JOIN occ ON x.gram = occ.gram
      |  WHERE x.doc_id % 4 = 0 GROUP BY x.doc_id
      |)
      |SELECT g.doc_id, CAST(len(g.grams) AS INT) AS n_spans,
      |       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
      |       CASE WHEN len(g.grams) > 0
      |            THEN CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(len(g.grams) AS DOUBLE)
      |            ELSE 0.0 END AS dup_span_frac
      |FROM g LEFT JOIN d ON g.doc_id = d.doc_id
      |WHERE g.doc_id % 4 = 0""".stripMargin

  /** MinHash+LSH near-dup pairs — xxhash64 signatures, rows-only. */
  val dedupMinhash: Q = (s, dir) =>
    Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
      k = 3, bands = 8, rowsPerBand = 4, tau = 0.5)

  /** Portable MinHash+LSH (md5 hash family, hex-string minima) — same
    * parameters as the native gate but every step is reproducible in
    * DuckDB SQL, so banding + candidate recall sit under the EXACT
    * oracle, not just the jaccard verify step. */
  /** Certification scope, not scale scope: 8 md5 families over half the
    * corpus. The portable form pays 8 string-md5 rounds per shingle (the
    * price of DuckDB bit-parity) and certifies the banding STRUCTURE;
    * throughput belongs to the xxhash64 native `dedup_minhash`, which
    * keeps the full corpus and the 8×4 production signature. (The 32-
    * family full-corpus portable run cost 107 s at sf0.1 — pure md5
    * arithmetic, no plan defect — and certified nothing extra.) */
  val dedupMinhashMd5: Q = (s, dir) =>
    Dedup.minhashLshPairsPortable(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", k = 3, bands = 4, rowsPerBand = 2, tau = 0.5)

  /** The SAME MinHash+LSH algorithm in DuckDB: md5 lower-64 hex per
    * (shingle, permutation), lexicographic minima, '|'-joined band keys,
    * keeper-star mega-bucket guard, exact-jaccard verify. */
  val dedupMinhashMd5Sql: String =
    """WITH t AS (
      |  SELECT doc_id AS id, text, string_split(text, ' ') AS toks FROM documents
      |  WHERE doc_id % 2 = 0
      |), sh AS (
      |  SELECT id, text,
      |         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      |  FROM t
      |), sg AS (
      |  SELECT id, text, shingles,
      |         list_transform(range(0, 8), p -> coalesce(
      |           list_min(list_transform(shingles,
      |             s -> substring(md5(s || '#' || CAST(p AS VARCHAR)), 17, 16))),
      |           '')) AS sig,
      |         md5(text) AS fp
      |  FROM sh
      |), keep AS (
      |  SELECT fp, min(id) AS keeper FROM sg GROUP BY fp
      |), dup_stars AS (
      |  SELECT k.keeper AS id_a, f.id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM sg f JOIN keep k ON f.fp = k.fp
      |  WHERE f.id <> k.keeper
      |), banded AS (
      |  SELECT f.id, r.b AS band,
      |         array_to_string(f.sig[r.b*2+1 : r.b*2+2], '|') AS band_key
      |  FROM sg f JOIN keep k ON f.fp = k.fp AND f.id = k.keeper
      |  CROSS JOIN range(0, 4) AS r(b)
      |), cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
      |), verified AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |         CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
      |           AS jaccard
      |  FROM cand c
      |  JOIN sh sa ON sa.id = c.id_a
      |  JOIN sh sb ON sb.id = c.id_b
      |)
      |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
      |UNION ALL SELECT id_a, id_b, jaccard FROM dup_stars""".stripMargin

  /** Incremental MinHash+LSH ingest screen — xxhash64 native scale path,
    * rows-only (certified by the md5 twin below). Corpus = 3/4 of the
    * documents table, ingest = the remaining quarter re-keyed into the
    * monotone id range a real ingest assigns; the corpus side enters the
    * plan only as its signature store plus candidate-id text lookups. */
  val dedupMinhashInc: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 =!= 2)
    val incoming = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.minhashLshPairsIncremental(incoming,
      Dedup.minhashStore(corpus, "doc_id", "text"),
      corpus, "doc_id", "text", tau = 0.5)
  }

  /** Portable incremental twin (md5 family, dedup_minhash_md5's
    * certification scope and parameters): the oracle runs the BATCH
    * pipeline over the re-keyed union and keeps pairs touching the
    * ingest (id_b in the re-keyed range — ingest-order ids put the
    * incoming side on id_b of every such pair), so the gate certifies
    * incremental ≡ batch end to end: store probe, cross-increment
    * keeper stars, banded candidate recall, exact-jaccard verify. */
  val dedupMinhashIncMd5: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val incoming = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.minhashLshPairsIncrementalPortable(incoming,
      Dedup.minhashStorePortable(corpus, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 2),
      corpus, "doc_id", "text", k = 3, bands = 4, rowsPerBand = 2, tau = 0.5)
  }

  /** The batch md5 MinHash pipeline over the re-keyed corpus ∪ ingest
    * union, restricted to pairs touching the ingest — the semantics the
    * incremental operator promises to reproduce without corpus-sized
    * work. */
  val dedupMinhashIncMd5Sql: String =
    """WITH t AS (
      |  SELECT CASE WHEN doc_id % 4 = 2 THEN doc_id + 10000000
      |              ELSE doc_id END AS id,
      |         text, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 2 = 0
      |), sh AS (
      |  SELECT id, text,
      |         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
      |  FROM t
      |), sg AS (
      |  SELECT id, text, shingles,
      |         list_transform(range(0, 8), p -> coalesce(
      |           list_min(list_transform(shingles,
      |             s -> substring(md5(s || '#' || CAST(p AS VARCHAR)), 17, 16))),
      |           '')) AS sig,
      |         md5(text) AS fp
      |  FROM sh
      |), keep AS (
      |  SELECT fp, min(id) AS keeper FROM sg GROUP BY fp
      |), dup_stars AS (
      |  SELECT k.keeper AS id_a, f.id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM sg f JOIN keep k ON f.fp = k.fp
      |  WHERE f.id <> k.keeper
      |), banded AS (
      |  SELECT f.id, r.b AS band,
      |         array_to_string(f.sig[r.b*2+1 : r.b*2+2], '|') AS band_key
      |  FROM sg f JOIN keep k ON f.fp = k.fp AND f.id = k.keeper
      |  CROSS JOIN range(0, 4) AS r(b)
      |), cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
      |), verified AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |         CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
      |           AS jaccard
      |  FROM cand c
      |  JOIN sh sa ON sa.id = c.id_a
      |  JOIN sh sb ON sb.id = c.id_b
      |)
      |SELECT id_a, id_b, jaccard FROM verified
      |WHERE jaccard >= 0.5 AND id_b >= 10000000
      |UNION ALL
      |SELECT id_a, id_b, jaccard FROM dup_stars WHERE id_b >= 10000000""".stripMargin

  /** SimHash near-dup pairs — xxhash64 signature, rows-only. */
  val dedupSimhash: Q = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Portable SimHash (md5 token hashes, 32-bit halves) — the SimHash
    * family under the exact oracle; see [[Dedup.simhashPairsPortable]]. */
  val dedupSimhashMd5: Q = (s, dir) =>
    Dedup.simhashPairsPortable(Tables.documents(s, dir), "doc_id", "text")

  /** The SAME SimHash algorithm in DuckDB: per-token md5 lower-64 as
    * two exact 32-bit integer folds, per-bit sign votes, 4×16-bit band
    * join, bit_count hamming verify, keeper-star guard. */
  val dedupSimhashMd5Sql: String =
    """WITH t AS (
      |  SELECT doc_id AS id, text, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |), h AS (
      |  SELECT id, text,
      |         list_transform(toks, tk -> {
      |           'hi': list_reduce(list_transform(string_split(substring(md5(tk), 17, 8), ''),
      |                   c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |                 (a, b) -> a * 16 + b),
      |           'lo': list_reduce(list_transform(string_split(substring(md5(tk), 25, 8), ''),
      |                   c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |                 (a, b) -> a * 16 + b)
      |         }) AS th
      |  FROM t
      |), sg AS (
      |  SELECT id, md5(text) AS fp,
      |         CAST(list_sum(list_transform(range(0, 32), b -> CASE
      |           WHEN list_sum(list_transform(th, x -> CASE
      |                  WHEN (x.hi >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig_hi,
      |         CAST(list_sum(list_transform(range(0, 32), b -> CASE
      |           WHEN list_sum(list_transform(th, x -> CASE
      |                  WHEN (x.lo >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig_lo
      |  FROM h
      |), keep AS (
      |  SELECT fp, min(id) AS keeper FROM sg GROUP BY fp
      |), dup_stars AS (
      |  SELECT k.keeper AS id_a, f.id AS id_b, CAST(0 AS INT) AS hamming
      |  FROM sg f JOIN keep k ON f.fp = k.fp WHERE f.id <> k.keeper
      |), banded AS (
      |  SELECT f.id, f.sig_hi, f.sig_lo, r.b AS band,
      |         CASE r.b
      |           WHEN 0 THEN f.sig_lo & 65535
      |           WHEN 1 THEN (f.sig_lo >> 16) & 65535
      |           WHEN 2 THEN f.sig_hi & 65535
      |           ELSE (f.sig_hi >> 16) & 65535 END AS chunk
      |  FROM sg f JOIN keep k ON f.fp = k.fp AND f.id = k.keeper
      |  CROSS JOIN range(0, 4) AS r(b)
      |), cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         min(CAST(bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) +
      |             CAST(bit_count(xor(a.sig_hi, b.sig_hi)) AS INT)) AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
      |  GROUP BY a.id, b.id
      |)
      |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
      |UNION ALL SELECT id_a, id_b, hamming FROM dup_stars""".stripMargin

  /** Incremental SimHash ingest screen — native scale path, rows-only
    * (certified by the md5 twin below). Same corpus/ingest split and
    * re-keying as the minhash incremental gates; the corpus enters the
    * plan only as its signature store — the verify is pure signature
    * arithmetic, no text fetch at all. */
  val dedupSimhashInc: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 =!= 2)
    val incoming = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.simhashPairsIncremental(incoming,
      Dedup.simhashStore(corpus, "doc_id", "text"), "doc_id", "text")
  }

  /** Portable incremental twin (md5 (hi, lo) family, full-corpus scope
    * like the batch md5 simhash gate): the oracle replays the batch
    * pipeline over the re-keyed union, keeping ingest-touching pairs. */
  val dedupSimhashIncMd5: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 =!= 2)
    val incoming = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Dedup.simhashPairsIncrementalPortable(incoming,
      Dedup.simhashStorePortable(corpus, "doc_id", "text"), "doc_id", "text")
  }

  /** The batch md5 SimHash pipeline over the re-keyed corpus ∪ ingest
    * union, restricted to pairs touching the ingest. */
  val dedupSimhashIncMd5Sql: String =
    """WITH t AS (
      |  SELECT CASE WHEN doc_id % 4 = 2 THEN doc_id + 10000000
      |              ELSE doc_id END AS id,
      |         text, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |), h AS (
      |  SELECT id, text,
      |         list_transform(toks, tk -> {
      |           'hi': list_reduce(list_transform(string_split(substring(md5(tk), 17, 8), ''),
      |                   c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |                 (a, b) -> a * 16 + b),
      |           'lo': list_reduce(list_transform(string_split(substring(md5(tk), 25, 8), ''),
      |                   c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
      |                 (a, b) -> a * 16 + b)
      |         }) AS th
      |  FROM t
      |), sg AS (
      |  SELECT id, md5(text) AS fp,
      |         CAST(list_sum(list_transform(range(0, 32), b -> CASE
      |           WHEN list_sum(list_transform(th, x -> CASE
      |                  WHEN (x.hi >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig_hi,
      |         CAST(list_sum(list_transform(range(0, 32), b -> CASE
      |           WHEN list_sum(list_transform(th, x -> CASE
      |                  WHEN (x.lo >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig_lo
      |  FROM h
      |), keep AS (
      |  SELECT fp, min(id) AS keeper FROM sg GROUP BY fp
      |), dup_stars AS (
      |  SELECT k.keeper AS id_a, f.id AS id_b, CAST(0 AS INT) AS hamming
      |  FROM sg f JOIN keep k ON f.fp = k.fp WHERE f.id <> k.keeper
      |), banded AS (
      |  SELECT f.id, f.sig_hi, f.sig_lo, r.b AS band,
      |         CASE r.b
      |           WHEN 0 THEN f.sig_lo & 65535
      |           WHEN 1 THEN (f.sig_lo >> 16) & 65535
      |           WHEN 2 THEN f.sig_hi & 65535
      |           ELSE (f.sig_hi >> 16) & 65535 END AS chunk
      |  FROM sg f JOIN keep k ON f.fp = k.fp AND f.id = k.keeper
      |  CROSS JOIN range(0, 4) AS r(b)
      |), cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         min(CAST(bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) +
      |             CAST(bit_count(xor(a.sig_hi, b.sig_hi)) AS INT)) AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
      |  GROUP BY a.id, b.id
      |)
      |SELECT id_a, id_b, hamming FROM cand
      |WHERE hamming <= 3 AND id_b >= 10000000
      |UNION ALL
      |SELECT id_a, id_b, hamming FROM dup_stars WHERE id_b >= 10000000""".stripMargin

  // ------------------------------------------------------------------
  // Similarity search (embeddings)
  // ------------------------------------------------------------------

  /** Exact brute-force cosine top-5 for every 100th vector. */
  val simBruteForce: Q = (s, dir) =>
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5)

  val simBruteForceSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q AS (SELECT * FROM base WHERE id % 100 = 0),
      |scored AS (
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         round(list_dot_product(q.v, c.v) /
      |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
      |  FROM base c CROSS JOIN q
      |  WHERE q.id <> c.id
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM scored
      |) WHERE rn <= 5""".stripMargin

  /** MMR diversity rerank (r14): greedy λ-weighted relevance/diversity
    * selection over the exact top-20 cosine candidates of vec_id 100,
    * λ = 0.5 (both weights exactly representable — see the operator
    * scaladoc), k = 5. The oracle UNROLLS the greedy: sel_i picks the
    * (mmr desc, doc_id) argmax over the not-yet-selected candidates,
    * each mmr's penalty term a correlated max over the accumulated
    * selection — the funnel-oracle technique applied to the retrieval
    * stack. */
  val simMmrRerankQ: Q = (s, dir) =>
    Similarity.mmrRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") === 100L, lambda = 0.5, nCandidates = 20, k = 5)

  val simMmrRerankSql: String = {
    val base =
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (SELECT * FROM base WHERE id = 100),
        |scored AS (
        |  SELECT c.id AS doc_id, c.v,
        |         round(list_dot_product(q.v, c.v) /
        |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |  FROM base c CROSS JOIN q
        |  WHERE q.id <> c.id
        |), cand AS (
        |  SELECT doc_id, v, cos FROM (
        |    SELECT *, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rn FROM scored
        |  ) WHERE rn <= 20
        |), sel1 AS (
        |  SELECT doc_id, v, cos, round(0.5 * cos, 6) AS mmr, 1 AS rn
        |  FROM cand ORDER BY mmr DESC, doc_id ASC LIMIT 1
        |), acc1 AS (SELECT * FROM sel1)""".stripMargin
    val steps = (2 to 5).map { i =>
      val p = i - 1
      s""",
         |sel$i AS (
         |  SELECT r.doc_id, r.v, r.cos,
         |         round(0.5 * r.cos - 0.5 * (
         |           SELECT max(round(list_dot_product(r.v, a.v) /
         |                  (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(a.v, a.v))), 6))
         |           FROM acc$p a), 6) AS mmr, $i AS rn
         |  FROM cand r WHERE r.doc_id NOT IN (SELECT doc_id FROM acc$p)
         |  ORDER BY mmr DESC, doc_id ASC LIMIT 1
         |), acc$i AS (SELECT * FROM acc$p UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString
    base + steps +
      "\nSELECT doc_id, cos, mmr, CAST(rn AS INT) AS rn FROM acc5"
  }

  /** Late-interaction MaxSim retrieval, exact form (r16; Khattab &
    * Zaharia, SIGIR 2020): the embeddings table read as token BAGS —
    * doc = vec_id DIV 10, ten token vectors per document — queried by
    * document 10's token bag (vec_ids 100–109), k = 10. Every non-query
    * document scores Σ over query tokens of its best token cosine. */
  val simMaxSimQ: Q = (s, dir) =>
    Similarity.maxSimTopK(
      Tables.embeddings(s, dir).withColumn("mdoc", expr("vec_id DIV 10")),
      "mdoc", "vec_id", "embedding",
      col("id") >= 100L && col("id") <= 109L, k = 10)

  /** Index-bound MaxSim (r16): candidate docs voted by each query
    * token's IVF-PQ shortlist over the shared persisted det index, exact
    * MaxSim on candidates only. FULL-COVERAGE configuration (nProbe =
    * all 16 cells, kTok·rf = 2000 ≥ corpus tokens at sf0.01 AND sf0.1):
    * every query token shortlists every other token, so the candidate
    * set is every non-query doc and the output must be BIT-EQUAL to
    * [[simMaxSimQ]] — certified by the exact gate's VERBATIM oracle.
    * Narrow-shortlist recall behavior is spec-pinned, not gated. */
  val simMaxSimIndexedQ: Q = (s, dir) => {
    val (model, pqPath) = detPqIndex(s, dir)
    Similarity.maxSimTopKIndexed(model, s.read.parquet(pqPath),
      Tables.embeddings(s, dir).withColumn("mdoc", expr("vec_id DIV 10")),
      "mdoc", "vec_id", "embedding",
      col("id") >= 100L && col("id") <= 109L, k = 10,
      kTok = 2000, nProbe = 16, rerankFactor = 1)
  }

  /** The MaxSim replay: same 6-dp cosine, per-(doc, query-token) max,
    * rounded per-doc sum, (score desc, doc_id asc) rank. */
  val simMaxSimSql: String =
    """WITH base AS (
      |  SELECT vec_id // 10 AS doc_id, vec_id AS id,
      |         CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |), nn AS (
      |  SELECT doc_id, id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), q AS (SELECT * FROM nn WHERE id BETWEEN 100 AND 109),
      |c AS (
      |  SELECT * FROM nn WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM q)
      |), pt AS (
      |  SELECT c.doc_id, q.id AS qid,
      |         max(round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)) AS m
      |  FROM c CROSS JOIN q
      |  GROUP BY c.doc_id, q.id
      |), sc AS (
      |  SELECT doc_id, round(sum(m), 6) AS score FROM pt GROUP BY doc_id
      |)
      |SELECT doc_id, score, rn FROM (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
      |  FROM sc
      |) WHERE rn <= 10""".stripMargin

  /** Batched MaxSim (r16): three query DOCUMENTS — their bags are their
    * own token rows, so the batch is one id frame — through
    * [[Similarity.maxSimTopKBatch]]. Includes the single gate's query
    * doc 10: its slice of the batch must reproduce [[simMaxSimQ]] with
    * the id attached. Oracle = the exact MaxSim oracle instantiated per
    * query doc (anchored bound swap) and UNION ALL'd — the
    * [[bm25SearchBatchSql]] transform discipline. */
  val simMaxSimBatchQ: Q = (s, dir) => {
    import s.implicits._
    Similarity.maxSimTopKBatch(
      Tables.embeddings(s, dir).withColumn("mdoc", expr("vec_id DIV 10")),
      "mdoc", "vec_id", "embedding", maxSimBatchDocs.toDF("qdoc"), k = 10)
  }

  /** Indexed batched MaxSim (r16): the same batch through
    * [[Similarity.maxSimTopKIndexedBatch]] under the FULL-COVERAGE
    * configuration (all 16 det cells probed, kTok·rf ≥ corpus tokens at
    * sf0.01 AND sf0.1) — every query token shortlists every other
    * token, candidate pairs cover every (query, non-self doc), so the
    * output must be BIT-EQUAL to [[simMaxSimBatchQ]]: certified by the
    * batch transform oracle VERBATIM. */
  val simMaxSimIndexedBatchQ: Q = (s, dir) => {
    import s.implicits._
    val (model, pqPath) = detPqIndex(s, dir)
    Similarity.maxSimTopKIndexedBatch(model, s.read.parquet(pqPath),
      Tables.embeddings(s, dir).withColumn("mdoc", expr("vec_id DIV 10")),
      "mdoc", "vec_id", "embedding", maxSimBatchDocs.toDF("qdoc"), k = 10,
      kTok = 2000, nProbe = 16, rerankFactor = 1)
  }

  /** All three exist at every sf (embeddings ≥ 500 rows ⇒ docs 0–49). */
  private val maxSimBatchDocs: Seq[Long] = Seq(7L, 10L, 30L)

  /** The batch-MaxSim oracle: [[simMaxSimSql]] per query doc with the
    * token-bound anchor swapped (asserted individually — ADVICE r15
    * discipline), result tagged with its query id, UNION ALL'd. */
  lazy val simMaxSimBatchSql: String = maxSimBatchDocs.map { qd =>
    val from = "WHERE id BETWEEN 100 AND 109"
    val to = s"WHERE id BETWEEN ${qd * 10} AND ${qd * 10 + 9}"
    val per = simMaxSimSql.replace(from, to)
    require(per != simMaxSimSql || from == to,
      s"maxsim batch oracle anchor drifted — token bound not found for doc $qd")
    s"SELECT CAST($qd AS BIGINT) AS query_id, * FROM (\n$per\n)"
  }.mkString("\nUNION ALL\n")

  /** Recall@k of the deterministic IVF-PQ search against the exact
    * brute-force reference (r16): the measurement a curation pipeline
    * tunes nProbe/shortlist width against, as a first-class gate. Both
    * sides are the already-certified gate queries; the oracle composes
    * their SQLs VERBATIM as subqueries and adds only the overlap
    * arithmetic, so no retrieval logic is re-derived. */
  val annRecallDetQ: Q = (s, dir) =>
    Similarity.recallAtK(
      simIvfPqDet(s, dir),
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("id") % 100 === 0, k = 5))

  /** LAZY: composes oracles declared later in this object. */
  lazy val annRecallDetSql: String =
    s"""WITH a AS (SELECT query_id, neighbor_id FROM (
       |$simIvfPqDetSql
       |)), e AS (SELECT query_id, neighbor_id FROM (
       |$simBruteForceSql
       |)), tot AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM e GROUP BY query_id
       |), h AS (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM e JOIN a USING (query_id, neighbor_id) GROUP BY e.query_id
       |)
       |SELECT tot.query_id,
       |       COALESCE(hits, CAST(0 AS BIGINT)) AS hits, n_exact,
       |       round(COALESCE(hits, CAST(0 AS BIGINT)) / n_exact, 6) AS recall
       |FROM tot LEFT JOIN h USING (query_id)""".stripMargin

  /** Source-diversity quota on retrieval (r16): the certified BM25
    * query widened to top-50, then [[Relevance.capPerGroup]] keeps at
    * most 2 docs per `source` and re-ranks to top-10 — one dominant
    * domain can no longer fill the list. Oracle = the certified BM25
    * SQL with its rank bound widened (anchored) + the same two windows
    * in DuckDB. */
  val bm25SearchDiverseQ: Q = (s, dir) =>
    Relevance.capPerGroup(
      Relevance.bm25Search(Tables.documents(s, dir), "doc_id", "text",
        "dup vector key", k = 50),
      "doc_id", "score",
      Tables.documents(s, dir), "doc_id", "source",
      maxPerGroup = 2, k = 10)

  /** LAZY for the same declaration-order reason. */
  lazy val bm25SearchDiverseSql: String = {
    val from = "WHERE rn <= 10"
    val wide = bm25SearchSql.replace(from, "WHERE rn <= 50")
    require(wide != bm25SearchSql,
      "bm25 diverse oracle anchor drifted — rank bound not found")
    s"""WITH cand AS (SELECT doc_id, score FROM (
       |$wide
       |)), withg AS (
       |  SELECT c.doc_id, d.source AS grp, c.score,
       |         CAST(row_number() OVER (PARTITION BY d.source
       |           ORDER BY c.score DESC, c.doc_id ASC) AS INT) AS grn
       |  FROM cand c JOIN documents d USING (doc_id)
       |), capped AS (SELECT * FROM withg WHERE grn <= 2)
       |SELECT doc_id, grp, score, grn, rn FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC,
       |    doc_id ASC) AS INT) AS rn FROM capped
       |) WHERE rn <= 10""".stripMargin
  }

  /** Hyperplane-LSH bucketed ANN top-5 — xxhash64 planes, rows-only. */
  val simLsh: Q = (s, dir) =>
    Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, planes = 8)

  /** Portable hyperplane LSH (md5 planes, in-order folds) — the
    * bucketing itself under the exact oracle (r7). */
  val simLshMd5: Q = (s, dir) =>
    Similarity.lshTopKPortable(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, planes = 8)

  /** The SAME hyperplane bucketing in DuckDB: md5-derived components,
    * list_reduce in-order projection folds (bit-identical to Spark's
    * aggregate fold), sign bits → bucket, exact cosine re-rank. */
  val simLshMd5Sql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), nn AS (
      |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), sig AS (
      |  SELECT id, v, nrm,
      |         list_sum(list_transform(range(0, 8), p -> CASE WHEN
      |           list_reduce(
      |             list_transform(range(1, len(v) + 1), i -> v[i] * (
      |               list_reduce(list_transform(
      |                 string_split(substring(md5(CAST(p AS VARCHAR) || '#' ||
      |                   CAST(i - 1 AS VARCHAR)), 1, 8), ''),
      |                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS DOUBLE)),
      |                 (a, b) -> a * 16 + b) / 4294967296.0 * 2 - 1)),
      |             (a, b) -> a + b) >= 0
      |           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS bucket
      |  FROM nn
      |), cand AS (
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
      |  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.id <> c.id
      |  WHERE q.id % 100 = 0
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM cand
      |) WHERE rn <= 5""".stripMargin

  /** IVF ANN top-5 (sampled coarse quantizer, 4-probe). With
    * trainIters = 0 the quantizer is the DETERMINISTIC lowest-id sample,
    * so the whole pipeline — assignment argmax, probe ranking, exact
    * re-rank — is reproducible in DuckDB SQL and the gate is
    * oracle-checked (r7; was rows-only). */
  val simIvf: Q = (s, dir) =>
    Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nCentroids = 16, nProbe = 4)

  /** The SAME IVF search in DuckDB: lowest-16-id centroids, cosine
    * argmax assignment (ties → lower cid), 4-probe, exact re-rank —
    * double arithmetic matches Spark's op-for-op (the brute-force gate
    * pins the dot/round parity). */
  val simIvfSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), nn AS (
      |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), cents AS (
      |  SELECT id AS cid, v AS cv, nrm AS cn FROM nn ORDER BY id LIMIT 16
      |), ranked AS (
      |  SELECT s.id, s.cid, s.csim,
      |         row_number() OVER (PARTITION BY s.id
      |                            ORDER BY s.csim DESC, s.cid ASC) AS rk
      |  FROM (SELECT nn.id, c.cid,
      |               list_dot_product(nn.v, c.cv) / (nn.nrm * c.cn) AS csim
      |        FROM nn CROSS JOIN cents c) s
      |), assigned AS (
      |  SELECT id, cid FROM ranked WHERE rk = 1
      |), probes AS (
      |  SELECT r.id AS query_id, r.cid, nn.v AS qv, nn.nrm AS qn
      |  FROM ranked r JOIN nn ON nn.id = r.id
      |  WHERE r.id % 100 = 0 AND r.rk <= 4
      |), cand AS (
      |  SELECT p.query_id, a.id AS neighbor_id,
      |         round(list_dot_product(p.qv, nn.v) / (p.qn * nn.nrm), 6) AS cos
      |  FROM assigned a JOIN probes p ON a.cid = p.cid
      |  JOIN nn ON nn.id = a.id
      |  WHERE p.query_id <> a.id
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM cand
      |) WHERE rn <= 5""".stripMargin

  /** Random-projection dimensionality reduction, md5-portable twin:
    * embeddings → 4 dims, exploded to (id, p, val) scalar rows for the
    * hash compare. The in-order `list_reduce` fold replays Spark's
    * `aggregate` bit-identically (the sim_lsh_md5 parity, here on the
    * VALUES, not just the signs). */
  val rpProjectMd5: Q = (s, dir) =>
    Similarity.randomProjectionPortable(Tables.embeddings(s, dir),
      "vec_id", "embedding", outDim = 4)
      .select(col("id"), posexplode(col("rp")))
      .select(col("id"), col("pos").cast("long").as("p"), col("col").as("val"))

  val rpProjectMd5Sql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), planes AS (SELECT unnest(range(0, 4)) AS p)
      |SELECT b.id, planes.p,
      |       round(list_reduce(
      |         list_transform(range(1, len(b.v) + 1), i -> b.v[i] * (
      |           list_reduce(list_transform(
      |             string_split(substring(md5(CAST(planes.p AS VARCHAR) || '#' ||
      |               CAST(i - 1 AS VARCHAR)), 1, 8), ''),
      |             c -> CAST(strpos('0123456789abcdef', c) - 1 AS DOUBLE)),
      |             (a, b) -> a * 16 + b) / 4294967296.0 * 2 - 1)),
      |         (a, b) -> a + b), 6) AS val
      |FROM base b CROSS JOIN planes""".stripMargin

  /** Native xxhash64 random projection (the map-only codegen'd scale
    * path) — rows-only; rpProjectMd5 is its oracle-certified twin and
    * SimilaritySpec pins the LSH sign coherence. */
  val rpProject: Q = (s, dir) =>
    Similarity.randomProjection(Tables.embeddings(s, dir),
      "vec_id", "embedding", outDim = 4)
      .select(col("id"), posexplode(col("rp")))
      .select(col("id"), col("pos").cast("long").as("p"), col("col").as("val"))

  /** Filtered exact ANN: top-5 among `label = 3` corpus rows only —
    * the metadata-constrained search baseline. Exact oracle. */
  val simFilteredTopK: Q = (s, dir) =>
    Similarity.bruteForceTopKWhere(Tables.embeddings(s, dir), "vec_id",
      "embedding", col("id") % 100 === 0, col("label") === 3, k = 5)

  val simFilteredTopKSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |), q AS (SELECT * FROM base WHERE id % 100 = 0),
      |scored AS (
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         round(list_dot_product(q.v, c.v) /
      |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
      |  FROM base c CROSS JOIN q
      |  WHERE q.id <> c.id AND c.label = 3
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM scored
      |) WHERE rn <= 5""".stripMargin

  /** Filtered IVF ANN: shared full-corpus quantizer, label predicate
    * pushed into the corpus scan before assignment/probe; nProbe
    * widened to 8 for the ~10% selectivity. Deterministic (lowest-id
    * quantizer) → exact oracle replicating the algorithm in DuckDB. */
  val simIvfFiltered: Q = (s, dir) =>
    Similarity.ivfTopKWhere(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, col("label") === 3, k = 5,
      nCentroids = 16, nProbe = 8)

  val simIvfFilteredSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |), nn AS (
      |  SELECT id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), cents AS (
      |  SELECT id AS cid, v AS cv, nrm AS cn FROM nn ORDER BY id LIMIT 16
      |), ranked AS (
      |  SELECT s.id, s.cid, s.csim,
      |         row_number() OVER (PARTITION BY s.id
      |                            ORDER BY s.csim DESC, s.cid ASC) AS rk
      |  FROM (SELECT nn.id, c.cid,
      |               list_dot_product(nn.v, c.cv) / (nn.nrm * c.cn) AS csim
      |        FROM nn CROSS JOIN cents c) s
      |), assigned AS (
      |  SELECT r.id, r.cid FROM ranked r JOIN nn ON nn.id = r.id
      |  WHERE r.rk = 1 AND nn.label = 3
      |), probes AS (
      |  SELECT r.id AS query_id, r.cid, nn.v AS qv, nn.nrm AS qn
      |  FROM ranked r JOIN nn ON nn.id = r.id
      |  WHERE r.id % 100 = 0 AND r.rk <= 8
      |), cand AS (
      |  SELECT p.query_id, a.id AS neighbor_id,
      |         round(list_dot_product(p.qv, nn.v) / (p.qn * nn.nrm), 6) AS cos
      |  FROM assigned a JOIN probes p ON a.cid = p.cid
      |  JOIN nn ON nn.id = a.id
      |  WHERE p.query_id <> a.id
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM cand
      |) WHERE rn <= 5""".stripMargin

  /** IVF with a Lloyd-trained quantizer (2 rounds) — rows-only; the
    * training rounds are the map-side-assign + partial-agg-mean loop. */
  val simIvfTrained: Q = (s, dir) =>
    Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nCentroids = 16, nProbe = 4,
      trainIters = 2)

  /** IVF-PQ: compressed-index ANN (8×16 codebooks, ADC shortlist, exact
    * re-rank) — rows-only; recall pinned in SimilaritySpec. */
  val simIvfPq: Q = (s, dir) =>
    Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nCentroids = 16, nProbe = 4,
      m = 8, kSub = 16, pqIters = 1)

  /** Deterministic IVF-PQ twin: trainIters = 0 AND pqIters = 0, so the
    * coarse quantizer and every PQ codebook are the lowest-id sample —
    * the full compressed-index pipeline (coarse assign, per-subspace
    * encode argmin, ADC scoring, shortlist, exact re-rank) is
    * reproducible in DuckDB and hash-checked (r7). [[simIvfPq]] keeps
    * the Lloyd-trained path (rows-only: distributed `avg` float order). */
  val simIvfPqDet: Q = (s, dir) =>
    Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nCentroids = 16, nProbe = 4,
      m = 8, kSub = 16, trainIters = 0, pqIters = 0)

  /** The SAME IVF-PQ search in DuckDB: lowest-16-id centroids AND
    * codebooks (8 subspaces × 16 codewords of 8 dims), encode argmax of
    * 2·sub·cw − ‖cw‖² (ties → lower code), ADC = in-order fold of LUT
    * lookups, shortlist 4k, exact re-rank. Every float fold is
    * `list_reduce` over a j-ordered list — the same left fold Scala's
    * `reduce(_ + _)` performs. */
  val simIvfPqDetSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), nn AS (
      |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), cents AS (
      |  SELECT id AS cid, v AS cv, nrm AS cn FROM nn ORDER BY id LIMIT 16
      |), cranked AS (
      |  SELECT s.id, s.cid,
      |         row_number() OVER (PARTITION BY s.id
      |                            ORDER BY s.csim DESC, s.cid ASC) AS rk
      |  FROM (SELECT nn.id, c.cid,
      |               list_dot_product(nn.v, c.cv) / (nn.nrm * c.cn) AS csim
      |        FROM nn CROSS JOIN cents c) s
      |), assigned AS (
      |  SELECT id, cid FROM cranked WHERE rk = 1
      |), samp AS (
      |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v
      |  FROM (SELECT id, v FROM nn ORDER BY id LIMIT 16)
      |), books AS (
      |  SELECT j.j, samp.c,
      |         list_slice(samp.v, j.j * 8 + 1, j.j * 8 + 8) AS cw
      |  FROM range(0, 8) j(j) CROSS JOIN samp
      |), bookn AS (
      |  SELECT j, c, cw,
      |         list_reduce(list_transform(cw, x -> x * x), (a, b) -> a + b) AS n2
      |  FROM books
      |), coderank AS (
      |  SELECT e.id, e.j, e.c, e.n2,
      |         row_number() OVER (PARTITION BY e.id, e.j
      |                            ORDER BY e.score DESC, e.c ASC) AS rk
      |  FROM (SELECT nn.id, b.j, b.c, b.n2,
      |               list_dot_product(list_slice(nn.v, b.j * 8 + 1, b.j * 8 + 8),
      |                                b.cw) * 2 - b.n2 AS score
      |        FROM nn CROSS JOIN bookn b) e
      |), codes AS (
      |  SELECT id, j, c, n2 FROM coderank WHERE rk = 1
      |), recon AS (
      |  SELECT id, list_reduce(list(n2 ORDER BY j), (a, b) -> a + b) AS rn2
      |  FROM codes GROUP BY id
      |), probes AS (
      |  SELECT id AS query_id, cid FROM cranked WHERE id % 100 = 0 AND rk <= 4
      |), luts AS (
      |  SELECT nn.id AS query_id, b.j, b.c,
      |         list_dot_product(list_slice(nn.v, b.j * 8 + 1, b.j * 8 + 8),
      |                          b.cw) AS lut
      |  FROM nn CROSS JOIN books b
      |  WHERE nn.id % 100 = 0
      |), adcsum AS (
      |  SELECT p.query_id, cd.id AS neighbor_id,
      |         list_reduce(list(l.lut ORDER BY cd.j), (x, y) -> x + y) AS adc
      |  FROM assigned a
      |  JOIN probes p ON a.cid = p.cid AND p.query_id <> a.id
      |  JOIN codes cd ON cd.id = a.id
      |  JOIN luts l ON l.query_id = p.query_id AND l.j = cd.j AND l.c = cd.c
      |  GROUP BY p.query_id, cd.id
      |), shortlist AS (
      |  SELECT query_id, neighbor_id
      |  FROM (SELECT s.query_id, s.neighbor_id,
      |               row_number() OVER (PARTITION BY s.query_id
      |                 ORDER BY s.adc / (q.nrm * sqrt(r.rn2)) DESC,
      |                          s.neighbor_id ASC) AS arn
      |        FROM adcsum s
      |        JOIN nn q ON q.id = s.query_id
      |        JOIN recon r ON r.id = s.neighbor_id)
      |  WHERE arn <= 20
      |), rer AS (
      |  SELECT s.query_id, s.neighbor_id,
      |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
      |  FROM shortlist s
      |  JOIN nn q ON q.id = s.query_id
      |  JOIN nn c ON c.id = s.neighbor_id
      |)
      |SELECT query_id, neighbor_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
      |  FROM rer
      |) WHERE rn <= 5""".stripMargin

  /** Filtered IVF-PQ (deterministic twin): the compressed-index member
    * of the filtered-ANN family — shared full-corpus model/index, index
    * rows semi-joined to `label = 3` before ADC/shortlist/re-rank. */
  val simIvfPqFilteredDet: Q = (s, dir) =>
    Similarity.ivfPqTopKWhere(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, col("label") === 3, k = 5,
      nCentroids = 16, nProbe = 4, m = 8, kSub = 16,
      trainIters = 0, pqIters = 0)

  /** [[simIvfPqDetSql]] with the label predicate applied exactly where
    * the Spark path applies it — the index rows entering the probe join
    * (`assigned`); model, codes, LUTs, and queries stay full-corpus. */
  val simIvfPqFilteredDetSql: String = simIvfPqDetSql
    .replace(
      "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings")
    .replace(
      "SELECT id, cid FROM cranked WHERE rk = 1",
      "SELECT c.id, c.cid FROM cranked c JOIN base b ON b.id = c.id " +
        "WHERE c.rk = 1 AND b.label = 3")

  /** Attribute-carrying filtered IVF-PQ (deterministic twin, r12): the
    * SAME output as [[simIvfPqFilteredDet]], produced the deployment
    * way — the index carries `label` next to the codes
    * ([[Similarity.buildPqIndexWith]]), is persisted as parquet ONCE per
    * (application, sfDir), and the label predicate applies directly to
    * the persisted index scan (parquet row-group pruning; PushedFilters
    * pinned in SimilaritySpec). No corpus-scale semi-join exists in the
    * search plan — this is the measured form of the shape
    * [[Similarity.ivfPqTopKWhere]]'s scaladoc prescribes for fixed
    * attributes. */
  val simIvfPqAttrDet: Q = (s, dir) => {
    val key = s.sparkContext.applicationId + "|" + dir
    val (model, path) = pqAttrIndexCache.computeIfAbsent(key, _ => {
      val (mdl, idx) = Similarity.buildPqIndexWith(
        Tables.embeddings(s, dir), "vec_id", "embedding", Seq("label"),
        nCentroids = 16, m = 8, kSub = 16, trainIters = 0, pqIters = 0)
      val p = java.nio.file.Files
        .createTempDirectory("graft_pq_attr_idx").toString
      idx.write.mode("overwrite").parquet(p)
      (mdl, p)
    })
    Similarity.searchPqIndex(model,
      s.read.parquet(path).filter(col("label") === 3),
      Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nProbe = 4, rerankFactor = 4)
  }

  private val pqAttrIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Similarity.PqModel, String)]()

  /** Session-lifetime IVF-PQ index cache keyed by (application, sfDir):
    * the build half of [[Similarity.ivfPqTopK]] runs ONCE per corpus and
    * the encoded index is persisted; every later call pays search cost
    * only. This is the production shape made literal — persist
    * (id, cid, codes, rn2) next to the model, amortize training away —
    * and it's what `sim_ivfpq_search` measures in the bench (vs
    * `sim_ivfpq_topk`, which deliberately re-pays the build every call). */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.ManagedPqIndex]()

  val simIvfPqSearch: Q = (s, dir) => {
    val key = s.sparkContext.applicationId + "|" + dir
    // ManagedPqIndex (r11): the cached handle carries the build-time
    // drift baseline, so a long-lived session APPENDING batches through
    // it gets the stale-check-then-rebuild contract instead of serving
    // a drifted index forever (PqDriftSpec pins that path end to end).
    // This gate never appends, so its search output and amortization
    // are unchanged — the one extra build-time cost is the baseline
    // residual pass, map-only over the corpus, paid once per session.
    val handle = pqIndexCache.computeIfAbsent(key, _ =>
      Similarity.managedPqIndex(Tables.embeddings(s, dir),
        "vec_id", "embedding", nCentroids = 16, m = 8, kSub = 16,
        trainIters = 0, pqIters = 1))
    handle.search(col("id") % 100 === 0, k = 5, nProbe = 4,
      rerankFactor = 4)
  }

  /** Incremental IVF-PQ maintenance: the index is built (trained +
    * encoded) on the FIRST HALF of the corpus only, the second half is
    * appended against the frozen model (map-only encode, no retrain, no
    * rescan), and the probe set searches the union — the growing-corpus
    * shape between index rebuilds. Rows-only; model-equivalence of the
    * append path is pinned exactly in SimilaritySpec. */
  val simIvfPqAppend: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // deterministic even/odd split — no extra job to find a median;
    // both halves are full-size samples of the same distribution
    val (model, idx) = Similarity.buildPqIndex(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nCentroids = 16, m = 8, kSub = 16, trainIters = 0, pqIters = 1)
    val full = Similarity.appendToPqIndex(
      model, idx, emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    Similarity.searchPqIndex(model, full, emb, "vec_id", "embedding",
      col("id") % 100 === 0, k = 5, nProbe = 4, rerankFactor = 4)
  }

  /** Int8 scalar quantization — gate projects scalar digests of the code
    * vector (array columns crash the driver's pandas compare; the full
    * qvec stays spec-covered). Exact oracle: integer codes + IEEE scale. */
  val simQuantize: Q = (s, dir) =>
    Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("scale"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + abs(x.cast("long"))).as("q_l1"))

  val simQuantizeSql: String =
    """WITH b AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), s AS (
      |  SELECT vec_id, v,
      |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM b
      |), q AS (
      |  SELECT vec_id, scale,
      |         list_transform(v, x -> CASE WHEN scale > 0
      |           THEN CAST(greatest(-127.0, least(127.0, round(x / scale))) AS BIGINT)
      |           ELSE 0 END) AS qv
      |  FROM s
      |)
      |SELECT vec_id, scale,
      |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
      |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
      |FROM q""".stripMargin

  /** LSH-bucketed embedding near-dup pairs — rows-only. Thresholds tuned to
    * the synthetic embeddings (max sample-pair cosine ≈ 0.44): tau 0.3 with
    * 3 planes keeps recall high enough to emit rows at sf0.01. */
  val simNearDup: Q = (s, dir) =>
    Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
      tau = 0.3, leftPred = col("id") % 20 === 0, planes = 3)

  /** Portable near-dup twin (md5 planes) — the candidate bucketing under
    * the exact oracle (r7); the xxhash64 native stays the scale path. */
  val simNearDupMd5: Q = (s, dir) =>
    Similarity.cosineNearDupPairsPortable(Tables.embeddings(s, dir), "vec_id",
      "embedding", tau = 0.3, leftPred = col("id") % 20 === 0, planes = 3)

  /** The SAME near-dup pairing in DuckDB: 3 md5-plane sign bits → bucket,
    * pairs within a bucket (a.id < b.id, left side id % 20 = 0), cosine
    * threshold on the rounded value. */
  val simNearDupMd5Sql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), nn AS (
      |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), sig AS (
      |  SELECT id, v, nrm,
      |         list_sum(list_transform(range(0, 3), p -> CASE WHEN
      |           list_reduce(
      |             list_transform(range(1, len(v) + 1), i -> v[i] * (
      |               list_reduce(list_transform(
      |                 string_split(substring(md5(CAST(p AS VARCHAR) || '#' ||
      |                   CAST(i - 1 AS VARCHAR)), 1, 8), ''),
      |                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS DOUBLE)),
      |                 (a, b) -> a * 16 + b) / 4294967296.0 * 2 - 1)),
      |             (a, b) -> a + b) >= 0
      |           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS bucket
      |  FROM nn
      |)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.id < b.id
      |WHERE a.id % 20 = 0
      |  AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3""".stripMargin

  /** SemDeDup semantic dedup over the embeddings corpus: 16 deterministic
    * coarse-quantizer clusters, keep-lowest-id inside each τ=0.3 cosine
    * neighborhood. Drops 168/500 rows at sf0.01 — a real split, not a
    * degenerate all-keep. Deterministic (trainIters = 0) → exact oracle. */
  val semanticDedup: Q = (s, dir) =>
    Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      tau = 0.3, nCentroids = 16)

  /** The SAME SemDeDup decision in DuckDB: lowest-16-id centroids, cosine
    * argmax assignment (ties → lower cid), within-cluster pair scan with
    * the τ compare on the 6-dp rounded cosine, keep = no lower-id
    * neighbor above τ. */
  val semanticDedupSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), nn AS (
      |  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
      |), cents AS (
      |  SELECT id AS cid, v AS cv, nrm AS cn FROM nn ORDER BY id LIMIT 16
      |), ranked AS (
      |  SELECT s.id, s.cid,
      |         row_number() OVER (PARTITION BY s.id
      |                            ORDER BY s.csim DESC, s.cid ASC) AS rk
      |  FROM (SELECT nn.id, c.cid,
      |               list_dot_product(nn.v, c.cv) / (nn.nrm * c.cn) AS csim
      |        FROM nn CROSS JOIN cents c) s
      |), av AS (
      |  SELECT a.id, a.cid, nn.v, nn.nrm
      |  FROM (SELECT id, cid FROM ranked WHERE rk = 1) a JOIN nn USING (id)
      |), drops AS (
      |  SELECT DISTINCT b.id
      |  FROM av b JOIN av a ON a.cid = b.cid AND a.id < b.id
      |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
      |)
      |SELECT av.id AS id, av.cid AS cid,
      |       (drops.id IS NULL) AS keep
      |FROM av LEFT JOIN drops ON av.id = drops.id""".stripMargin

  /** Ingest-time semantic dedup: vec_id % 10 = 0 is the incoming batch,
    * the rest is the kept corpus; quantizer frozen on the corpus. */
  val semanticDedupInc: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semanticDedupIncremental(
      emb.filter(col("vec_id") % 10 === 0),
      emb.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", tau = 0.3, nCentroids = 16)
  }

  /** The SAME ingest decision in DuckDB: corpus-only lowest-16-id
    * centroids, argmax assignment of both sides, drop on an in-cluster
    * ≥ τ corpus neighbor or a lower-id ≥ τ batch neighbor. */
  val semanticDedupIncSql: String =
    """WITH nn AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |), cents AS (
      |  SELECT id AS cid, v AS cv, nrm AS cn FROM nn
      |  WHERE id % 10 <> 0 ORDER BY id LIMIT 16
      |), assigned AS (
      |  SELECT id, cid FROM (
      |    SELECT nn.id, c.cid,
      |           row_number() OVER (PARTITION BY nn.id
      |             ORDER BY list_dot_product(nn.v, c.cv) / (nn.nrm * c.cn) DESC,
      |                      c.cid ASC) AS rk
      |    FROM nn CROSS JOIN cents c
      |  ) WHERE rk = 1
      |), av AS (
      |  SELECT a.id, a.cid, nn.v, nn.nrm FROM assigned a JOIN nn USING (id)
      |), inc AS (SELECT * FROM av WHERE id % 10 = 0
      |), corp AS (SELECT * FROM av WHERE id % 10 <> 0
      |), drops AS (
      |  SELECT DISTINCT b.id FROM inc b JOIN corp a ON a.cid = b.cid
      |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
      |  UNION
      |  SELECT DISTINCT b.id FROM inc b JOIN inc a
      |    ON a.cid = b.cid AND a.id < b.id
      |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
      |)
      |SELECT inc.id AS id, inc.cid AS cid, (drops.id IS NULL) AS keep
      |FROM inc LEFT JOIN drops ON inc.id = drops.id""".stripMargin

  // ------------------------------------------------------------------
  // Text analysis (documents)
  // ------------------------------------------------------------------

  val textTokens: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).as("ws_tokens"),
      TextAnalysis.bpeIshTokenCount(col("text")).as("bpe_tokens"))

  val textTokensSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
      |FROM documents""".stripMargin

  val textQuality: Q = (s, dir) =>
    TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        col("mean_token_len"), col("stopword_ratio"), col("punct_ratio"),
        col("alpha_ratio"), col("quality_score"))

  val textQualitySql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INT) AS n_chars_m,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
      |    CAST(len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','an','of','to','and','in','is'))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
      |  FROM documents
      |)
      |SELECT doc_id, n_chars_m, n_tokens, mean_token_len, stopword_ratio,
      |       punct_ratio, alpha_ratio,
      |       greatest(0.0, least(1.0,
      |         0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
      |         + 0.3 * (1.0 - punct_ratio)
      |         + 0.3 * alpha_ratio)) AS quality_score
      |FROM f""".stripMargin

  val textLangId: Q = (s, dir) =>
    TextAnalysis.withLangId(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("lang_pred"))

  /** CASE chain in lexicographic language order replicates the Spark-side
    * argmax tie-break (smallest language code wins on equal hits). */
  val textLangIdSql: String = {
    val langs = TextAnalysis.langProfiles.toSeq.sortBy(_._1)
    def hits(words: Seq[String]): String =
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val hitCols = langs.map { case (l, ws) => s"${hits(ws)} AS h_$l" }.mkString(",\n    ")
    val cases = langs.init.zipWithIndex.map { case ((l, _), i) =>
      val rest = langs.drop(i + 1).map { case (r, _) => s"h_$l >= h_$r" }.mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n    ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    $hitCols
       |  FROM documents
       |)
       |SELECT doc_id, CASE
       |    $cases
       |    ELSE '${langs.last._1}' END AS lang_pred
       |FROM h""".stripMargin
  }

  /** Text normalization — the cleanup pass upstream of every dedup/quality
    * stage: trim, collapse runs of whitespace, lowercase; plus the md5 of
    * the normalized form (the fingerprint exact-dedup would key on).
    * Map-only, whole-stage codegen. */
  val textNormalize: Q = (s, dir) => {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    Tables.documents(s, dir).select(
      col("doc_id"), norm.as("text_norm"), md5(norm).as("norm_md5"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS text_norm,
      |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_md5
      |FROM documents""".stripMargin

  /** Gopher-style repetition metrics — duplicate/top n-gram fractions. */
  val textRepetition: Q = (s, dir) =>
    TextAnalysis.withRepetitionFeatures(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_2grams"), col("dup_2gram_frac"),
        col("dup_3gram_frac"), col("top_2gram_frac"))

  val textRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1]))
      |      ELSE CAST([] AS VARCHAR[]) END AS g2,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |      ELSE CAST([] AS VARCHAR[]) END AS g3
      |  FROM t
      |)
      |SELECT doc_id,
      |  CAST(len(g2) AS INT) AS n_2grams,
      |  CASE WHEN len(g2) > 0
      |    THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
      |    ELSE 0.0 END AS dup_2gram_frac,
      |  CASE WHEN len(g3) > 0
      |    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
      |    ELSE 0.0 END AS dup_3gram_frac,
      |  CASE WHEN len(g2) > 0
      |    THEN CAST(list_max(list_transform(list_distinct(g2),
      |           b -> len(list_filter(g2, x -> x = b)))) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
      |    ELSE 0.0 END AS top_2gram_frac
      |FROM g""".stripMargin

  /** BM25 top-5 characteristic terms per document. */
  val bm25TopTerms: Q = (s, dir) =>
    Relevance.bm25TopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)

  val bm25TopTermsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    round(
      |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |               / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * 2.2)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
      |      6) AS bm25_r
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
      |)
      |SELECT doc_id, term, tf, df, bm25_r, CAST(rn AS INT) AS rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25_r DESC, term) AS rn
      |  FROM scored
      |) WHERE rn <= 5""".stripMargin

  /** Bounded-vocabulary BM25: same scoring, terms with df < 3 pruned
    * before the join-back — the scale knob that stops the scored row set
    * growing with the hapax tail (surviving terms score identically; the
    * oracle certifies both the pruning boundary and the arithmetic). */
  val bm25TopTermsMinDf: Q = (s, dir) =>
    Relevance.bm25TopTerms(Tables.documents(s, dir), "doc_id", "text",
      k = 5, minDf = 3L)

  val bm25TopTermsMinDfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
      |  HAVING count(*) >= 3
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    round(
      |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |               / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * 2.2)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
      |      6) AS bm25_r
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
      |)
      |SELECT doc_id, term, tf, df, bm25_r, CAST(rn AS INT) AS rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25_r DESC, term) AS rn
      |  FROM scored
      |) WHERE rn <= 5""".stripMargin

  /** CCNet-style quality signal: corpus-trained bigram-LM perplexity per
    * document (add-α = 0.5, minCount = 2 so once-seen bigrams exercise
    * the pruned/unseen branch). */
  val textLmPpl: Q = (s, dir) =>
    Relevance.bigramLmPerplexity(Tables.documents(s, dir), "doc_id", "text",
      alpha = 0.5, minCount = 2)

  /** The SAME bigram LM in DuckDB: map-side shifted-slice pair list
    * (1-indexed lateral range), pruned counts, add-α score, per-doc mean
    * NLL and perplexity on the 6-dp round. */
  val textLmPplSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), bi AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
      |), bc AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
      |  HAVING count(*) >= 2
      |), uni AS (
      |  SELECT w1, count(*) AS c1
      |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1
      |), vocab AS (
      |  SELECT count(*) AS v FROM uni
      |), scored AS (
      |  SELECT bi.doc_id,
      |         ln((CAST(coalesce(bc.c2, 0) AS DOUBLE) + 0.5)
      |            / (CAST(uni.c1 AS DOUBLE) + 0.5 * CAST(vocab.v AS DOUBLE))) AS lnp
      |  FROM bi LEFT JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         round(-avg(lnp), 6) AS avg_nll,
      |         round(exp(-avg(lnp)), 6) AS ppl
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT toks.doc_id,
      |       CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       agg.avg_nll, agg.ppl
      |FROM toks LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Embedding-level decontamination: vec_id % 50 = 0 plays the benchmark
    * set; every other vector is screened exhaustively against it. */
  val semanticDecontam: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 50 =!= 0),
      emb.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", tau = 0.3)
  }

  /** The SAME screen in DuckDB: all corpus × benchmark cosines, τ on the
    * 6-dp round, per-row hit count + max. */
  val semanticDecontamSql: String =
    """WITH nn AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |), c AS (SELECT * FROM nn WHERE id % 50 <> 0
      |), b AS (SELECT v AS bv, nrm AS bn FROM nn WHERE id % 50 = 0
      |), hits AS (
      |  SELECT c.id, CAST(count(*) AS BIGINT) AS n_hits,
      |         max(round(list_dot_product(c.v, b.bv) / (c.nrm * b.bn), 6))
      |           AS max_cos
      |  FROM c JOIN b
      |    ON round(list_dot_product(c.v, b.bv) / (c.nrm * b.bn), 6) >= 0.3
      |  GROUP BY c.id
      |)
      |SELECT c.id, CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
      |       hits.max_cos, (hits.n_hits IS NULL) AS clean
      |FROM c LEFT JOIN hits ON c.id = hits.id""".stripMargin

  // ------------------------------------------------------------------
  // BPE subword tokenization (documents)
  // ------------------------------------------------------------------

  /** Merge budget for the BPE gates — comfortably below pair exhaustion
    * on the testdata vocabulary so Spark's early-stop and the oracle's
    * fixed-round CTE chain see the same k rounds. */
  private val bpeMergeRounds = 12

  /** Session-lifetime model cache per (app, sf dir): the three BPE gates
    * share one learned model instead of re-running the merge loop — the
    * same amortization contract as the IVF-PQ index cache. */
  private val bpeModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Tokenize.BpeModel]()

  private def bpeModel(s: org.apache.spark.sql.SparkSession,
                       dir: String): Tokenize.BpeModel =
    bpeModelCache.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir,
      _ => Tokenize.learnBpe(
        Tokenize.wordCounts(Tables.documents(s, dir), "doc_id", "text"),
        k = bpeMergeRounds))

  /** Learned BPE merge table: k ranked rules with weighted pair counts. */
  val bpeMerges: Q = (s, dir) => Tokenize.mergesDf(bpeModel(s, dir))

  /** Corpus segmented with the learned model: per-doc word/subword counts
    * and the space-joined subword sequence in document order. */
  val bpeTokens: Q = (s, dir) =>
    Tokenize.applyBpe(Tables.documents(s, dir), bpeModel(s, dir),
      "doc_id", "text")

  /** Subword vocabulary of the segmented corpus, top 100 by weighted
    * occurrence count. */
  val bpeVocab: Q = (s, dir) => Tokenize.subwordVocab(bpeModel(s, dir), k = 100)

  /** The SAME BPE learner in DuckDB: a generated CTE chain — word counts,
    * char seed, then per round a weighted pair count, a 1-row argmax
    * (count desc, pair asc — binary collation matches Spark on the ASCII
    * corpus), and a `list_reduce` greedy merge fold (tokens lifted to
    * single-element lists so the fold accumulator is a list). Every CTE
    * is MATERIALIZED: each round references the previous one twice (pair
    * count + merge), so DuckDB's default CTE inlining would expand the
    * chain 2^k-fold. */
  private def bpeRoundsSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH wc AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word
      |), w0 AS MATERIALIZED (
      |  SELECT word, cnt,
      |         list_filter(string_split(word, ''), x -> x <> '') AS toks
      |  FROM wc
      |)""".stripMargin
    for (i <- 1 to k) {
      val prev = s"w${i - 1}"
      sb ++= s""", p$i AS MATERIALIZED (
        |  SELECT z[1] AS l, z[2] AS r, sum(cnt) AS c
        |  FROM (SELECT cnt,
        |               unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
        |        FROM $prev WHERE len(toks) >= 2)
        |  GROUP BY 1, 2
        |), b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1
        |), w$i AS MATERIALIZED (
        |  SELECT word, cnt,
        |    list_reduce(list_transform(toks, t -> [t]),
        |      (acc, x) -> CASE WHEN acc[-1] = b$i.l AND x[1] = b$i.r
        |                  THEN acc[1:len(acc)-1] || [b$i.l || b$i.r]
        |                  ELSE acc || x END) AS toks
        |  FROM $prev CROSS JOIN b$i
        |)""".stripMargin
    }
    sb.result()
  }

  val bpeMergesSql: String =
    bpeRoundsSql(bpeMergeRounds) + "\n" +
      (1 to bpeMergeRounds).map { i =>
        s"""SELECT $i AS "rank", l AS "left", r AS "right",
           |       l || r AS merged, CAST(c AS BIGINT) AS pair_cnt FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")

  val bpeTokensSql: String =
    bpeRoundsSql(bpeMergeRounds) +
      s""", dtoks AS (
        |  SELECT doc_id, i AS pos, w[i] AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
        |               unnest(range(1, len(w) + 1)) AS i FROM documents)
        |  WHERE w[i] <> ''
        |), seg AS (
        |  SELECT d.doc_id, d.pos, wk.toks
        |  FROM dtoks d JOIN w$bpeMergeRounds wk USING (word)
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |         CAST(sum(len(toks)) AS BIGINT) AS n_subwords,
        |         string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos)
        |           AS subword_text
        |  FROM seg GROUP BY doc_id
        |)
        |SELECT doc_id, coalesce(a.n_words, 0) AS n_words,
        |       coalesce(a.n_subwords, 0) AS n_subwords,
        |       coalesce(a.subword_text, '') AS subword_text
        |FROM (SELECT DISTINCT doc_id FROM documents) s LEFT JOIN agg a
        |USING (doc_id)""".stripMargin

  val bpeVocabSql: String =
    bpeRoundsSql(bpeMergeRounds) +
      s"""
        |SELECT subword, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, subword) AS INT) AS rn
        |FROM (
        |  SELECT s AS subword, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(toks) AS s, cnt FROM w$bpeMergeRounds)
        |  GROUP BY s
        |)
        |ORDER BY cnt DESC, subword LIMIT 100""".stripMargin

  /** Corpus vocabulary: global top-50 terms by count, with doc frequency. */
  val vocabTopTerms: Q = (s, dir) =>
    Relevance.vocabTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 50)

  val vocabTopTermsSql: String =
    """SELECT term, cnt, df, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS rn
      |FROM (
      |  SELECT term, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY term
      |)
      |ORDER BY cnt DESC, term LIMIT 50""".stripMargin

  /** Misra–Gries heavy-terms sketch (k=64) — the bounded-state twin of
    * `vocab_top_terms`. In general merge-order dependent, but the
    * testdata vocabulary (31 terms) fits the 64 counters, so no
    * decrement ever fires and the sketch equals exact counts on ANY
    * merge order — oracled against plain GROUP BY counts. The
    * over-capacity n/(k+1) guarantee stays pinned in FreqSketchSpec. */
  val vocabSketch: Q = (s, dir) =>
    FreqSketch.sketchTerms(Tables.documents(s, dir), "text", k = 64)

  val vocabSketchSql: String =
    """SELECT term, CAST(count(*) AS BIGINT) AS est
      |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |GROUP BY term""".stripMargin

  /** PII scrub: detected email/URL counts + typed-placeholder masking. */
  val textPii: Q = (s, dir) =>
    TextAnalysis.withPiiScrub(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_emails"), col("n_urls"), col("text_masked"))

  val textPiiSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls,
      |  regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |                 'https?://[^\s]+', '<URL>', 'g') AS text_masked
      |FROM documents""".stripMargin

  /** LM sequence packing: concat docs in id order, cut into 512-token
    * sequences; one row per (doc × sequence it occupies). */
  val seqPacking: Q = (s, dir) =>
    Packing.packSequences(
      Tables.documents(s, dir)
        .withColumn("n_toks", size(TextAnalysis.tokens(col("text")))),
      "doc_id", "n_toks", capacity = 512L)

  val seqPackingSql: String =
    """WITH n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
      |), c AS (
      |  SELECT doc_id, n,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      |  FROM n
      |), e AS (
      |  SELECT doc_id, n, s,
      |    unnest(generate_series(s // 512, (s + n - 1) // 512)) AS seq_id
      |  FROM c WHERE n > 0
      |)
      |SELECT doc_id,
      |  CAST(seq_id AS BIGINT) AS seq_id,
      |  CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT) AS offset_in_seq,
      |  CAST(least(s + n, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS BIGINT) AS n_in_seq
      |FROM e""".stripMargin

  /** Benchmark decontamination: docs from source 'src0' act as the eval
    * suite; every other doc reports its distinct-3-gram overlap with it. */
  val textContamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextAnalysis.contaminationCheck(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", n = 3)
  }

  val textContaminationSql: String =
    """WITH tk AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      |), g AS (
      |  SELECT doc_id, source,
      |         CASE WHEN len(t) >= 3
      |              THEN list_distinct(list_transform(range(1, len(t) - 1),
      |                     i -> array_to_string(t[i:i+2], ' ')))
      |              ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM tk
      |), bench AS (
      |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'
      |), corp AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src0'
      |), agg AS (
      |  SELECT c.doc_id, count(*) AS n_grams, count(b.gram) AS n_contaminated
      |  FROM corp c LEFT JOIN bench b ON c.gram = b.gram
      |  GROUP BY c.doc_id
      |)
      |SELECT d.doc_id,
      |       CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
      |       CAST(COALESCE(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |       CASE WHEN COALESCE(a.n_grams, 0) > 0
      |            THEN CAST(a.n_contaminated AS DOUBLE) / CAST(a.n_grams AS DOUBLE)
      |            ELSE 0.0 END AS contamination_frac
      |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Context-window chunking: 64-token windows, 8-token overlap. */
  val textChunks: Q = (s, dir) =>
    TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlap = 8)
      .withColumnRenamed("id", "doc_id")

  val textChunksSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), c AS (
      |  SELECT doc_id, t, len(t) AS n,
      |         unnest(generate_series(0, (greatest(len(t) - 8, 1) - 1) // 56)) AS chunk_id
      |  FROM tk
      |)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |       array_to_string(t[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS chunk_text,
      |       CAST(least(64, n - chunk_id * 56) AS INT) AS n_chunk_tokens
      |FROM c""".stripMargin

  /** Rule-based keep/drop decision over the quality features. */
  val textRuleFilter: Q = (s, dir) =>
    TextAnalysis.withRuleFilter(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("ok_n_tokens"), col("ok_mean_token_len"),
        col("ok_punct"), col("ok_alpha"), col("keep"))

  val textRuleFilterSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(n_tokens >= 10 AND n_tokens <= 100000 AS INT) AS ok_n_tokens,
      |  CAST(mean_token_len >= 2.0 AND mean_token_len <= 12.0 AS INT) AS ok_mean_token_len,
      |  CAST(punct_ratio <= 0.3 AS INT) AS ok_punct,
      |  CAST(alpha_ratio >= 0.5 AS INT) AS ok_alpha,
      |  CAST(n_tokens >= 10 AND n_tokens <= 100000
      |       AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
      |       AND punct_ratio <= 0.3 AND alpha_ratio >= 0.5 AS INT) AS keep
      |FROM f""".stripMargin

  /** Portable fingerprint (md5) — the oracle-checkable slice. */
  val textFingerprint: Q = (s, dir) =>
    TextAnalysis.withFingerprints(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("fp_md5"))

  val textFingerprintSql: String =
    "SELECT doc_id, md5(text) AS fp_md5 FROM documents"

  /** Fingerprint family incl. the 58-bit polynomial rolling hash. The
    * gate projects the two oracle-computable digests (md5 + rolling; the
    * rolling hash replays exactly in DuckDB as a list_reduce over code
    * points) so the column previously unverifiable rows-only is now
    * hash-matched; fp_xxh64 stays on the operator (Spark builtin, no
    * DuckDB twin — excluded from the gate projection, not the API). */
  val textFingerprintFull: Q = (s, dir) =>
    TextAnalysis.withFingerprints(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("fp_md5"), col("fp_rolling"))

  val textFingerprintFullSql: String =
    """SELECT doc_id, md5(text) AS fp_md5,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % (CAST(1 AS BIGINT) << 58)) AS fp_rolling
      |FROM documents""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic sampling (documents)
  // ------------------------------------------------------------------

  /** DuckDB twin of [[Sampling.hashBucket]] / [[Importance.featBucket]]:
    * parse the first 8 md5 hex chars positionally (no hex→int cast exists
    * in DuckDB 1.0; the power-of-16 sum is exact in doubles for 32-bit
    * values). `cast` wraps the key for non-string keys. */
  private def duckHashBucketMod(keyExpr: String, mod: Int,
                                cast: Boolean = true): String = {
    val k = if (cast) s"CAST($keyExpr AS VARCHAR)" else keyExpr
    s"""CAST(list_sum(list_transform(range(8), i ->
       |    (strpos('0123456789abcdef',
       |       substr(md5($k), CAST(i + 1 AS INT), 1)) - 1)
       |    * power(16, 7 - i))) AS BIGINT) % $mod""".stripMargin
  }

  private def duckHashBucket(keyExpr: String): String =
    duckHashBucketMod(keyExpr, 1000)

  /** 20% deterministic sample + reproducible train/val/test assignment. */
  val sampleDet: Q = (s, dir) =>
    Sampling.deterministicSample(Tables.documents(s, dir), "doc_id", 0.20)
      .select(col("doc_id"), col("lang"), col("source"),
        Sampling.splitColumn(col("doc_id"), 0.8, 0.1).as("split"))

  val sampleDetSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, source, ${duckHashBucket("doc_id")} AS bucket
       |  FROM documents
       |)
       |SELECT doc_id, lang, source,
       |       CASE WHEN bucket < 800 THEN 'train'
       |            WHEN bucket < 900 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM b WHERE bucket < 200""".stripMargin

  /** Stratified: keep 50% of 'en', 10% of everything else. */
  val sampleStratified: Q = (s, dir) =>
    Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.5), default = 0.1)
      .select(col("doc_id"), col("lang"))

  val sampleStratifiedSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, ${duckHashBucket("doc_id")} AS bucket
       |  FROM documents
       |)
       |SELECT doc_id, lang FROM b
       |WHERE bucket < CASE WHEN lang = 'en' THEN 500 ELSE 100 END""".stripMargin

  /** Temperature-0.5 domain rebalance over the (skewed) lang distribution:
    * each language kept with p = sqrt(n_min / n_lang), deterministic by
    * doc_id. (pow with exponent 0.5 is the IEEE sqrt path on both engines,
    * so the integer thresholds agree bit-exactly.) */
  val sampleTemperature: Q = (s, dir) =>
    Sampling.temperatureSample(Tables.documents(s, dir), "doc_id", "lang",
        alpha = 0.5)
      .select(col("doc_id"), col("lang"))

  val sampleTemperatureSql: String =
    s"""WITH n AS (
       |  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
       |), t AS (
       |  SELECT lang,
       |    CAST(floor(pow(CAST((SELECT min(cnt) FROM n) AS DOUBLE)
       |                   / CAST(cnt AS DOUBLE), 0.5) * 1000) AS BIGINT) AS thr
       |  FROM n
       |), b AS (
       |  SELECT doc_id, lang, ${duckHashBucket("doc_id")} AS bucket
       |  FROM documents
       |)
       |SELECT b.doc_id, b.lang FROM b JOIN t ON b.lang = t.lang
       |WHERE b.bucket < t.thr""".stripMargin

  /** Token-budget domain mix: 8000-token target, src1 over-weighted (caps
    * at keep-all), src0 under-weighted, everything else at the default —
    * exercises both the capped and proportional regimes. */
  val mixBudget: Q = (s, dir) =>
    Sampling.budgetMixSample(
        Tables.documents(s, dir)
          .withColumn("n_tokens", size(split(col("text"), " "))),
        "doc_id", "source", "n_tokens",
        weights = Map("src0" -> 0.05, "src1" -> 0.30),
        defaultWeight = 0.65 / 18.0, budgetTokens = 8000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))

  // Thresholds in exact integral arithmetic (weights at ppb resolution,
  // HUGEINT division) — mirrors budgetMixSample's engine-exact contract.
  // The ppb literals are computed here with the SAME JVM doubles the
  // Spark side rounds, so both engines see identical integers.
  val mixBudgetSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents
       |), g AS (
       |  SELECT source, sum(n_tokens) AS gtok FROM d GROUP BY source
       |), t AS (
       |  SELECT source, least(1000, CAST(
       |    (CAST(8000 AS HUGEINT) *
       |     (CASE WHEN source = 'src0' THEN ${math.round(0.05 * 1e9)}
       |           WHEN source = 'src1' THEN ${math.round(0.30 * 1e9)}
       |           ELSE ${math.round(0.65 / 18.0 * 1e9)} END) * 1000)
       |    // (CAST(1000000000 AS HUGEINT) * gtok) AS BIGINT)) AS thr
       |  FROM g
       |), b AS (
       |  SELECT doc_id, source, n_tokens, ${duckHashBucket("doc_id")} AS bucket
       |  FROM d
       |)
       |SELECT b.source, count(*) AS n_kept,
       |       CAST(sum(b.n_tokens) AS BIGINT) AS tokens_kept
       |FROM b JOIN t ON b.source = t.source
       |WHERE b.bucket < t.thr
       |GROUP BY b.source""".stripMargin

  /** Duplicated-span scrubbing: the rewritten corpus with every token of a
    * corpus-duplicated 12-gram removed (dedup_spans measures; this emits
    * the deduplicated text itself). */
  val textScrub: Q = (s, dir) =>
    Dedup.scrubSpans(Tables.documents(s, dir), "doc_id", "text", n = 12)
      .withColumnRenamed("id", "doc_id")

  val textScrubSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, u.p AS p, u.gram AS gram FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 10),
      |      i -> struct_pack(p := i, gram := array_to_string(toks[i:i+11], ' ')))) AS u
      |    FROM t)
      |), dup AS (
      |  SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
      |), cov AS (
      |  SELECT DISTINCT doc_id, unnest(range(g.p, g.p + 12)) AS cp
      |  FROM g JOIN dup USING (gram)
      |), tok AS (
      |  SELECT doc_id, unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS ord
      |  FROM t
      |), kept AS (
      |  SELECT k.doc_id, k.tok, k.ord FROM tok k
      |  WHERE NOT EXISTS (SELECT 1 FROM cov
      |                    WHERE cov.doc_id = k.doc_id AND cov.cp = k.ord)
      |)
      |SELECT d.doc_id,
      |       coalesce(kc.kept_tokens, 0) AS kept_tokens,
      |       coalesce(kc.scrubbed, '') AS scrubbed
      |FROM documents d LEFT JOIN (
      |  SELECT doc_id, count(*) AS kept_tokens,
      |         string_agg(tok, ' ' ORDER BY ord) AS scrubbed
      |  FROM kept GROUP BY doc_id) kc USING (doc_id)""".stripMargin

  /** Fixed-size per-language sample: the 20 docs per lang whose md5 sorts
    * first — exact oracle including the in-group hash order. */
  val sampleBottomK: Q = (s, dir) =>
    Sampling.bottomKSample(Tables.documents(s, dir), "doc_id", "lang", k = 20)
      .select(col("doc_id"), col("lang"), col("sample_rank"))

  val sampleBottomKSql: String =
    """SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank FROM (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents
      |) WHERE rn <= 20""".stripMargin

  /** Fixed-size weighted sample per language (Efraimidis–Spirakis keyed
    * on the md5-derived uniform, weight = document length) — exact
    * oracle including the in-group ES-key order. */
  val sampleWeighted: Q = (s, dir) =>
    Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars",
      "lang", k = 25)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_rank"))

  /** The SAME ES draw in DuckDB: 48-bit md5 prefix → u = (h+0.5)/2^48,
    * key = round(−ln(u)/w, 12) ranked with the doc id tie-break. */
  val sampleWeightedSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, lang, n_chars,
      |    round(-ln((CAST(list_sum(list_transform(range(12), i ->
      |        (strpos('0123456789abcdef',
      |           substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1)
      |        * power(16, 11 - i))) AS DOUBLE) + 0.5) / power(2, 48))
      |      / CAST(n_chars AS DOUBLE), 12) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |)
      |SELECT doc_id, lang, n_chars, CAST(rn AS INT) AS sample_rank FROM (
      |  SELECT doc_id, lang, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY es_key, doc_id) AS rn
      |  FROM keyed
      |) WHERE rn <= 25""".stripMargin

  /** Global quality-score ordering of the corpus (curriculum / corpus-cut
    * primitive) via the two-level bucketed rank — no single-partition
    * sort. Scores round to 6 digits BEFORE ranking so the order (and the
    * rank) is engine-stable; bucket = floor((1-score)*16) is monotone
    * along (score DESC). Oracle = plain ROW_NUMBER over the same order. */
  val globalRankQ: Q = (s, dir) => {
    val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      .select(col("doc_id"), round(col("quality_score"), 6).as("score_r"))
    Ranking.globalRank(scored,
      bucket = floor((lit(1.0) - col("score_r")) * 16),
      order = Seq(col("score_r").desc, col("doc_id")))
  }

  val globalRankSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
      |  FROM documents
      |), q AS (
      |  SELECT doc_id,
      |    round(greatest(0.0, least(1.0,
      |      0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
      |      + 0.3 * (1.0 - punct_ratio)
      |      + 0.3 * alpha_ratio)), 6) AS score_r
      |  FROM f
      |)
      |SELECT doc_id, score_r,
      |       row_number() OVER (ORDER BY score_r DESC, doc_id) AS global_rank
      |FROM q""".stripMargin

  /** Curriculum export — the ranking composition: corpus globally ordered
    * by quality (desc) and cut into 8 equal-count phases by rank
    * (easy-to-hard schedule). The only additions over global_rank are a
    * broadcast single-row total and integer phase arithmetic. */
  val curriculumQ: Q = (s, dir) => {
    val ranked = globalRankQ(s, dir)
    val tot = broadcast(Tables.documents(s, dir).agg(count(lit(1)).as("_tot")))
    ranked.crossJoin(tot)
      .select(col("doc_id"), col("score_r"), col("global_rank"),
        expr("((global_rank - 1) * 8) div _tot").as("phase"))
  }

  val curriculumSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
      |  FROM documents
      |), q AS (
      |  SELECT doc_id,
      |    round(greatest(0.0, least(1.0,
      |      0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
      |      + 0.3 * (1.0 - punct_ratio)
      |      + 0.3 * alpha_ratio)), 6) AS score_r
      |  FROM f
      |), r AS (
      |  SELECT doc_id, score_r,
      |         row_number() OVER (ORDER BY score_r DESC, doc_id) AS global_rank
      |  FROM q
      |)
      |SELECT doc_id, score_r, global_rank,
      |       ((global_rank - 1) * 8) // (SELECT count(*) FROM documents) AS phase
      |FROM r""".stripMargin

  /** DSIR importance weights: raw pool (source<>'src0') scored against the
    * target slice (source='src0') on hashed unigram+bigram features. */
  val importanceW: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Importance.importanceWeights(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text")
  }

  val importanceWSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |), g AS (
       |  SELECT doc_id, source,
       |         list_concat(t, list_transform(range(1, len(t)),
       |           i -> t[i] || ' ' || t[i+1])) AS feats
       |  FROM tk
       |), x AS (
       |  SELECT doc_id, source, unnest(feats) AS f FROM g
       |), xb AS (
       |  SELECT doc_id, source, ${duckHashBucketMod("f", 1024, cast = false)} AS b
       |  FROM x
       |), tc AS (
       |  SELECT b, count(*) AS tc FROM xb WHERE source = 'src0' GROUP BY b
       |), rc AS (
       |  SELECT b, count(*) AS rc FROM xb WHERE source <> 'src0' GROUP BY b
       |), tot AS (
       |  SELECT (SELECT count(*) FROM xb WHERE source = 'src0') AS ttot,
       |         (SELECT count(*) FROM xb WHERE source <> 'src0') AS rtot
       |), w AS (
       |  SELECT rc.b,
       |         ln(CAST(COALESCE(tc.tc, 0) + 1 AS DOUBLE) / CAST(ttot + 1024 AS DOUBLE))
       |       - ln(CAST(rc.rc + 1 AS DOUBLE) / CAST(rtot + 1024 AS DOUBLE)) AS w
       |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
       |)
       |SELECT xb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |       SUM(w.w) AS log_ratio
       |FROM xb JOIN w USING (b) WHERE xb.source <> 'src0'
       |GROUP BY xb.doc_id""".stripMargin

  /** 16-way balanced training shards by token mass (all-integer two-level
    * prefix scan — bit-exact oracle). */
  val shardAssign: Q = (s, dir) =>
    Packing.shardAssign(
      Tables.documents(s, dir)
        .withColumn("n_toks", size(TextAnalysis.tokens(col("text")))),
      "doc_id", "n_toks", nShards = 16)

  val shardAssignSql: String =
    """WITH n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
      |), c AS (
      |  SELECT doc_id, n,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total
      |  FROM n
      |)
      |SELECT doc_id, (s * 16) // total AS shard_id, n AS n_tokens FROM c""".stripMargin

  /** One-pass table profile over the documents corpus: per column null
    * count, exact distinct cardinality, min/max — the data-quality gate
    * run on every new corpus drop. Single Aggregate (multi-distinct via
    * Catalyst's Expand rewrite), stack to long format driver-side.
    * Doubles excluded from the bound columns: their string rendering
    * differs across engines. */
  val tableProfile: Q = (s, dir) =>
    Profiling.profile(Tables.documents(s, dir),
      Seq("doc_id", "lang", "source", "n_chars"))

  val tableProfileSql: String = Seq("doc_id", "lang", "source", "n_chars")
    .map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")

  /**
   * End-to-end corpus build — the composition every stage exists for:
   * rule filter → exact dedup → temperature-0.5 lang rebalance → 8-way
   * balanced shard assignment. One declarative plan: Catalyst pipelines
   * the map-only filter into the dedup exchange, and the sample threshold
   * / shard-offset tables both stay broadcast — the corpus crosses the
   * wire twice total (dedup fingerprint shuffle, prefix-scan bucket agg)
   * at any scale.
   */
  val pipelineE2e: Q = (s, dir) => {
    val kept = TextAnalysis.withRuleFilter(Tables.documents(s, dir), "text")
      .filter(col("keep") === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val deduped = Dedup.exactDedup(kept, "doc_id", "text")
    val sampled = Sampling.temperatureSample(deduped, "doc_id", "lang", 0.5)
    Packing.shardAssign(
      sampled.withColumn("n_toks", size(TextAnalysis.tokens(col("text")))),
      "doc_id", "n_toks", nShards = 8)
  }

  val pipelineE2eSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
       |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
       |  FROM documents
       |), kept AS (
       |  SELECT d.doc_id, d.text, d.lang FROM documents d
       |  JOIN f ON d.doc_id = f.doc_id
       |  WHERE f.n_tokens >= 10 AND f.n_tokens <= 100000
       |    AND f.mean_token_len >= 2.0 AND f.mean_token_len <= 12.0
       |    AND f.punct_ratio <= 0.3 AND f.alpha_ratio >= 0.5
       |), dd AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT k.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM kept k
       |  ) WHERE rn = 1
       |), cnt AS (
       |  SELECT lang, count(*) AS cnt FROM dd GROUP BY lang
       |), thr AS (
       |  SELECT lang,
       |    CAST(floor(pow(CAST((SELECT min(cnt) FROM cnt) AS DOUBLE)
       |                   / CAST(cnt AS DOUBLE), 0.5) * 1000) AS BIGINT) AS thr
       |  FROM cnt
       |), samp AS (
       |  SELECT dd.doc_id, dd.text FROM dd
       |  JOIN thr ON dd.lang = thr.lang
       |  WHERE ${duckHashBucket("dd.doc_id")} < thr.thr
       |), n AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM samp
       |), c AS (
       |  SELECT doc_id, n,
       |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s,
       |    CAST(SUM(n) OVER () AS BIGINT) AS total
       |  FROM n
       |)
       |SELECT doc_id, (s * 8) // total AS shard_id, n AS n_tokens FROM c""".stripMargin

  // ------------------------------------------------------------------
  // Multimodal plumbing (documents.text bytes stand in for payloads)
  // ------------------------------------------------------------------

  /** Cross-modal referential-integrity audit: documents vs embeddings by
    * id, counted per match status — the data-quality gate run before any
    * multimodal training join. Full-outer on ids only (16 bytes/row
    * through the exchange); output is ≤3 rows. */
  val mmAudit: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id").as("id"), lit(1).as("_d"))
    val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), lit(1).as("_e"))
    d.join(e, Seq("id"), "full_outer")
      .select(when(col("_d").isNotNull && col("_e").isNotNull, "matched")
        .when(col("_d").isNotNull, "doc_only")
        .otherwise("embedding_only").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  val mmAuditSql: String =
    """SELECT CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'matched'
      |            WHEN d.doc_id IS NOT NULL THEN 'doc_only'
      |            ELSE 'embedding_only' END AS status,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY 1""".stripMargin

  val mmPayloadStats: Q = (s, dir) =>
    Multimodal.payloadStats(Tables.documents(s, dir), "doc_id", "text")

  val mmPayloadStatsSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS digest_md5
      |FROM documents""".stripMargin

  /** Typed mapPartitions decode path (stub codec) — oracle-checked. The
    * gate output is scalar-only (the driver's pandas sort/compare can't
    * hash an `Array[Float]` column), and the stub codec is fully
    * deterministic byte arithmetic, so the whole pipeline replays in
    * DuckDB: the wrapping 64-bit rolling digest as a HUGEINT mod-2^64
    * fold, the per-bucket byte sums + float L1 normalization verbatim.
    * The oracle models UTF-8 bytes as code points — valid because the
    * testdata corpus is pure ASCII. The array-returning operator itself
    * stays covered by `MultimodalSpec`. */
  val mmFeatures: Q = (s, dir) => {
    val items = Multimodal.itemsFromBinary(Tables.documents(s, dir), "doc_id", "text", "image")
    Multimodal.extractFeatures(s, items).toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"), col("digest"),
        size(col("features")).as("feat_dim"),
        round(aggregate(col("features").cast("array<double>"),
          lit(0.0), (acc, v) => acc + v), 6).as("feat_sum"))
  }

  val mmFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id, 'image' AS modality,
      |         list_transform(string_split(text, ''),
      |                        c -> CAST(ascii(c) AS BIGINT)) AS bytes
      |  FROM documents
      |), f AS (
      |  SELECT media_id, modality, CAST(len(bytes) AS BIGINT) AS n_bytes,
      |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), bytes),
      |      (h, c) -> (h * 31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h_u,
      |    list_transform(range(16), k ->
      |      list_sum(list_transform(range(len(bytes)), i ->
      |        CASE WHEN i % 16 = k THEN bytes[CAST(i+1 AS INT)] ELSE 0 END))) AS acc
      |  FROM b
      |)
      |SELECT media_id, modality, n_bytes,
      |  CAST(CASE WHEN h_u >= CAST('9223372036854775808' AS HUGEINT)
      |            THEN h_u - CAST('18446744073709551616' AS HUGEINT)
      |            ELSE h_u END AS BIGINT) AS digest,
      |  CAST(16 AS INT) AS feat_dim,
      |  round(list_sum(list_transform(acc, v ->
      |    CAST(CAST(v AS REAL) /
      |         CAST(greatest(1, coalesce(list_sum(acc), 0)) AS REAL)
      |      AS DOUBLE))), 6) AS feat_sum
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Round-11 s3: containment dedup, BM25 retrieval, leakage-safe split,
  // link-graph rank
  // ------------------------------------------------------------------

  /** Asymmetric doc-inside-doc containment over 3-shingle sets: every
    * ordered pair with ≥ 50% of the contained side's shingles present in
    * the container. tau chosen against the planted near-dup families. */
  val dedupContainment: Q = (s, dir) =>
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      k = 3, tau = 0.5)

  private def containmentSqlAt(tau: Double, maxDf: Long): String = {
    val kept =
      if (maxDf > 0L)
        s"""), kept AS (
           |  SELECT * FROM posts
           |  WHERE sh NOT IN (SELECT sh FROM posts GROUP BY sh HAVING count(*) > $maxDf)""".stripMargin
      else "), kept AS (\n  SELECT * FROM posts"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), shs AS (
       |  SELECT doc_id,
       |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                        FOR i IN generate_series(1, len(t) - 2)]) AS s
       |  FROM toks WHERE len(t) >= 3
       |), base AS (
       |  SELECT doc_id, s, CAST(len(s) AS BIGINT) AS n_sh FROM shs WHERE len(s) >= 1
       |), posts AS (
       |  SELECT doc_id, n_sh, unnest(s) AS sh FROM base
       |$kept
       |)
       |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       |       round(CAST(count(*) AS DOUBLE) / a.n_sh, 6) AS containment
       |FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |GROUP BY 1, 2, a.n_sh
       |HAVING CAST(count(*) AS DOUBLE) >= $tau * CAST(a.n_sh AS DOUBLE)""".stripMargin
  }

  val dedupContainmentSql: String = containmentSqlAt(0.5, 0L)

  /** The hot-shingle (stop-shingle) cap regime: postings of shingles seen
    * in more than maxDf docs drop before the pair join; tau lowered so the
    * capped lower bound still certifies the planted pairs. The cap BINDS
    * at this corpus (p99 shingle df = 4 > cap 3), so the gate certifies
    * the pruned arithmetic, not a no-op flag. */
  val dedupContainmentCapped: Q = (s, dir) =>
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      k = 3, tau = 0.4, minShingles = 1, maxDf = 3L)

  val dedupContainmentCappedSql: String = containmentSqlAt(0.4, 3L)

  /** BM25 retrieval: top-10 documents for a fixed 3-term query (one rare
    * planted marker + two mid-frequency vocabulary terms). */
  val bm25SearchQ: Q = (s, dir) =>
    Relevance.bm25Search(Tables.documents(s, dir), "doc_id", "text",
      "dup vector key", k = 10)

  val bm25SearchSql: String =
    """WITH dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tfq AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms
      |  WHERE term IN ('dup', 'vector', 'key') GROUP BY doc_id, term
      |), dfq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY term
      |), scored AS (
      |  SELECT tfq.doc_id,
      |    round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |                   / (CAST(df AS DOUBLE) + 0.5))
      |          * (CAST(tf AS DOUBLE) * 2.2)
      |          / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
      |          6) AS ts
      |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |), agg AS (
      |  SELECT doc_id, round(SUM(ts), 6) AS score FROM scored GROUP BY doc_id
      |)
      |SELECT doc_id, score, CAST(rn AS INT) AS rn FROM (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM agg
      |) WHERE rn <= 10""".stripMargin

  /** Hybrid BM25 + embedding-cosine retrieval fused by reciprocal rank
    * (r14): the bm25_search ranked list (top-20) and the exact cosine
    * top-20 of embedding vec_id=100 fuse via rrf = Σ 1/(60 + rank).
    * The oracle replays BOTH oracle-certified sides and the fusion
    * arithmetic verbatim. */
  val hybridSearchQ: Q = (s, dir) =>
    Relevance.hybridSearch(Tables.documents(s, dir), Tables.embeddings(s, dir),
      "dup vector key", queryVecId = 100L, kLex = 20, kSem = 20, k = 10)

  /** The amortized hybrid form: the lexical side reads the PERSISTED
    * BM25 index (shared with [[bm25SearchIndexedQ]] via the same cache
    * key — one build serves both gates). Certified by the SAME oracle
    * as [[hybridSearchQ]]: bm25SearchIndexed ≡ bm25Search is the
    * already-pinned bit-exact equivalence, so any seam the index path
    * introduced would hash-mismatch here. */
  val hybridSearchIndexedQ: Q = (s, dir) =>
    Relevance.hybridSearchIndexed(s, bm25IdxPath(s, dir),
      Tables.embeddings(s, dir),
      "dup vector key", queryVecId = 100L, kLex = 20, kSem = 20, k = 10)

  /** Fully index-bound hybrid retrieval (r15, VERDICT r14 #1): the
    * lexical side reads the persisted BM25 index (same cache key as
    * [[bm25SearchIndexedQ]] — one build serves three gates) and the
    * semantic side probes a PERSISTED deterministic IVF-PQ index
    * ([[Relevance.hybridSearchAnn]] →
    * [[Similarity.searchPqIndexPointQuery]]): coarse probe over 4 of 16
    * lists, ADC over the compressed codes, shortlist of 80, exact
    * re-rank reading ONLY the shortlist + query rows through pushed
    * point filters — no full embeddings scan exists anywhere in the
    * query (plan-pinned in RelevanceSpec). trainIters = pqIters = 0 is
    * the [[simIvfPqDet]] determinism device: DuckDB replays the entire
    * compressed-index search and the fusion bit for bit. */
  val hybridSearchAnnQ: Q = (s, dir) => {
    val (model, pqPath) = detPqIndex(s, dir)
    Relevance.hybridSearchAnn(s, bm25IdxPath(s, dir), model,
      s.read.parquet(pqPath),
      Tables.embeddings(s, dir), "dup vector key", queryVecId = 100L,
      kLex = 20, kSem = 20, k = 10, nProbe = 4, rerankFactor = 4)
  }

  /** Batched lexical retrieval (r16): three queries through
    * [[Relevance.bm25SearchIndexedBatch]] — ONE term-pruned read of the
    * shared persisted index for the whole batch. Certified by the
    * single-query oracle replayed per query and unioned BY TRANSFORM
    * ([[bm25SearchBatchSql]]), so the batch form must reproduce three
    * independent [[bm25SearchIndexedQ]]-shaped answers bit for bit. */
  val bm25SearchBatchQ: Q = (s, dir) => {
    import s.implicits._
    Relevance.bm25SearchIndexedBatch(s, bm25IdxPath(s, dir),
      bm25BatchQueries.toDF("query_id", "query"), k = 10)
  }

  /** Fixed retrieval batch: the certified 3-term query plus two more
    * over mid-frequency corpus vocabulary (TESTDATA's documents table
    * is OLAP word soup — `merge join hash` / `slow scan filter` all sit
    * in the df ~900 band at sf0.01). */
  private val bm25BatchQueries: Seq[(Long, String)] = Seq(
    (1L, "dup vector key"),
    (2L, "merge join hash"),
    (3L, "slow scan filter"))

  /** [[bm25SearchSql]] per batch query — the IN list swapped (anchored),
    * the result tagged with its query id — UNION ALL'd. No new
    * arithmetic exists for the transform to drift. LAZY: the source
    * oracles are declared later in this object and a strict val here
    * would read them as null at class init (the r16 GoldenSpec abort). */
  lazy val bm25SearchBatchSql: String = bm25BatchQueries.map { case (qid, qtext) =>
    val inList = qtext.split(" ").filter(_.nonEmpty).distinct
      .map(t => s"'$t'").mkString("(", ", ", ")")
    val per = bm25SearchSql.replace("('dup', 'vector', 'key')", inList)
    require(per != bm25SearchSql || inList == "('dup', 'vector', 'key')",
      s"bm25 batch oracle anchor drifted — IN list not found for '$qtext'")
    s"SELECT CAST($qid AS BIGINT) AS query_id, * FROM (\n$per\n)"
  }.mkString("\nUNION ALL\n")

  /** Batched index-bound hybrid retrieval (r16): two (text, vector)
    * hybrid queries through [[Relevance.hybridSearchAnnPoints]] — the
    * whole retrieval stack at curation width: one term-pruned BM25 read
    * + distributed ADC shortlists + range-pruned broadcast re-rank +
    * per-query fusion. Oracle: [[hybridSearchAnnSqlFor]] instantiated
    * per query and unioned — the same transform the certified
    * single-query gate uses, parameterized. */
  val hybridSearchAnnBatchQ: Q = (s, dir) => {
    val (model, pqPath) = detPqIndex(s, dir)
    import s.implicits._
    Relevance.hybridSearchAnnPoints(s, bm25IdxPath(s, dir), model,
      s.read.parquet(pqPath), Tables.embeddings(s, dir),
      hybridBatchQueries.toDF("query_id", "query", "qvec"),
      kLex = 20, kSem = 20, k = 10, nProbe = 4, rerankFactor = 4)
  }

  /** Both vec ids exist at every sf (embeddings holds ≥ 500 rows). */
  private val hybridBatchQueries: Seq[(Long, String, Long)] = Seq(
    (1L, "dup vector key", 100L),
    (2L, "merge join hash", 300L))

  /** LAZY for the same declaration-order reason as
    * [[bm25SearchBatchSql]]. */
  lazy val hybridSearchAnnBatchSql: String =
    hybridBatchQueries.map { case (qid, qtext, vid) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, * FROM (\n" +
        hybridSearchAnnSqlFor(qtext, vid) + "\n)"
    }.mkString("\nUNION ALL\n")

  /** Batched index-bound ANN point query (r16, VERDICT r15 #1):
    * [[Similarity.searchPqIndexPoints]] over the whole `vec_id % 100`
    * query set — per-query ADC shortlists produced DISTRIBUTED, the
    * exact re-rank a range-pruned broadcast join instead of the
    * single-query form's collect+isin, no driver round-trip per query.
    * Shares the persisted det index with [[hybridSearchAnnQ]] (one
    * build serves both gates) and is certified by the VERBATIM
    * [[simIvfPqDetSql]] oracle: the batch form must reproduce
    * [[simIvfPqDet]]'s answer bit for bit. */
  val simIvfPqPointsDetQ: Q = (s, dir) => {
    val (model, pqPath) = detPqIndex(s, dir)
    val emb = Tables.embeddings(s, dir)
    Similarity.searchPqIndexPoints(model, s.read.parquet(pqPath), emb,
      "vec_id", "embedding",
      emb.filter(col("vec_id") % 100 === 0).select(col("vec_id")),
      k = 5, nProbe = 4, rerankFactor = 4)
  }

  /** The deterministic (trainIters = pqIters = 0) IVF-PQ model + index,
    * built once per (application, sfDir) and PERSISTED — shared by every
    * gate that exercises the index-bound serving path. */
  private def detPqIndex(s: org.apache.spark.sql.SparkSession,
                         dir: String): (Similarity.PqModel, String) =
    pqDetIndexCache.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir, _ => {
        val (mdl, idx) = Similarity.buildPqIndex(Tables.embeddings(s, dir),
          "vec_id", "embedding", nCentroids = 16, m = 8, kSub = 16,
          trainIters = 0, pqIters = 0)
        val p = java.nio.file.Files
          .createTempDirectory("graft_pq_det_idx").toString
        idx.write.mode("overwrite").parquet(p)
        (mdl, p)
      })

  private val pqDetIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Similarity.PqModel, String)]()

  val hybridSearchSql: String =
    """WITH dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tfq AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms
      |  WHERE term IN ('dup', 'vector', 'key') GROUP BY doc_id, term
      |), dfq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY term
      |), scored AS (
      |  SELECT tfq.doc_id,
      |    round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |                   / (CAST(df AS DOUBLE) + 0.5))
      |          * (CAST(tf AS DOUBLE) * 2.2)
      |          / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
      |          6) AS ts
      |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |), agg AS (
      |  SELECT doc_id, round(SUM(ts), 6) AS score FROM scored GROUP BY doc_id
      |), lex AS (
      |  SELECT doc_id, CAST(rn AS INT) AS rn_lex FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM agg
      |  ) WHERE rn <= 20
      |), base AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q AS (SELECT * FROM base WHERE id = 100),
      |semscored AS (
      |  SELECT c.id AS doc_id,
      |         round(list_dot_product(q.v, c.v) /
      |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
      |  FROM base c CROSS JOIN q
      |  WHERE q.id <> c.id
      |), sem AS (
      |  SELECT doc_id, CAST(rn AS INT) AS rn_sem FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rn FROM semscored
      |  ) WHERE rn <= 20
      |), fused AS (
      |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rn_lex, rn_sem,
      |         round(COALESCE(1.0 / (60 + rn_lex), 0.0)
      |               + COALESCE(1.0 / (60 + rn_sem), 0.0), 6) AS rrf
      |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
      |)
      |SELECT doc_id, rn_lex, rn_sem, rrf, CAST(rn AS INT) AS rn FROM (
      |  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused
      |) WHERE rn <= 10""".stripMargin

  /** The DuckDB replay of [[hybridSearchAnnQ]], built by TRANSFORM so
    * no arithmetic can drift between gates: the lexical CTEs and the
    * fusion tail come verbatim from [[hybridSearchSql]]; the semantic
    * block is swapped for [[simIvfPqDetSql]]'s full det-PQ chain
    * (coarse assign, encode, ADC, shortlist, exact re-rank) pointed at
    * the single query id 100 with the gate's shortlist width
    * (kSem 20 × rerankFactor 4 = 80) and sem-list depth 20. */
  val hybridSearchAnnSql: String = hybridSearchAnnSqlFor("dup vector key", 100L)

  /** The ANN-hybrid oracle transform, parameterized by (query text,
    * query vec id) so the batch gate can instantiate it per query —
    * the single-query gate uses the default instance verbatim. */
  private def hybridSearchAnnSqlFor(qtext: String, vecId: Long): String = {
    val semStart = hybridSearchSql.indexOf("), base AS (")
    val fusedStart = hybridSearchSql.indexOf("), fused AS (")
    require(semStart > 0 && fusedStart > semStart,
      "hybrid oracle shape changed — ANN transform anchors missing")
    // each anchor asserted INDIVIDUALLY (ADVICE r15): a single combined
    // `!=` check passes if ANY anchor fired, so one drifted anchor would
    // silently build a wrong oracle that only surfaces as an unexplained
    // gate mismatch rounds later
    def swap(sql: String, from: String, to: String): String = {
      val out = sql.replace(from, to)
      require(out != sql || from == to,
        s"det-PQ oracle anchor drifted — '$from' not found; " +
          "realign hybridSearchAnnSqlFor's transform with simIvfPqDetSql")
      out
    }
    val inList = qtext.split(" ").filter(_.nonEmpty).distinct
      .map(t => s"'$t'").mkString("(", ", ", ")")
    val pq = swap(swap(swap(simIvfPqDetSql,
      "WHERE id % 100 = 0 AND rk <= 4", s"WHERE id = $vecId AND rk <= 4"),
      "WHERE nn.id % 100 = 0", s"WHERE nn.id = $vecId"),
      "WHERE arn <= 20", "WHERE arn <= 80")
    val cut = pq.lastIndexOf("\nSELECT query_id")
    require(cut > 0 && pq.startsWith("WITH "),
      "det-PQ oracle shape changed — ANN transform anchors missing")
    swap(hybridSearchSql.substring(0, semStart + 1),
      "('dup', 'vector', 'key')", inList) + ", " +
      pq.substring(5, cut).trim + ", sem AS (\n" +
      """|  SELECT neighbor_id AS doc_id, CAST(rn AS INT) AS rn_sem FROM (
         |    SELECT neighbor_id, row_number() OVER (PARTITION BY query_id
         |                        ORDER BY cos DESC, neighbor_id ASC) AS rn
         |    FROM rer
         |  ) WHERE rn <= 20
         |""".stripMargin +
      hybridSearchSql.substring(fusedStart)
  }

  /** All-pairs TF-IDF cosine similarity (r12): the weighted APSS member
    * of the pair family — `maxDf = 50` binds HARD on this corpus
    * (median member-level df is ~78% of the corpus: boilerplate
    * vocabulary carries no similarity evidence and dominates Σ df²),
    * so the gate certifies the capped lower-bound arithmetic on the
    * planted near-dup pairs, the regime the operator runs at scale.
    * Every float reduction is an in-order term-sorted fold, replayed
    * exactly by the oracle's list_reduce chain. */
  val textCosinePairsQ: Q = (s, dir) =>
    Relevance.cosinePairs(Tables.documents(s, dir), "doc_id", "text",
      tau = 0.3, maxDf = 50L)

  val textCosinePairsSql: String =
    """WITH m AS (
      |  SELECT doc_id AS id, string_split(text, ' ') AS tk FROM documents
      |), g AS (
      |  SELECT list_sort(tk) AS key, min(id) AS rid, count(*) AS grp
      |  FROM m GROUP BY list_sort(tk)
      |), mem AS (
      |  SELECT m.id, g.rid FROM m JOIN g ON list_sort(m.tk) = g.key
      |), reps AS (
      |  SELECT g.rid, m.tk, g.grp FROM g JOIN m ON m.id = g.rid
      |), n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM m
      |), tf AS (
      |  SELECT rid, grp, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT rid, grp, unnest(tk) AS term FROM reps)
      |  GROUP BY rid, grp, term
      |), dfq AS (
      |  SELECT term, CAST(sum(grp) AS BIGINT) AS df FROM tf GROUP BY term
      |), wtd AS (
      |  SELECT tf.rid, tf.grp, tf.term, dfq.df,
      |         CAST(tf.tf AS DOUBLE)
      |           * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS wt
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n
      |), nrm AS (
      |  SELECT rid, sqrt(n2) AS nrm FROM (
      |    SELECT rid,
      |           list_reduce(list(wt * wt ORDER BY term), (x, y) -> x + y) AS n2
      |    FROM wtd GROUP BY rid
      |  ) WHERE n2 > 0
      |), posts AS (
      |  SELECT w.rid, w.grp, w.term, w.wt / nrm.nrm AS wn
      |  FROM wtd w JOIN nrm USING (rid)
      |  WHERE w.df <= 50
      |), pair AS (
      |  SELECT ra, rb, cos_r FROM (
      |    SELECT a.rid AS ra, b.rid AS rb,
      |           round(list_reduce(list(a.wn * b.wn ORDER BY a.term),
      |                 (x, y) -> x + y), 6) AS cos_r
      |    FROM posts a JOIN posts b ON a.term = b.term AND a.rid < b.rid
      |    GROUP BY a.rid, b.rid
      |  ) WHERE cos_r >= 0.3
      |), crossp AS (
      |  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b,
      |         p.cos_r
      |  FROM pair p
      |  JOIN mem ma ON ma.rid = p.ra
      |  JOIN mem mb ON mb.rid = p.rb
      |), intra AS (
      |  SELECT rid, cos_r FROM (
      |    SELECT rid,
      |           round(list_reduce(list(wn * wn ORDER BY term),
      |                 (x, y) -> x + y), 6) AS cos_r
      |    FROM posts WHERE grp >= 2 GROUP BY rid
      |  ) WHERE cos_r >= 0.3
      |), intrap AS (
      |  SELECT ma.id AS id_a, mb.id AS id_b, i.cos_r
      |  FROM intra i
      |  JOIN mem ma ON ma.rid = i.rid
      |  JOIN mem mb ON mb.rid = i.rid
      |  WHERE ma.id < mb.id
      |)
      |SELECT * FROM crossp UNION ALL SELECT * FROM intrap""".stripMargin

  /** Incremental APSS screen (r12): ingest slice scored against the
    * corpus slice's frozen-idf keeper store — same split convention as
    * the minhash/simhash ingest gates. The oracle replays the frozen
    * model end to end (build-time n0/df, unseen terms at df = 1, the
    * cap on both sides, in-order folds). */
  val textCosineIncQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val incoming = docs.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Relevance.cosinePairsIncremental(incoming,
      Relevance.cosineStore(corpus, "doc_id", "text"),
      "doc_id", "text", tau = 0.3, maxDf = 20L)
  }

  val textCosineIncSql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS id, string_split(text, ' ') AS tk
      |  FROM documents WHERE doc_id % 4 = 0
      |), inc AS (
      |  SELECT doc_id + 10000000 AS id, string_split(text, ' ') AS tk
      |  FROM documents WHERE doc_id % 4 = 2
      |), g AS (
      |  SELECT list_sort(tk) AS key, min(id) AS rid, count(*) AS grp
      |  FROM corpus GROUP BY list_sort(tk)
      |), reps AS (
      |  SELECT g.rid, c.tk, g.grp FROM g JOIN corpus c ON c.id = g.rid
      |), n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n0 FROM corpus
      |), stf AS (
      |  SELECT rid, grp, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT rid, grp, unnest(tk) AS term FROM reps)
      |  GROUP BY rid, grp, term
      |), sdf AS (
      |  SELECT term, CAST(sum(grp) AS BIGINT) AS df FROM stf GROUP BY term
      |), swt AS (
      |  SELECT rid, term, df,
      |         CAST(tf AS DOUBLE) * ln(CAST(n0 AS DOUBLE) / CAST(df AS DOUBLE)) AS wt
      |  FROM stf JOIN sdf USING (term) CROSS JOIN n
      |), snrm AS (
      |  SELECT rid, sqrt(n2) AS nrm FROM (
      |    SELECT rid, list_reduce(list(wt * wt ORDER BY term), (x, y) -> x + y) AS n2
      |    FROM swt GROUP BY rid
      |  ) WHERE n2 > 0
      |), sposts AS (
      |  SELECT w.rid AS id, w.term, w.wt / s.nrm AS wn
      |  FROM swt w JOIN snrm s USING (rid) WHERE w.df <= 20
      |), itf AS (
      |  SELECT id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT id, unnest(tk) AS term FROM inc) GROUP BY id, term
      |), iw AS (
      |  SELECT itf.id, itf.term, coalesce(sdf.df, 1) AS df0,
      |         CAST(tf AS DOUBLE)
      |           * ln(CAST(n0 AS DOUBLE) / CAST(coalesce(sdf.df, 1) AS DOUBLE)) AS wt
      |  FROM itf LEFT JOIN sdf USING (term) CROSS JOIN n
      |), inrm AS (
      |  SELECT id, sqrt(n2) AS nrm FROM (
      |    SELECT id, list_reduce(list(wt * wt ORDER BY term), (x, y) -> x + y) AS n2
      |    FROM iw GROUP BY id
      |  ) WHERE n2 > 0
      |), iposts AS (
      |  SELECT w.id, w.term, w.wt / i.nrm AS wn
      |  FROM iw w JOIN inrm i USING (id) WHERE w.df0 <= 20
      |), crossp AS (
      |  SELECT ia, ib, cos_r FROM (
      |    SELECT a.id AS ia, b.id AS ib,
      |           round(list_reduce(list(a.wn * b.wn ORDER BY a.term),
      |                 (x, y) -> x + y), 6) AS cos_r
      |    FROM iposts a JOIN sposts b ON a.term = b.term
      |    GROUP BY a.id, b.id
      |  ) WHERE cos_r >= 0.3
      |), intra AS (
      |  SELECT ia, ib, cos_r FROM (
      |    SELECT a.id AS ia, b.id AS ib,
      |           round(list_reduce(list(a.wn * b.wn ORDER BY a.term),
      |                 (x, y) -> x + y), 6) AS cos_r
      |    FROM iposts a JOIN iposts b ON a.term = b.term AND a.id < b.id
      |    GROUP BY a.id, b.id
      |  ) WHERE cos_r >= 0.3
      |)
      |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, cos_r
      |FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra)""".stripMargin

  /** UNCAPPED incremental APSS screen (r14): the prefix-filtered path —
    * `maxDf = 0` engages the persisted-bound store split + Bayardo
    * completion join, and THIS oracle certifies its bit-exactness
    * through DuckDB (the capped gate above never exercises the prefix
    * machinery, per the lever policy). The oracle replays the PLAIN
    * unfiltered joins — passing means the pruned screen's floats are
    * bit-identical to the naive form's, the same one-sided-bound
    * argument the r13 batch gate pinned. */
  val textCosineIncUncappedQ: Q = (s, dir) => {
    // 1/16 slices of a FIXED id range, not the capped gate's 1/4
    // fraction: the testdata corpus is DENSE-vocabulary, where uncapped
    // candidate mass is all-pairs-scale by construction (the r13 finding
    // the cap exists for) — the gate certifies the prefix path's
    // BIT-EXACTNESS, which neither slice size nor corpus factor changes.
    // At 1/4 slices it alone cost 38 s of a 164-gate sf0.1 registry; as
    // a pure fraction it cost 402 s at sf1 (the plain-replica corpus
    // hands every doc ~10 verbatim twins — ~7M ≥ tau pairs, all real
    // output). `doc_id < 1250` pins the gate to a quarter of the sf0.01 id
    // range (the soak_minhash_inc fixed-slice precedent): identical
    // gate at sf0.01/sf0.1, constant cost at any factor. r15 cut the
    // r14 slice 4× (5000 → 1250, VERDICT r14 #3): bit-exactness of the
    // prefix path is slice-size-independent; at 5000 the gate alone
    // cost 52 s of the sf0.1 driver registry, and at 2500 it still
    // measured ~12 s — the cost is store-build-dominated, so the slice
    // must shrink past the quadratic regime to move. The family's
    // corpus-scaling story lives in IngestBench cosine modes and the
    // APSS soak ladder, on corpus shapes that are actually long-tail.
    // narrow-width scope (r16, VERDICT r15 #2): the fixed-1250-doc slice
    // makes this gate STAGE-BOUND — ~38 stages over 2.7 MB of shuffle,
    // and on this box a stage costs ~0.15-0.25 s of pure fixed latency
    // (measured: spark.range(100).count() alone is 0.12-0.24 s), so the
    // recorded ~12 s was per-stage tax, not data. Three levers, all
    // scoped to a cloned session so nothing leaks:
    //  - the STORE is built + persisted once per (application, sfDir)
    //    (the bm25SearchIndexedQ precedent, and cosineStore's own
    //    documented contract: "persist as parquet and screen every
    //    ingest against it") — the screen re-references the store 4×,
    //    and persisted references are cheap scans with known stats
    //    instead of recomputed DAGs;
    //  - shuffle width 4 + AQE off: a fixed certification slice needs
    //    neither 32-way exchanges nor per-stage replanning;
    //  - 64 MB broadcast threshold: with persisted-store stats every
    //    small join broadcasts, cutting 38 stages to 24.
    // Measured 2.0-3.3 s quiet (was 10.5 s at width 4 alone). The
    // oracle hash CANNOT change — the screen is partitioning-invariant
    // by the bit-reproducibility contract (term-sorted in-order folds),
    // doubles round-trip parquet bit-exactly, and the gate stays
    // certified by the same end-to-end DuckDB replay. The OPERATOR
    // keeps full width everywhere real data flows (IngestBench, the
    // APSS soak ladder, the capped/batch gates — the capped gate's
    // inline store build keeps the build cost visible).
    val ns = narrowSession(s, width = 4)
    val key = ns.sparkContext.applicationId + "|" + dir
    val storePath = cosStorePaths.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_cos_store").toString
      val corpus = Tables.documents(ns, dir)
        .filter(col("doc_id") < 1250L && col("doc_id") % 16 === 0)
      Relevance.cosineStore(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(p)
      p
    })
    val incoming = Tables.documents(ns, dir)
      .filter(col("doc_id") < 1250L && col("doc_id") % 16 === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    Relevance.cosinePairsIncremental(incoming, ns.read.parquet(storePath),
      "doc_id", "text", tau = 0.6)
  }

  private val cosStorePaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A cloned session (shared SparkContext, OWN SQL conf) pinned to a
    * narrow shuffle width with AQE off and a wide broadcast threshold —
    * the scope device for fixed-slice certification gates whose cost is
    * per-stage scheduling overhead, not data (r16, VERDICT r15 #2). The
    * clone's conf never leaks into the caller's session, and a
    * DataFrame built on it keeps the narrow plan at whatever later
    * point the driver executes it. Cached per (context, width):
    * `newSession()` per gate CALL would leak a SessionState per bench
    * pass. Apply to any future sf-invariant fixed-slice gate rather
    * than letting it pay 32-way stage tax. */
  private def narrowSession(s: org.apache.spark.sql.SparkSession,
                            width: Int): org.apache.spark.sql.SparkSession =
    narrowSessions.computeIfAbsent(
      s.sparkContext.applicationId + "|" + width, _ => {
        val ns = s.newSession()
        ns.conf.set("spark.sql.shuffle.partitions", width)
        ns.conf.set("spark.sql.adaptive.enabled", "false")
        ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        ns
      })

  private val narrowSessions =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.SparkSession]()

  /** The capped oracle with the two df caps removed — kept as a string
    * transform so the frozen-model arithmetic can never drift between
    * the two gates. */
  val textCosineIncUncappedSql: String = {
    val out = textCosineIncSql
      .replace(" WHERE w.df <= 20", "")
      .replace(" WHERE w.df0 <= 20", "")
      .replace(">= 0.3", ">= 0.6")
      .replace("doc_id % 4 = 0", "doc_id % 16 = 0 AND doc_id < 1250")
      .replace("doc_id % 4 = 2", "doc_id % 16 = 2 AND doc_id < 1250")
    require(out != textCosineIncSql, "cap filters not found in the capped oracle")
    out
  }

  /** The indexed BM25 read path (r12): [[Relevance.bm25Index]] persisted
    * ONCE per (application, sfDir) — term-clustered postings parquet +
    * doc-frame `_stats` — then queried via
    * [[Relevance.bm25SearchIndexed]], whose scan is O(postings of the
    * query terms), not the corpus. Identical output contract to
    * [[bm25SearchQ]], certified by the same exact oracle; the bench gap
    * between the two gates is the recorded speedup of the production
    * read path over the full scan. */
  val bm25SearchIndexedQ: Q = (s, dir) =>
    Relevance.bm25SearchIndexed(s, bm25IdxPath(s, dir),
      "dup vector key", k = 10)

  /** The shared persisted BM25 index, built once per (application,
    * sfDir) — one build serves every indexed-read gate. */
  private def bm25IdxPath(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    bm25IndexPaths.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir, _ => {
        val p = java.nio.file.Files
          .createTempDirectory("graft_bm25_idx").toString
        Relevance.bm25Index(Tables.documents(s, dir), "doc_id", "text", p)
        p
      })

  private val bm25IndexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Exact index growth (r13): the index is built over HALF the corpus
    * and the other half APPENDED ([[Relevance.bm25IndexAppend]] — BM25's
    * index is a sufficient statistic, so the appended index is
    * bit-identical to a fresh build), then queried. Certified by the
    * SAME full-corpus oracle as [[bm25SearchQ]]: passing means the
    * append left no seam. */
  val bm25SearchAppendedQ: Q = (s, dir) => {
    val key = s.sparkContext.applicationId + "|appended|" + dir
    val path = bm25IndexPaths.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_bm25_app").toString
      val docs = Tables.documents(s, dir)
      Relevance.bm25Index(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", p)
      Relevance.bm25IndexAppend(s, p,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "half2")
      p
    })
    Relevance.bm25SearchIndexed(s, path, "dup vector key", k = 10)
  }

  /** Compacted index growth (r14): thirds of the corpus land as base +
    * two appends (three committed batch directories), then
    * [[Relevance.bm25Compact]] folds them into one — and the SAME
    * full-corpus oracle as [[bm25SearchQ]] certifies the result, so
    * passing means compaction moved bytes without moving ONE bit of the
    * answer (the postings row set is the invariant; df and scores
    * derive from it at query time). */
  val bm25SearchCompactedQ: Q = (s, dir) => {
    val key = s.sparkContext.applicationId + "|compacted|" + dir
    val path = bm25IndexPaths.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_bm25_cmp").toString
      val docs = Tables.documents(s, dir)
      Relevance.bm25Index(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", p)
      Relevance.bm25IndexAppend(s, p,
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", "third2")
      Relevance.bm25IndexAppend(s, p,
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", "third3")
      require(Relevance.bm25Compact(s, p), "three dirs must compact")
      require(Relevance.bm25IndexDirs(s, p).length == 1,
        "compaction must leave one directory")
      p
    })
    Relevance.bm25SearchIndexed(s, path, "dup vector key", k = 10)
  }

  /** Leakage-safe split over the Jaccard near-dup graph: every doc gets
    * train/val/test from its connected component's id, so no near-dup
    * chain crosses the eval wall. */
  val splitGroups: Q = (s, dir) =>
    Sampling.leakageSafeSplit(Tables.documents(s, dir), "doc_id",
      dedupJaccard(s, dir), trainPct = 0.8, valPct = 0.1)

  val splitGroupsSql: String = {
    val closure = dedupClustersSql.substring(
      0, dedupClustersSql.indexOf("SELECT s AS doc_id"))
    closure +
      s"""SELECT d.doc_id,
         |       COALESCE(c.cluster_id, d.doc_id) AS group_id,
         |       CASE WHEN ${duckHashBucketMod("COALESCE(c.cluster_id, d.doc_id)", 1000)} < 800 THEN 'train'
         |            WHEN ${duckHashBucketMod("COALESCE(c.cluster_id, d.doc_id)", 1000)} < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents d
         |LEFT JOIN (
         |  SELECT s AS doc_id, least(s, min(t)) AS cluster_id FROM reach GROUP BY s
         |) c ON d.doc_id = c.doc_id""".stripMargin
  }

  /** Integer fixed-point PageRank over the symmetrized customer↔supplier
    * trade graph (orders ⋈ lineitem, distinct partner pairs), 10
    * iterations — bit-exact in ANY execution order, so the oracle needs
    * no rounding epsilon. */
  val graphRank: Q = (s, dir) => {
    val cs = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .distinct()
    val sym = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
    GraphRank.pageRank(sym, "src", "dst", iters = 10)
  }

  val graphRankSql: String = {
    val head =
      """WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS t
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |), es AS (
        |  SELECT s, t FROM e UNION SELECT t, s FROM e
        |), deg AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS d FROM es GROUP BY s
        |), nodes AS (
        |  SELECT s AS n FROM es UNION SELECT t FROM es
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes
        |), r0 AS (
        |  SELECT n, 1000000000000 // cnt AS r FROM nodes CROSS JOIN nn
        |)""".stripMargin
    val iters = (1 to 10).map { i =>
      s""", r$i AS (
         |  SELECT nodes.n,
         |         CAST(((15 * 1000000000000) // 100) // nn.cnt
         |           + (85 * COALESCE(c.si, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT es.t AS n, CAST(SUM(p.r // deg.d) AS BIGINT) AS si
         |    FROM r${i - 1} p JOIN deg ON p.n = deg.s JOIN es ON es.s = p.n
         |    GROUP BY es.t
         |  ) c ON nodes.n = c.n
         |)""".stripMargin
    }.mkString("")
    head + iters + "\nSELECT n AS node, r AS rank_int FROM r10"
  }

  /** Robust median/MAD outlier screen over document size features
    * (n_chars + whitespace token count) — data-derived quality
    * calibration the fixed-threshold rule filter cannot give. Exact
    * medians; the gate is epsilon-free through the 6-dp z rounding. */
  val qualityOutliersQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.robustOutliers(d, "doc_id", Seq("n_chars", "n_tok"))
  }

  /** Winsorized features (r12): the outlier screen's complement — clamp
    * each feature into its exact [p05, p95] band before downstream
    * normalization. Exact-percentile cut points ≡ DuckDB quantile_cont
    * (the value_percentiles contract). */
  val qualityWinsorizedQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.winsorize(d, "doc_id", Seq("n_chars", "n_tok"))
  }

  val qualityWinsorizedSql: String =
    """WITH f AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
      |  FROM documents
      |), cuts AS (
      |  SELECT quantile_cont(n_chars, 0.05) AS lo_c,
      |         quantile_cont(n_chars, 0.95) AS hi_c,
      |         quantile_cont(n_tok, 0.05) AS lo_t,
      |         quantile_cont(n_tok, 0.95) AS hi_t FROM f
      |)
      |SELECT doc_id,
      |  CASE WHEN n_chars IS NULL THEN NULL
      |       ELSE round(least(greatest(n_chars, lo_c), hi_c), 6) END AS n_chars_w,
      |  CASE WHEN n_tok IS NULL THEN NULL
      |       ELSE round(least(greatest(n_tok, lo_t), hi_t), 6) END AS n_tok_w
      |FROM f CROSS JOIN cuts""".stripMargin

  /** Equal-frequency binning (r12): decile bins over the doc features —
    * discretization keys for curriculum/stratification. Exact interior
    * cut points; tie-to-lower-bin is pure comparison arithmetic, so the
    * gate is epsilon-free past the quantile_cont-parity cut points. */
  val qualityBinsQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.quantileBins(d, "doc_id", Seq("n_chars", "n_tok"), nBins = 10)
  }

  val qualityBinsSql: String = {
    def cuts(f: String) = (1 until 10)
      .map(i => s"quantile_cont($f, 0.$i) AS c${i}_$f").mkString(",\n      |         ")
    def bin(f: String) = (1 until 10)
      .map(i => s"CAST($f > c${i}_$f AS BIGINT)").mkString(" + ")
    s"""WITH f AS (
       |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
       |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
       |  FROM documents
       |), cuts AS (
       |  SELECT ${cuts("n_chars")},
       |         ${cuts("n_tok")} FROM f
       |)
       |SELECT doc_id,
       |  CASE WHEN n_chars IS NULL THEN NULL ELSE ${bin("n_chars")} END AS n_chars_bin,
       |  CASE WHEN n_tok IS NULL THEN NULL ELSE ${bin("n_tok")} END AS n_tok_bin
       |FROM f CROSS JOIN cuts""".stripMargin
  }

  /** Per-language winsorization (r12): cut points within each lang —
    * the multilingual-corpus form, where a global p95 on length is
    * dominated by the verbose languages. */
  val qualityWinsorizedByLangQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.winsorizeBy(d, "doc_id", "lang", Seq("n_chars", "n_tok"))
  }

  val qualityWinsorizedByLangSql: String =
    """WITH f AS (
      |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS n_chars,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
      |  FROM documents
      |), cuts AS (
      |  SELECT lang,
      |         quantile_cont(n_chars, 0.05) AS lo_c,
      |         quantile_cont(n_chars, 0.95) AS hi_c,
      |         quantile_cont(n_tok, 0.05) AS lo_t,
      |         quantile_cont(n_tok, 0.95) AS hi_t
      |  FROM f WHERE lang IS NOT NULL GROUP BY lang
      |)
      |SELECT f.doc_id, f.lang,
      |  CASE WHEN f.n_chars IS NULL OR f.lang IS NULL THEN NULL
      |       ELSE round(least(greatest(f.n_chars, c.lo_c), c.hi_c), 6) END AS n_chars_w,
      |  CASE WHEN f.n_tok IS NULL OR f.lang IS NULL THEN NULL
      |       ELSE round(least(greatest(f.n_tok, c.lo_t), c.hi_t), 6) END AS n_tok_w
      |FROM f LEFT JOIN cuts c ON f.lang = c.lang""".stripMargin

  /** Pearson correlation matrix (r12) from exact integer moment sums —
    * order-insensitive longs under distributed partial aggregation, the
    * float formula applied once per pair to the finished sums, so the
    * value is bit-reproducible and the gate exact. */
  val featureCorrQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long")
          .as("n_spaces"))
    RobustStats.corrMatrix(d, Seq("n_chars", "n_tok", "n_spaces"))
  }

  val featureCorrSql: String =
    """WITH f AS (
      |  SELECT CAST(n_chars AS BIGINT) AS a,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS b,
      |         CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS c
      |  FROM documents
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
      |         CAST(sum(c) AS BIGINT) AS sc,
      |         CAST(sum(a*a) AS BIGINT) AS qa, CAST(sum(b*b) AS BIGINT) AS qb,
      |         CAST(sum(c*c) AS BIGINT) AS qc,
      |         CAST(sum(a*b) AS BIGINT) AS pab,
      |         CAST(sum(a*c) AS BIGINT) AS pac,
      |         CAST(sum(b*c) AS BIGINT) AS pbc
      |  FROM f
      |), pairs AS (
      |  SELECT 'n_chars' AS feature_a, 'n_tok' AS feature_b,
      |         CAST(n AS DOUBLE) * pab - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE) * qa - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS va,
      |         CAST(n AS DOUBLE) * qb - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS vb
      |  FROM m
      |  UNION ALL
      |  SELECT 'n_chars', 'n_spaces',
      |         CAST(n AS DOUBLE) * pac - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE),
      |         CAST(n AS DOUBLE) * qa - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE),
      |         CAST(n AS DOUBLE) * qc - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
      |  FROM m
      |  UNION ALL
      |  SELECT 'n_tok', 'n_spaces',
      |         CAST(n AS DOUBLE) * pbc - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE),
      |         CAST(n AS DOUBLE) * qb - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE),
      |         CAST(n AS DOUBLE) * qc - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
      |  FROM m
      |)
      |SELECT feature_a, feature_b,
      |  CASE WHEN va > 0 AND vb > 0
      |       THEN round(num / (sqrt(va) * sqrt(vb)), 6) END AS corr_r
      |FROM pairs""".stripMargin

  /** Sketch-cut-point twin — the bounded-memory 100 TB path;
    * approximate ⇒ rows-only, verdict agreement spec-pinned. */
  val qualityWinsorizedApproxQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.winsorizeApprox(d, "doc_id", Seq("n_chars", "n_tok"))
  }

  /** Per-language equal-frequency binning (r13): decile cuts within each
    * lang — the multilingual-curriculum form (a global length decile is
    * really a language id). Same exact-percentile parity contract as
    * [[qualityBinsQ]]; NULL lang refuses with NULL bins. */
  val qualityBinsByLangQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.quantileBinsBy(d, "doc_id", "lang", Seq("n_chars", "n_tok"),
      nBins = 10)
  }

  val qualityBinsByLangSql: String = {
    def cuts(f: String) = (1 until 10)
      .map(i => s"quantile_cont($f, 0.$i) AS c${i}_$f").mkString(",\n      |         ")
    def bin(f: String) = (1 until 10)
      .map(i => s"CAST(f.$f > c.c${i}_$f AS BIGINT)").mkString(" + ")
    s"""WITH f AS (
       |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS n_chars,
       |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
       |  FROM documents
       |), cuts AS (
       |  SELECT lang,
       |         ${cuts("n_chars")},
       |         ${cuts("n_tok")}
       |  FROM f WHERE lang IS NOT NULL GROUP BY lang
       |)
       |SELECT f.doc_id, f.lang,
       |  CASE WHEN f.n_chars IS NULL OR f.lang IS NULL THEN NULL
       |       ELSE ${bin("n_chars")} END AS n_chars_bin,
       |  CASE WHEN f.n_tok IS NULL OR f.lang IS NULL THEN NULL
       |       ELSE ${bin("n_tok")} END AS n_tok_bin
       |FROM f LEFT JOIN cuts c ON f.lang = c.lang""".stripMargin
  }

  /** Sketch twin of [[qualityBinsByLangQ]] — rows-only by design. */
  val qualityBinsByLangApproxQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.quantileBinsByApprox(d, "doc_id", "lang",
      Seq("n_chars", "n_tok"), nBins = 10)
  }

  /** Sketch twin of [[qualityWinsorizedByLangQ]] — rows-only by design. */
  val qualityWinsorizedByLangApproxQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.winsorizeByApprox(d, "doc_id", "lang", Seq("n_chars", "n_tok"))
  }

  val qualityOutliersSql: String =
    """WITH f AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
      |  FROM documents
      |), med AS (
      |  SELECT quantile_cont(n_chars, 0.5) AS m_c,
      |         quantile_cont(n_tok, 0.5) AS m_t FROM f
      |), mad AS (
      |  SELECT quantile_cont(abs(n_chars - m_c), 0.5) AS d_c,
      |         quantile_cont(abs(n_tok - m_t), 0.5) AS d_t
      |  FROM f CROSS JOIN med
      |), z AS (
      |  SELECT doc_id,
      |    round(CASE WHEN d_c > 0 THEN (n_chars - m_c) / (d_c * 1.4826) END, 6) AS n_chars_z,
      |    round(CASE WHEN d_t > 0 THEN (n_tok - m_t) / (d_t * 1.4826) END, 6) AS n_tok_z
      |  FROM f CROSS JOIN med CROSS JOIN mad
      |)
      |SELECT doc_id, n_chars_z, n_tok_z,
      |  CAST(CAST(coalesce(abs(n_chars_z) > 3.5, false) AS INT)
      |     + CAST(coalesce(abs(n_tok_z) > 3.5, false) AS INT) AS BIGINT) AS n_outlier_feats,
      |  coalesce(abs(n_chars_z) > 3.5, false)
      |    OR coalesce(abs(n_tok_z) > 3.5, false) AS is_outlier
      |FROM z""".stripMargin

  /** Sketch twin of [[qualityOutliersQ]]: `approx_percentile` medians and
    * MADs (bounded memory, mergeable partials — the 100 TB path where the
    * exact percentile would buffer the corpus column). Approximate ⇒
    * rows-only gate; the exact twin certifies the arithmetic. */
  val qualityOutliersApproxQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    RobustStats.robustOutliersApprox(d, "doc_id", Seq("n_chars", "n_tok"))
  }
}
