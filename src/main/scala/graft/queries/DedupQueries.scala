package graft.queries

import graft.Tables
import graft.operators.{Dedup, JobTag, KMeansPortable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over the documents table: exact, exact-Jaccard
  * baseline, MinHash+LSH, SimHash. The LSH variants have no SQL
  * oracle (their candidate sets depend on the hash family); the
  * driver records a rows-only check for them, and their
  * *verification* math (exact Jaccard / hamming over candidates) is
  * cross-checked by the oracle-backed q17 baseline + scalatest
  * fixtures with known duplicates.
  */
object DedupQueries {

  private def q16(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(Tables(s, dir).documents, "doc_id", "text")
      .orderBy(col("fp"))

  private val q16Sql =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |  count(*) AS n_dups, min(doc_id) AS canonical_id,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
      |FROM documents
      |GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin

  // Anchors are the 50 smallest doc_ids — a FIXED-size deterministic
  // sample (ids are dense from 0), so the broadcast side and the
  // O(|anchors|·N) baseline cost stay constant as the corpus grows.
  // (Round 1 used doc_id % 50, whose anchor set — and therefore the
  // brute-force work — grew linearly with N: a scale bug.)
  private def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardToAnchors(Tables(s, dir).documents, "doc_id", "text",
        col("id") < 50, 0.5)
      .orderBy(col("a_id"), col("b_id"))

  private val q17Sql =
    """WITH t AS (SELECT doc_id,
      |    list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < 50 AND a.doc_id < b.doc_id
      |WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / (length(a.toks) + length(b.toks) - length(list_intersect(a.toks, b.toks))) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  private def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables(s, dir).documents, "doc_id", "text",
        shingleK = 2, numHashes = 32, bands = 8, threshold = 0.2)
      .orderBy(col("a_id"), col("b_id"))

  private def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables(s, dir).documents, "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("a_id"), col("b_id"))

  // Winnowing containment pairs under a FULL DuckDB oracle (promoted
  // from rows-only in round 5): the gate runs the operator with the
  // engine-portable md5-60-bit shingle hash ([[Dedup.md5Hash60]]), so
  // the oracle re-derives the ENTIRE pipeline — first-occurrence-
  // distinct shingles, hashing, the sliding window-min selection
  // (list comprehension), the maxDf boilerplate cull, and the
  // containment math — value-for-value. The library default stays
  // xxhash64 (native, faster); only uniformity matters, and the
  // window-min/dedup mechanics under oracle are hash-independent.
  private def q34(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedOverlapPairs(Tables(s, dir).documents, "doc_id", "text",
        shingleK = 3, window = 4, minContainment = 0.5,
        hashFn = Dedup.md5Hash60)
      .orderBy(col("a_id"), col("b_id"))

  private val q34Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(
      |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id, CASE WHEN length(toks) < 3
      |    THEN [array_to_string(toks, ' ')]
      |    ELSE [array_to_string(toks[i:i+2], ' ')
      |          for i in generate_series(1, length(toks) - 2)] END AS shs
      |  FROM t),
      |shd AS (
      |  SELECT doc_id, s, min(pos) AS pos FROM (
      |    SELECT doc_id, unnest(shs) AS s, generate_subscripts(shs, 1) AS pos
      |    FROM sh0)
      |  GROUP BY doc_id, s),
      |hs AS (
      |  SELECT doc_id,
      |    list(CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
      |      ORDER BY pos) AS h
      |  FROM shd GROUP BY doc_id),
      |fps AS (
      |  SELECT doc_id, list_distinct(CASE WHEN length(h) < 4
      |    THEN [list_min(h)]
      |    ELSE [list_min(h[i+1:i+4])
      |          for i in generate_series(0, length(h) - 4)] END) AS fp
      |  FROM hs),
      |ex AS (SELECT doc_id, unnest(fp) AS f FROM fps),
      |keep AS (SELECT f FROM ex GROUP BY f HAVING count(*) <= 1000),
      |exk AS (SELECT doc_id, f FROM ex JOIN keep USING (f)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM exk GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS shared
      |  FROM exk x JOIN exk y ON x.f = y.f AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, shared,
      |  CAST(shared AS DOUBLE) / least(na.n, nb.n) AS containment
      |FROM pairs
      |JOIN sizes na ON na.doc_id = a_id
      |JOIN sizes nb ON nb.doc_id = b_id
      |WHERE CAST(shared AS DOUBLE) / least(na.n, nb.n) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  /** The COMPOSED dedup pipeline (DedupPipeline: exact dedup →
    * prefix-bucket candidates → exact-Jaccard verify → connected
    * components → survivor election) under a FULL DuckDB oracle — the
    * LLM-curation sibling of q36's composed catalog chain. The oracle
    * re-derives all five stages, including the transitive closure
    * (recursive CTE) and the mega-bucket skew cull.
    */
  private def q44(s: SparkSession, dir: String): DataFrame =
    graft.operators.DedupPipeline.nearDupGroups(
      Tables(s, dir).documents, "doc_id", "text", threshold = 0.8)
      .orderBy(col("doc_id"))

  private val q44Sql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS toks,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      |  FROM documents),
      |surv AS (
      |  SELECT doc_id, toks, norm FROM (
      |    SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
      |    FROM t) WHERE rn = 1),
      |keyed AS (
      |  SELECT doc_id, toks, length(toks) AS ntok,
      |    split_part(norm, ' ', 1) || '|' || split_part(norm, ' ', 2) AS bkey
      |  FROM surv
      |  QUALIFY count(*) OVER (PARTITION BY bkey) <= 1000),
      |p0 AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  WHERE CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / (a.ntok + b.ntok - length(list_intersect(a.toks, b.toks))) >= 0.8),
      |edges AS (SELECT a_id AS a, b_id AS b FROM p0
      |  UNION SELECT b_id, a_id FROM p0),
      |walk(node, label) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node),
      |comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
      |assigned AS (
      |  SELECT s.doc_id,
      |    CAST(coalesce(c.component, s.doc_id) AS BIGINT) AS dup_group
      |  FROM surv s LEFT JOIN comp c ON c.node = s.doc_id),
      |sizes AS (SELECT dup_group, count(*) AS group_size
      |  FROM assigned GROUP BY 1)
      |SELECT a.doc_id, a.dup_group, z.group_size,
      |  a.doc_id = a.dup_group AS survivor
      |FROM assigned a JOIN sizes z USING (dup_group)
      |ORDER BY a.doc_id""".stripMargin

  /** Segment-level exact dedup (CCNet/Dolma-style boilerplate scrub)
    * under a FULL DuckDB oracle. The synthetic corpus has no newline
    * structure, so segments are deterministic 4-token chunks
    * (tokenChunks partitions the token stream; the small vocabulary
    * makes cross-document chunk collisions — the "boilerplate" —
    * frequent at every SF). The oracle re-derives the keep-first
    * survivor rule and the ordered re-assembly, so a drift in either
    * the survivor choice or segment order fails the hash.
    */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(Tables(s, dir).documents, "doc_id",
        graft.functions.TextFunctions.tokenChunks(col("text"), 4))
      .orderBy(col("doc_id"))

  private val q52Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN length(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE
      |      [list_aggregate(toks[i*4+1 : i*4+4], 'string_agg', ' ')
      |       for i in generate_series(0, (length(toks) - 1) // 4)] END AS segs
      |  FROM t),
      |segs AS (
      |  SELECT doc_id, unnest(segs) AS seg,
      |    generate_subscripts(segs, 1) - 1 AS pos
      |  FROM g),
      |kept AS (
      |  SELECT doc_id, pos, seg FROM (
      |    SELECT doc_id, pos, seg,
      |      row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
      |    FROM segs) WHERE rn = 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(seg, ' ' ORDER BY pos) AS text_deduped
      |  FROM kept GROUP BY doc_id)
      |SELECT g.doc_id, CAST(length(g.segs) AS BIGINT) AS n_segments,
      |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(a.text_deduped, '') AS text_deduped
      |FROM g LEFT JOIN agg a USING (doc_id)
      |ORDER BY g.doc_id""".stripMargin

  /** Exact duplicate-substring removal (Lee et al. ExactSubstr) under
    * a FULL DuckDB oracle: the oracle re-derives the k-token window
    * hashes, the global-first election, the canonical-copy protection,
    * and the in-place reconstruction — a drift in any of the four
    * stages (or in the tokenizer) fails the hash at all three SFs.
    * k=4 matches q52's chunk width, so the corpus's cross-document
    * collisions exercise both the cross-doc and self-overlap paths.
    */
  private def q58(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstrings(Tables(s, dir).documents, "doc_id", "text", k = 4)
      .orderBy(col("doc_id"))

  private val q58Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id,
      |    CASE WHEN length(toks) >= 4 THEN
      |      [md5(list_aggregate(toks[i+1 : i+4], 'string_agg', ' '))
      |       for i in generate_series(0, length(toks) - 4)]
      |    ELSE CAST([] AS VARCHAR[]) END AS hs
      |  FROM t),
      |g AS (
      |  SELECT doc_id, unnest(hs) AS h,
      |    generate_subscripts(hs, 1) - 1 AS s
      |  FROM g0),
      |marked AS (
      |  SELECT doc_id, s, rn = 1 AS is_first FROM (
      |    SELECT doc_id, s,
      |      row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
      |      count(*) OVER (PARTITION BY h) AS c
      |    FROM g) WHERE c > 1),
      |tok AS (
      |  SELECT doc_id, unnest(toks) AS tk,
      |    generate_subscripts(toks, 1) - 1 AS p
      |  FROM t),
      |kept AS (
      |  SELECT tk.doc_id, tk.tk, tk.p FROM tok tk
      |  WHERE NOT EXISTS (SELECT 1 FROM marked m
      |      WHERE m.doc_id = tk.doc_id AND NOT m.is_first
      |        AND tk.p >= m.s AND tk.p < m.s + 4)
      |    OR EXISTS (SELECT 1 FROM marked m
      |      WHERE m.doc_id = tk.doc_id AND m.is_first
      |        AND tk.p >= m.s AND tk.p < m.s + 4)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tk, ' ' ORDER BY p) AS text_deduped
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(a.text_deduped, '') AS text_deduped
      |FROM t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Bloom-prefiltered EXACT incremental admission (q59): a synthetic
    * daily batch — every 5th doc re-crawled, with every 10th doc
    * genuinely updated (" v2") and odd multiples of 25 replaced by a
    * shared boilerplate page — admitted against the full corpus via
    * [[Dedup.admitNewExact]]. The result is EXACT (the bloom only
    * routes work: definite-new docs skip the verify join, suspects are
    * cleared against the corpus), so the oracle is a plain
    * first-per-fingerprint election + anti-join that knows nothing
    * about the bloom — a drift in the artifact's no-false-negative
    * guarantee, the suspect routing, or the election fails the hash.
    * Expected: re-crawls rejected, v2 docs admitted, ONE boilerplate
    * survivor.
    */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val batch = d.filter(col("doc_id") % 5 === 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
          .when(col("doc_id") % 25 === 0, lit("batch boilerplate page"))
          .otherwise(col("text")))
      .withColumn("doc_id", col("doc_id") + 1000000)
    Dedup.admitNewExact(batch, d, "doc_id", "text",
        numBits = 1L << 16, numHashes = 7)
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
      .orderBy(col("doc_id"))
  }

  private val q59Sql =
    """WITH batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, lang, source,
      |    CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
      |         WHEN doc_id % 25 = 0 THEN 'batch boilerplate page'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 = 0),
      |bf AS (
      |  SELECT doc_id, lang, source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM batch),
      |corpus AS (
      |  SELECT DISTINCT
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |elected AS (
      |  SELECT doc_id, lang, source, fp FROM (
      |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM bf) WHERE rn = 1)
      |SELECT e.doc_id, e.lang, e.source, e.fp
      |FROM elected e
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = e.fp)
      |ORDER BY e.doc_id""".stripMargin

  /** C4-style frequency-threshold boilerplate removal (q61) under a
    * FULL DuckDB oracle: segments (4-token chunks, the q52
    * convention) occurring ≥ 3 times corpus-wide are removed from
    * EVERY document — the survivor-less sibling of q52's keep-first
    * segment dedup. The oracle re-derives segmentation, corpus
    * frequencies, the threshold set, and ordered reassembly.
    */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenChunks
    val d = Tables(s, dir).documents
    Dedup.removeFrequentSegments(d, "doc_id", tokenChunks(col("text"), 4),
        minDf = 3)
      .orderBy(col("doc_id"))
  }

  private val q61Sql =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN length(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE
      |      [list_aggregate(toks[i*4+1 : i*4+4], 'string_agg', ' ')
      |       for i in generate_series(0, (length(toks) - 1) // 4)] END AS segs
      |  FROM tk),
      |segrows AS (
      |  SELECT doc_id, unnest(segs) AS seg,
      |    generate_subscripts(segs, 1) - 1 AS pos
      |  FROM g),
      |boiler AS (
      |  SELECT seg FROM segrows GROUP BY seg HAVING count(*) >= 3),
      |kept AS (
      |  SELECT s.doc_id, s.seg, s.pos FROM segrows s
      |  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.seg = s.seg)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(seg, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT g.doc_id,
      |  CAST(length(g.segs) AS BIGINT) AS n_segments,
      |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(a.cleaned, '') AS text_cleaned
      |FROM g LEFT JOIN agg a USING (doc_id)
      |ORDER BY g.doc_id""".stripMargin

  /** Content-defined chunking dedup accounting (q62) under a FULL
    * DuckDB oracle: boundaries where the k-token rolling window's
    * portable hash ≡ 0 mod 16, chunks content-addressed by md5,
    * global first occurrence elected per chunk, per-doc storage-dedup
    * stats. The oracle re-derives boundary selection, chunk slicing,
    * canonical election, and the token accounting end-to-end.
    */
  private def q62(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.cdcDedupStats(Tables(s, dir).documents,
        "doc_id", "text", k = 3, divisor = 16, hashFn = Dedup.md5Hash60)
      .orderBy(col("doc_id"))

  private val q62Sql =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, toks, length(toks) AS n,
      |    CASE WHEN length(toks) >= 4 THEN
      |      [i for i in generate_series(2, length(toks) - 2)
      |       if CAST(('0x' || substring(md5(
      |            array_to_string(toks[i-1 : i+1], ' ')), 1, 15)) AS BIGINT)
      |          % 16 = 0]
      |    ELSE CAST([] AS INTEGER[]) END AS bpos
      |  FROM tk),
      |ch AS (
      |  SELECT doc_id,
      |    CASE WHEN n > 0 THEN
      |      [struct_pack(
      |         chunk := array_to_string(
      |           toks[list_prepend(0, [x + 1 for x in bpos])[j] + 1 :
      |                list_append(bpos, n - 1)[j] + 1], ' '),
      |         nt := list_append(bpos, n - 1)[j]
      |               - list_prepend(0, [x + 1 for x in bpos])[j] + 1)
      |       for j in generate_series(1, length(bpos) + 1)]
      |    ELSE CAST([] AS STRUCT(chunk VARCHAR, nt INTEGER)[]) END AS chunks
      |  FROM b),
      |rows_ AS (
      |  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS chunk_idx,
      |    unnest(chunks, recursive := true)
      |  FROM ch),
      |firsts AS (
      |  SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS fkey
      |  FROM rows_ GROUP BY chunk),
      |marked AS (
      |  SELECT r.doc_id, r.nt,
      |    (r.doc_id * 1000000 + r.chunk_idx) <> f.fkey AS dup
      |  FROM rows_ r JOIN firsts f USING (chunk)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN dup THEN nt ELSE 0 END) AS BIGINT) AS dup_tokens
      |  FROM marked GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  coalesce(a.n_dup_chunks, 0) AS n_dup_chunks,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  coalesce(a.dup_tokens, 0) AS dup_tokens
      |FROM tk t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** MinHash + LSH under a FULL DuckDB oracle (q69) — the
    * verification twin of q18 (same shingling, banding, cull and
    * verify MECHANICS, same parameters) with every hash derived from
    * md5, so the oracle re-derives signatures, band buckets,
    * candidates and verified Jaccard value-for-value. q18's xxhash64
    * path stays the scale default; its only difference is the hash
    * family this gate proves is the sole unverified ingredient.
    */
  private def q69(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsPortable(Tables(s, dir).documents, "doc_id", "text",
        shingleK = 2, numHashes = 32, bands = 8, threshold = 0.2)
      .orderBy(col("a_id"), col("b_id"))

  private val q69Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(
      |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN length(toks) < 2
      |    THEN [array_to_string(toks, ' ')]
      |    ELSE [array_to_string(toks[i:i+1], ' ')
      |          for i in generate_series(1, length(toks) - 1)] END) AS shs
      |  FROM t),
      |hx AS (
      |  SELECT doc_id, [md5(s) for s in shs] AS hexes FROM sh),
      |base AS (
      |  SELECT doc_id,
      |    [list_min([CAST(('0x' || substring(m, 1, 14)) AS BIGINT)
      |        + i * CAST(('0x' || substring(m, 15, 14)) AS BIGINT)
      |      for m in hexes]) for i in generate_series(0, 31)] AS sig,
      |    list_distinct([CAST(('0x' || substring(m, 1, 15)) AS BIGINT)
      |      for m in hexes]) AS hsh
      |  FROM hx),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS bucket
      |  FROM base, generate_series(0, 7) AS g(b)),
      |sized AS (
      |  SELECT doc_id, band, bucket FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 10000),
      |cands AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM sized x JOIN sized y
      |    ON x.band = y.band AND x.bucket = y.bucket
      |    AND x.doc_id < y.doc_id),
      |verified AS (
      |  SELECT c.a_id, c.b_id,
      |    CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE)
      |      / (length(a.hsh) + length(b.hsh)
      |         - length(list_intersect(a.hsh, b.hsh))) AS jaccard
      |  FROM cands c
      |  JOIN base a ON a.doc_id = c.a_id
      |  JOIN base b ON b.doc_id = c.b_id)
      |SELECT a_id, b_id, jaccard FROM verified
      |WHERE jaccard >= 0.2 ORDER BY a_id, b_id""".stripMargin

  /** SimHash under a FULL DuckDB oracle (q70) — the q69 companion:
    * 60-bit md5-derived signatures, 4×15-bit pigeonhole bands,
    * popcount verify — all integer arithmetic both engines compute
    * identically, so signatures, banding, cull, candidates and
    * hamming distances hash-match value-for-value. q19's native
    * xxhash64 path stays the scale default.
    */
  private def q70(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsPortable(Tables(s, dir).documents, "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("a_id"), col("b_id"))

  private val q70Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(regexp_split_to_array(
      |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |      x -> length(x) > 0)) AS toks
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |    [CAST(('0x' || substring(md5(tk), 1, 15)) AS BIGINT)
      |     for tk in toks] AS h
      |  FROM t WHERE length(toks) > 0),
      |base AS (
      |  SELECT doc_id,
      |    list_sum([CASE WHEN list_sum(
      |        [CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END for x in h])
      |      >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END
      |      for j in generate_series(0, 59)]) AS sig
      |  FROM hs),
      |banded AS (
      |  SELECT doc_id, b AS band, (sig >> (b * 15)) & 32767 AS bv
      |  FROM base, generate_series(0, 3) AS g(b)),
      |sized AS (
      |  SELECT doc_id, band, bv FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bv) <= 10000),
      |cands AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM sized x JOIN sized y
      |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
      |SELECT c.a_id, c.b_id,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM cands c
      |JOIN base a ON a.doc_id = c.a_id
      |JOIN base b ON b.doc_id = c.b_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  /** SemDeDup over the embeddings table (rows-only: the k-means
    * quantizer is not SQL-expressible; DedupSpec pins the keep set
    * against a brute-force all-pairs + union-find reference on
    * planted near-duplicates). One row per vector, so the row gate is
    * exact; the within-cell threshold matches q42's banded all-pairs.
    */
  private def q54(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables(s, dir).embeddings, "vec_id", "embedding",
        threshold = 0.35, nlist = 16)
      .orderBy(col("id"))

  /** Portable SemDeDup under a FULL DuckDB oracle (q76) — the q54
    * twin on the COMMITTED q73 fixture centroids (training is an
    * offline artifact; the applied pipeline — exact-decimal argmin
    * cell assignment, within-cell decimal-cosine pairs, min-label
    * closure, min-member survivor — re-derives value-for-value in
    * SQL, closure included via a recursive CTE). With q69/q70/q71/
    * q72/q74/q75, every approximate-dedup APPLICATION in the engine
    * now has a hash-verified twin; the only assumed ingredients left
    * anywhere are hash families and offline trainers.
    */
  private def q76(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedupPortable(Tables(s, dir).embeddings,
        graft.operators.SimilaritySearch.loadFixtureArtifacts()
          .coarseCentroids, threshold = 0.35)
      .orderBy(col("id"))

  /** The SemDeDup application tail as SQL — cull → within-cell
    * decimal-cosine pair scan → symmetric edges → recursive min-label
    * closure — ONE source for the arithmetic across every oracle that
    * applies it (q76 fixture, q80 flat e2e, q90 two-level e2e, q91's
    * corpus-dedup stage): the oracle-side image of the Scala
    * `semanticDedupFromAssigned` single-siting (round-10 review).
    * Reads the shared `dims`/`norms`; `assignRel` is (id, cell);
    * emits `<p>sized … <p>comp` with NO trailing comma (most callers
    * follow with the final SELECT — a caller appending further CTEs
    * adds its own comma, unlike the assignmentCtes convention). Edges
    * carry the explicit-DISTINCT wrapper (the q88 DuckDB-1.0
    * sibling-UNION lesson) uniformly.
    */
  private def semanticTailCtes(assignRel: String, p: String,
      threshold: Double, maxCellSize: Int = 10000): String =
    s"""${p}sized AS (
       |  SELECT id, cell FROM $assignRel
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $maxCellSize),
       |${p}pdots AS MATERIALIZED (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM ${p}sized a JOIN ${p}sized b ON a.cell = b.cell AND a.id < b.id
       |  JOIN dims da ON da.id = a.id
       |  JOIN dims db ON db.id = b.id AND db.d = da.d
       |  GROUP BY 1, 2),
       |${p}e0 AS (
       |  SELECT q.a_id AS a, q.b_id AS b FROM ${p}pdots q
       |  JOIN norms na ON na.id = q.a_id
       |  JOIN norms nb ON nb.id = q.b_id
       |  WHERE round(q.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= $threshold),
       |${p}edges AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM ${p}e0 UNION ALL SELECT b, a FROM ${p}e0)),
       |${p}walk(node, label) AS (
       |  SELECT a, a FROM ${p}edges
       |  UNION
       |  SELECT e.b, w.label FROM ${p}walk w JOIN ${p}edges e ON e.a = w.node),
       |${p}comp AS MATERIALIZED (
       |  SELECT node, min(label) AS component FROM ${p}walk GROUP BY node)""".stripMargin

  /** The standard survivor frame over [[semanticTailCtes]]'s comp:
    * one row per `v` id, min-member group, keep flag. */
  private val semanticSurvivorSelect: String =
    """SELECT v.id, CAST(coalesce(c.component, v.id) AS BIGINT) AS group_id,
      |  v.id = coalesce(c.component, v.id) AS keep
      |FROM v LEFT JOIN comp c ON c.node = v.id
      |ORDER BY v.id""".stripMargin

  private val q76Sql = {
    val cents = graft.operators.SimilaritySearch.loadFixtureArtifacts()
      .coarseCentroids
    // shortest-repr double literals round-trip bit-exactly in both
    // engines; the centroid matrix IS the fixture, embedded verbatim
    val rows = cents.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(java.lang.Double.toString).mkString(", ")}])"
    }.mkString(", ")
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id AS id, [CAST(x AS DOUBLE) for x in embedding] AS xs
       |  FROM embeddings),
       |dims AS (
       |  SELECT id, generate_subscripts(xs, 1) - 1 AS d, unnest(xs) AS x
       |  FROM v),
       |norms AS (
       |  SELECT id, CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS n2
       |  FROM dims GROUP BY id),
       |cents AS (SELECT * FROM (VALUES $rows) AS t(j, cs)),
       |cdims AS (
       |  SELECT j, generate_subscripts(cs, 1) - 1 AS d, unnest(cs) AS c
       |  FROM cents),
       |${KMeansPortable.assignmentCtes("p", "cdims")}
       |${semanticTailCtes("asp", "", 0.35)}
       |$semanticSurvivorSelect""".stripMargin
  }

  /** Portable Lloyd k-means training under a FULL DuckDB oracle
    * (q78) — the LAST assumed component with a feasible oracle path
    * closed: q54/q76 consume centroids whose TRAINING was, until now,
    * an unverified Spark ML artifact. Committed first-k-ids init,
    * 3 fixed iterations, exact-decimal assignment and means — the
    * oracle re-derives every centroid coordinate and member count
    * value-for-value (see [[KMeansPortable]]). With q78, every stage
    * of the SemDeDup pipeline — train → assign → pair → close →
    * survive — is hash-verified; only hash families (LSH trilogy) and
    * the inherently float-order-dependent L-BFGS (q68/q77) remain
    * assumed anywhere in the engine.
    */
  private def q78(s: SparkSession, dir: String): DataFrame =
    KMeansPortable.train(Tables(s, dir).embeddings, k = 8, iters = 3)
      .orderBy(col("cell"), col("d"))

  private val q78Sql =
    KMeansPortable.oracleSql("embeddings", "vec_id", "embedding",
      k = 8, iters = 3)

  /** END-TO-END portable SemDeDup under ONE oracle (q80): TRAIN the
    * coarse quantizer with [[KMeansPortable]] (the q78 Lloyd loop),
    * then run the full SemDeDup application (the q76 pipeline —
    * exact-decimal argmin assignment, within-cell decimal cosines,
    * recursive-CTE closure, min-member survivor) on the centroids it
    * just trained. Nothing is a fixture: the oracle re-derives the
    * ENTIRE train→assign→pair→close→survive chain from the parquet
    * bytes alone — the strongest verification statement in the
    * engine, and the deployment shape (train on today's corpus,
    * dedup today's corpus) rather than the artifact-split one.
    */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val m = JobTag.during("semdedup:q80:train")(
      KMeansPortable.trainModel(Tables(s, dir).embeddings, k = 8, iters = 3))
    Dedup.semanticDedupPortable(Tables(s, dir).embeddings, m.centroids,
        threshold = 0.35)
      .orderBy(col("id"))
  }

  private val q80Sql = {
    val lloyd = KMeansPortable.lloydCtes("embeddings", "vec_id",
      "embedding", k = 8, iters = 3)
    // the application's assignment comes from the SAME generator the
    // Lloyd iterations use, against cd3 — the trained matrix the
    // chain ends in — so the train and apply arithmetic cannot drift
    val assign = KMeansPortable.assignmentCtes("f", "cd3")
    s"""WITH RECURSIVE $lloyd
       |$assign
       |${semanticTailCtes("asf", "", 0.35)}
       |$semanticSurvivorSelect""".stripMargin
  }

  /** END-TO-END TWO-LEVEL SemDeDup under ONE oracle (q90): the q80
    * statement for the hierarchical quantizer — the structure the
    * 100× measurement picked (SCALE.md round 10: flat ∝N argmin
    * 1075.8 s solo → two-level 285.7 s at 100×). The oracle re-derives the
    * ENTIRE [[KMeansPortable.trainTwoLevel]] walk from the parquet
    * bytes: super Lloyd, routing, the largest-remainder child
    * allocation (window-SQL replay of the Scala stable sort),
    * per-super child Lloyd with the super-RESTRICTED argmin, the
    * application assignment, and the shared cull→pair→close→survive
    * tail. Training-time routing and application-time routing are
    * the same relation (`asr`) because both assign the same corpus
    * against the same final super centroids — the one deliberate
    * reuse. nlist = 8 keeps gate parity with q80 (the structures
    * agree on VALUES only via their own oracles — cells differ, so
    * survivors may too; each chain is verified independently).
    */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir).embeddings
    val m = JobTag.during("semdedup:q90:train")(
      KMeansPortable.trainTwoLevel(t, nlist = 8, iters = 3))
    Dedup.semanticDedupTwoLevel(t, m, threshold = 0.35)
      .orderBy(col("id"))
  }

  private val q90Sql = {
    val chain = KMeansPortable.twoLevelCtes("embeddings", "vec_id",
      "embedding", nlist = 8, iters = 3)
    s"""WITH RECURSIVE $chain
       |${semanticTailCtes("askf", "", 0.35)}
       |$semanticSurvivorSelect""".stripMargin
  }

  /** INCREMENTAL semantic admission under ONE oracle (q91): the
    * daily-ingest deployment shape, composed end-to-end — corpus =
    * the 6/7 slice of embeddings, DEDUPED in-query by the q76 chain
    * (its keep-set is [[Dedup.admitIncrementalSemantic]]'s
    * precondition); batch = the held-out 1/7 slice; admission does
    * only new×new and new×corpus work with corpus ids negated into
    * the disjoint key space. The oracle re-derives BOTH pipelines —
    * corpus cull/pair/close/survive, then the union-population cull,
    * the (x.id < y.id OR y.id < 0) incremental pair scan, the second
    * closure and the component-untouched-and-min admission rule —
    * from the parquet bytes and the committed fixture centroids.
    * Complements the spec-pinned equivalence (admitted ≡ batch twin
    * over corpus ∪ batch) with a hash gate on the composed chain.
    */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val cents = graft.operators.SimilaritySearch.loadFixtureArtifacts()
      .coarseCentroids
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)
    val fresh = emb.filter(col("vec_id") % 7 === 0)
    val survivors = corpus.join(
      Dedup.semanticDedupPortable(corpus, cents, threshold = 0.35)
        .filter(col("keep")).select(col("id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    Dedup.admitIncrementalSemantic(fresh, survivors, cents,
        threshold = 0.35)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  private val q91Sql = {
    val cents = graft.operators.SimilaritySearch.loadFixtureArtifacts()
      .coarseCentroids
    val rows = cents.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(java.lang.Double.toString).mkString(", ")}])"
    }.mkString(", ")
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id AS id, [CAST(x AS DOUBLE) for x in embedding] AS xs
       |  FROM embeddings),
       |dims AS MATERIALIZED (
       |  SELECT id, generate_subscripts(xs, 1) - 1 AS d, unnest(xs) AS x
       |  FROM v),
       |norms AS MATERIALIZED (
       |  SELECT id, CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS n2
       |  FROM dims GROUP BY id),
       |cents AS (SELECT * FROM (VALUES $rows) AS t(j, cs)),
       |cdims AS (
       |  SELECT j, generate_subscripts(cs, 1) - 1 AS d, unnest(cs) AS c
       |  FROM cents),
       |${KMeansPortable.assignmentCtes("p", "cdims")}
       |fresh AS MATERIALIZED (
       |  SELECT id, cell FROM asp WHERE id % 7 = 0),
       |corp0 AS MATERIALIZED (
       |  SELECT id, cell FROM asp WHERE id % 7 <> 0),
       |${semanticTailCtes("corp0", "c", 0.35)},
       |surv AS MATERIALIZED (
       |  SELECT c.id, c.cell FROM corp0 c
       |  LEFT JOIN ccomp k ON k.node = c.id
       |  WHERE c.id = coalesce(k.component, c.id)),
       |ucull AS MATERIALIZED (
       |  SELECT cell FROM (
       |    SELECT cell FROM fresh UNION ALL SELECT cell FROM surv) u
       |  GROUP BY cell HAVING count(*) > 10000),
       |fa AS MATERIALIZED (
       |  SELECT id, cell FROM fresh
       |  WHERE cell NOT IN (SELECT cell FROM ucull)),
       |ca AS MATERIALIZED (
       |  SELECT id, cell FROM surv
       |  WHERE cell NOT IN (SELECT cell FROM ucull)),
       |ipd AS MATERIALIZED (
       |  SELECT x.id AS a, y.id AS b, y.orig AS b_orig,
       |    CAST(sum(CAST(round(dx.x * dy.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM fa x
       |  JOIN (SELECT id, id AS orig, cell FROM fa
       |        UNION ALL
       |        SELECT -id - 1 AS id, id AS orig, cell FROM ca) y
       |    ON x.cell = y.cell AND (x.id < y.id OR y.id < 0)
       |  JOIN dims dx ON dx.id = x.id
       |  JOIN dims dy ON dy.id = y.orig AND dy.d = dx.d
       |  GROUP BY 1, 2, 3),
       |ie0 AS (
       |  SELECT p.a, p.b FROM ipd p
       |  JOIN norms na ON na.id = p.a
       |  JOIN norms nb ON nb.id = p.b_orig
       |  WHERE round(p.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.35),
       |iedges AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM ie0 UNION ALL SELECT b, a FROM ie0)),
       |iwalk(node, label) AS (
       |  SELECT a, a FROM iedges
       |  UNION
       |  SELECT e.b, w.label FROM iwalk w JOIN iedges e ON e.a = w.node),
       |icomp AS (
       |  SELECT node, min(label) AS component FROM iwalk GROUP BY node)
       |SELECT CAST(f.id AS BIGINT) AS vec_id
       |FROM fresh f LEFT JOIN icomp k ON k.node = f.id
       |WHERE k.component IS NULL
       |   OR (k.component >= 0 AND k.component = f.id)
       |ORDER BY vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q16_exact_dup_groups", q16, Some(q16Sql)),
    Q("q17_jaccard_pairs", q17, Some(q17Sql), headline = true),
    Q("q18_minhash_lsh", q18, None, headline = true),
    Q("q19_simhash_pairs", q19, None, headline = true),
    Q("q34_winnow_containment", q34, Some(q34Sql)),
    Q("q44_dedup_pipeline", q44, Some(q44Sql), headline = true),
    Q("q52_segment_dedup", q52, Some(q52Sql), headline = true),
    Q("q54_semantic_dedup", q54, None),
    Q("q76_semdedup_oracle", q76, Some(q76Sql)),
    Q("q58_substring_dedup", q58, Some(q58Sql), headline = true),
    Q("q59_bloom_admission", q59, Some(q59Sql), headline = true),
    Q("q61_boilerplate_removal", q61, Some(q61Sql), headline = true),
    Q("q62_cdc_dedup", q62, Some(q62Sql), headline = true),
    Q("q69_minhash_lsh_oracle", q69, Some(q69Sql), headline = true),
    Q("q70_simhash_oracle", q70, Some(q70Sql)),
    Q("q78_kmeans_train_oracle", q78, Some(q78Sql)),
    Q("q80_semdedup_e2e_oracle", q80, Some(q80Sql)),
    Q("q90_semdedup_twolevel_oracle", q90, Some(q90Sql)),
    Q("q91_incremental_admission_oracle", q91, Some(q91Sql)))
}
