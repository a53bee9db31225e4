package graft.queries

import graft.Tables
import graft.domain.{CatalogExtract, DiscScanner}
import graft.operators.{Grouping, Resume}
import graft.sources.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPOSED catalog pipeline under the oracle gate (SURVEY §7
  * phase 2): one query that chains the ph1→ph3 operators end-to-end —
  * listing synthesis → F1 extension whitelist → X1 filename parse →
  * F4/X10 disc classification → A1/A2 majority-vote imputation → A3
  * ordinal gap fill → A4/A5 canonicalization → §2.3 resume anti-join —
  * so COLUMN DRIFT BETWEEN STAGES fails the gate, not just
  * per-operator specs.
  *
  * The catalog tree is synthesized deterministically from
  * lineitem⋈orders (every row formula is reproducible in ANSI SQL), so
  * the DuckDB oracle can re-derive the expected output of the whole
  * chain from the SAME generating columns: the Spark side genuinely
  * round-trips through strings (builds `(NN) [artist] title.flac`
  * names, re-parses them with the real regex cascades, classifies
  * `Disc N` dir names), and any drift between what a stage emits and
  * what the next consumes breaks the hash match. Regex parity across
  * engines is deliberately NOT exercised (pinned by the CJK fixture
  * specs); the oracle mirrors semantics, not mechanism.
  *
  * Scale shape — SURROGATE KEYS THROUGH THE WIDE STAGES: the string
  * surface (file names, disc dir names) is built and consumed inside
  * the first fused projection (parse → `no`, classify → `disc_idx`);
  * everything that SHUFFLES — majority vote, gap-fill windows + pool,
  * canonicalization, resume — is keyed on compact longs (album id,
  * disc code, catalog id, the q27 ordkey), and the display strings are
  * re-derived in one final projection. At local[32]/sf0.1 wall time is
  * CPU-bound (windows + regex synthesis) and unchanged vs the
  * string-keyed formulation; the payoff is the shuffle payload —
  * ~30 B/row keys instead of ~180 B/row strings — which on a real
  * cluster is network and spill, the resources that actually cap a
  * 100 TB run. Album-side relations BROADCAST (albums ≪ tracks — the
  * J1 FK shape).
  */
object PipelineQueries {

  // shared synthesis formulas over a key column (duplicated verbatim
  // in the oracle SQL)
  private def dateheadOf(k: Column) =
    concat(lit("2024."), lpad(((k % 9) + 1).cast("string"), 2, "0"))
  private def catOf(k: Column) =
    concat(lit("CAT-"), lpad((k % 500).cast("string"), 4, "0"))
  private def albumOf(k: Column) = concat(dateheadOf(k), lit(" [EV"),
    (k % 30).cast("string"), lit("] ["), catOf(k),
    lit("] album "), k.cast("string"))
  private def circleOf(c: Column) =
    concat(lit("circle "), (c % 97).cast("string"))
  private def discDirOf(d: Column) = when(d === 1, "Disc 1")
    .when(d === 2, "Disc 2").when(d === 3, "Bonus Disc").otherwise("")
  // (l_partkey, l_suppkey, l_linenumber) is unique per order — the q27
  // lesson ((l_orderkey, l_linenumber) alone is NOT); ordkey is the
  // total per-group order the gap fill assigns in, and file names fold
  // the same triple in so they stay unique in their directory
  // suppkey field width 10^8: TPC-H suppkey scales ~10^4 per SF unit,
  // so a 10^6 field overflowed into the partkey digits at SF >= 100 —
  // breaking the uniqueness this key exists for AND the final
  // file-name re-derivation, invisibly to the oracle (both engines
  // computed the same wrong packing). 10^8 holds to SF ~10^4 and the
  // packed value stays < 2*10^16, well inside a long.
  private def ordkeyOf = (col("l_partkey") * 100000000L + col("l_suppkey")) * 10L +
    col("l_linenumber")
  private def fileNameOf(untag: Column, ln: Column, p: Column, sk: Column) =
    when(untag,
      concat(lit("untagged take "), ln.cast("string"),
        lit(" piece "), p.cast("string"), lit("-"), sk.cast("string"),
        lit(".flac")))
      .otherwise(concat(lit("("), lpad(ln.cast("string"), 2, "0"),
        lit(") [artist "), (sk % 13).cast("string"),
        lit("] piece "), p.cast("string"), lit("-"), sk.cast("string"),
        lit(".flac")))

  /** The full chain; ~1 row per lineitem line plus per-album junk rows
    * that F1 must drop. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // per-album line count: pre-aggregated broadcast join, not a count
    // window — no consumer pays a shuffle+sort of the track rows just
    // to annotate album arity
    val nl = t.lineitem.groupBy(col("l_orderkey").as("nl_orderkey"))
      .agg(count(lit(1)).as("nlines"))
    // albums ≪ tracks (the J1 FK shape), but albums GROW WITH THE
    // CORPUS — unlike the fixed dims, these broadcasts are only
    // small-by-contract at gate scale, so they ride behind the
    // bounded-broadcast guard (the measured 100× run OOMed the driver
    // building a 15M-album broadcast; above the cap both joins fall
    // back to plain orderkey-keyed shuffles, which is the
    // co-partitioned deployment shape)
    val albumCap = 1000000
    val lines = t.lineitem
      .join(graft.operators.Par.boundedBroadcast(
          t.orders.select(col("o_orderkey"), col("o_custkey")),
          t.orders.select(lit(1).as("__q36_probe")), albumCap),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.operators.Par.boundedBroadcast(nl,
          t.orders.select(lit(2).as("__q36_probe2")), albumCap),
        col("l_orderkey") === col("nl_orderkey"))
    val dCode = when(col("nlines") > 4,
      when(col("l_linenumber") <= 3, 1)
        .when(col("l_linenumber") === 4, 3)
        .otherwise(2)).otherwise(0)
    val tdate0 = when(col("l_quantity") >= 48, lit(null).cast("string"))
      .when(col("l_linenumber") === 1, "2023.12")
      .otherwise(dateheadOf(col("o_orderkey")))
    val listing = lines.select(
      col("o_orderkey").as("album_id"), col("o_custkey").as("cust_id"),
      (col("o_orderkey") % 500).as("catalog_id"), dCode.as("d_code"),
      ordkeyOf.as("ordkey"), (col("l_quantity") < 3).as("untag"),
      fileNameOf(col("l_quantity") < 3, col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")).as("file_name"),
      tdate0.as("tdate0"))
    // per-album artwork/notes rows: files the extension whitelist must
    // drop before any track logic runs
    val junk = t.orders.select(
      col("o_orderkey").as("album_id"), col("o_custkey").as("cust_id"),
      (col("o_orderkey") % 500).as("catalog_id"), lit(0).as("d_code"),
      lit(null).cast("long").as("ordkey"), lit(false).as("untag"),
      explode(array(lit("folder.jpg"), lit("notes.txt"))).as("file_name"),
      lit(null).cast("string").as("tdate0"))
    val files = listing.unionByName(junk)
      .withColumn("ext", lower(regexp_extract(col("file_name"), "\\.([^.]+)$", 1)))

    // F1: extension whitelist
    val audio = Corpus.audioFiles(files)
    // F4/X10 disc classification, DICTIONARY-ENCODED: the cascade
    // input has four distinct values (d_code ∈ 0..3), so the REAL
    // rule cascades ("Bonus Disc" → NOT a disc → index 0) run once
    // per distinct value and the 4-row result broadcasts — the
    // low-cardinality-expensive-function pattern. Inlined per-row the
    // cascades were 30% of q36's wall time (measured +4.3 s at sf0.1
    // for 600k rows); at 100 TB that is 4 regex-cascade evaluations
    // instead of 10¹².
    val discDict = broadcast(s.range(0, 4)
      .select(col("id").cast("int").as("d_code"))
      .withColumn("disc_idx",
        when(DiscScanner.looksLikeDisc(discDirOf(col("d_code"))),
          DiscScanner.discIndexFromName(discDirOf(col("d_code"))).cast("int"))
          .otherwise(lit(0))))
    // X1: re-parse the synthesized name through the real regex; after
    // this projection only compact columns travel
    val parsed = audio
      .withColumn("p", CatalogExtract.parseTrackFilename(col("file_name")))
      .withColumn("no", coalesce(col("p.track"), lit(-1)))
      // LEFT join + the cascade's own fallback (unknown dir name → not
      // a disc → 0): the dictionary is an optimization, and must not
      // narrow semantics — an inner join would silently DROP rows if
      // the d_code domain ever outgrew the hand-listed 0..3
      .join(discDict, Seq("d_code"), "left")
      .withColumn("disc_idx", coalesce(col("disc_idx"), lit(0)))
      .select(col("album_id"), col("cust_id"), col("catalog_id"),
        col("d_code"), col("ordkey"), col("untag"), col("no"),
        col("disc_idx"), col("tdate0"))
      // ONE shuffle by album_id feeds every album-keyed stage: hash
      // partitioning on a PREFIX of each downstream clustering key
      // (majority groupBy/window on album_id, gap-fill window/groupBy/
      // join on (album_id, d_code)) satisfies their distributions, so
      // Catalyst plans zero further exchanges until the catalog_id
      // canonicalization — and the two consumers inside the majority
      // join share the exchange (ReusedExchange), so the regex parse
      // above runs once, not twice
      .repartition(col("album_id"))
    // A1+A2: impute missing release dates from the album majority
    val imputed = Grouping.imputeByMajority(parsed, Seq("album_id"), "tdate0")
    // A3: lowest-unused track numbers per (album, disc), in ordkey order.
    // PERSISTED: canonicalize reads it twice (a window + the join back)
    // and it carries the regex parse, which would otherwise run twice
    val filled = graft.CacheScope.track(Grouping.gapFillNumbers(imputed,
      Seq("album_id", "d_code"), "no", "ordkey"))
    // A4/A5: canonical album per catalog number (min album id)
    val canon = Grouping.canonicalize(filled, Seq("catalog_id"),
      Seq(col("album_id")), Seq("album_id"))
    // §2.3: resume anti-join against the completed-albums artifact
    val completed = t.orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("album_id"))
    // final projection re-derives the display strings from the keys
    Resume.pending(canon, completed, Seq("album_id"))
      .select(circleOf(col("cust_id")).as("circle"),
        albumOf(col("album_id")).as("album"),
        catOf(col("album_id")).as("catalog_no"),
        discDirOf(col("d_code")).as("disc_dir"), col("disc_idx"),
        fileNameOf(col("untag"), col("ordkey") % 10,
          expr("ordkey div 1000000000"),
          expr("(ordkey div 10) % 100000000")).as("file_name"),
        col("no").cast("int").as("track_no"),
        col("tdate0").as("release_date"),
        albumOf(col("canonical_album_id")).as("canonical_album"))
      .orderBy(col("circle"), col("album"), col("disc_dir"), col("file_name"))
  }

  // The oracle re-derives every stage from the generating columns:
  // parse ≡ the untagged/numbered CASE, disc classification ≡ the
  // d_code CASE, then majority vote / gap fill / canonicalization /
  // resume as explicit SQL over the same surrogate keys.
  private val q36Sql =
    """WITH lines AS (
      |  SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
      |    l.l_quantity, o.o_custkey,
      |    count(*) OVER (PARTITION BY l.l_orderkey) AS nlines
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |base AS (
      |  SELECT l_orderkey AS album_id, o_custkey AS cust_id,
      |    l_orderkey % 500 AS catalog_id,
      |    CASE WHEN nlines > 4 THEN
      |      CASE WHEN l_linenumber <= 3 THEN 1
      |           WHEN l_linenumber = 4 THEN 3 ELSE 2 END
      |      ELSE 0 END AS d_code,
      |    (l_partkey * 100000000 + l_suppkey) * 10 + l_linenumber AS ordkey,
      |    l_quantity < 3 AS untag,
      |    CASE WHEN l_quantity < 3 THEN -1 ELSE l_linenumber END AS no,
      |    CASE WHEN l_quantity >= 48 THEN NULL
      |         WHEN l_linenumber = 1 THEN '2023.12'
      |         ELSE '2024.' || lpad(CAST((l_orderkey % 9) + 1 AS VARCHAR), 2, '0') END AS tdate0
      |  FROM lines),
      |votes AS (
      |  SELECT album_id, tdate0 AS v, count(*) AS c FROM base
      |  WHERE tdate0 IS NOT NULL AND tdate0 <> '' GROUP BY 1, 2),
      |maj AS (
      |  SELECT album_id, v AS majority FROM (
      |    SELECT album_id, v, row_number() OVER (
      |      PARTITION BY album_id ORDER BY c DESC, v ASC) AS rn
      |    FROM votes) WHERE rn = 1),
      |imp AS (
      |  SELECT b.*, CASE WHEN b.tdate0 IS NULL OR b.tdate0 = ''
      |    THEN m.majority ELSE b.tdate0 END AS release_date
      |  FROM base b LEFT JOIN maj m ON m.album_id = b.album_id),
      |sizes AS (
      |  SELECT album_id, d_code, count(*) AS n,
      |    coalesce(max(CASE WHEN no >= 1 THEN no END), 0) AS maxv
      |  FROM imp GROUP BY 1, 2),
      |cand AS (
      |  SELECT album_id, d_code, f, row_number() OVER (
      |    PARTITION BY album_id, d_code ORDER BY f) AS rnk
      |  FROM (
      |    SELECT s.album_id, s.d_code,
      |      unnest(generate_series(1, CAST(s.n + s.maxv AS INT))) AS f
      |    FROM sizes s) g
      |  WHERE NOT EXISTS (SELECT 1 FROM imp u
      |    WHERE u.album_id = g.album_id AND u.d_code = g.d_code
      |      AND u.no = g.f)),
      |missing AS (
      |  SELECT album_id, d_code, ordkey, row_number() OVER (
      |    PARTITION BY album_id, d_code ORDER BY ordkey) AS rnk
      |  FROM imp WHERE no < 1),
      |filled AS (
      |  SELECT i.*, CASE WHEN i.no >= 1 THEN i.no ELSE c.f END AS track_no
      |  FROM imp i
      |  LEFT JOIN missing m ON i.no < 1 AND m.album_id = i.album_id
      |    AND m.d_code = i.d_code AND m.ordkey = i.ordkey
      |  LEFT JOIN cand c ON c.album_id = m.album_id
      |    AND c.d_code = m.d_code AND c.rnk = m.rnk),
      |canon AS (
      |  SELECT f.*, min(album_id) OVER (PARTITION BY catalog_id) AS c_id
      |  FROM filled f),
      |named AS (
      |  SELECT
      |    'circle ' || CAST(cust_id % 97 AS VARCHAR) AS circle,
      |    '2024.' || lpad(CAST((album_id % 9) + 1 AS VARCHAR), 2, '0')
      |      || ' [EV' || CAST(album_id % 30 AS VARCHAR) || '] [CAT-'
      |      || lpad(CAST(album_id % 500 AS VARCHAR), 4, '0')
      |      || '] album ' || CAST(album_id AS VARCHAR) AS album,
      |    'CAT-' || lpad(CAST(album_id % 500 AS VARCHAR), 4, '0') AS catalog_no,
      |    CASE d_code WHEN 1 THEN 'Disc 1' WHEN 2 THEN 'Disc 2'
      |      WHEN 3 THEN 'Bonus Disc' ELSE '' END AS disc_dir,
      |    CASE WHEN d_code IN (1, 2) THEN d_code ELSE 0 END AS disc_idx,
      |    CASE WHEN untag THEN 'untagged take ' || CAST(ordkey % 10 AS VARCHAR)
      |        || ' piece ' || CAST(ordkey // 1000000000 AS VARCHAR)
      |        || '-' || CAST((ordkey // 10) % 100000000 AS VARCHAR) || '.flac'
      |      ELSE '(' || lpad(CAST(ordkey % 10 AS VARCHAR), 2, '0')
      |        || ') [artist ' || CAST(((ordkey // 10) % 100000000) % 13 AS VARCHAR)
      |        || '] piece ' || CAST(ordkey // 1000000000 AS VARCHAR)
      |        || '-' || CAST((ordkey // 10) % 100000000 AS VARCHAR) || '.flac' END AS file_name,
      |    CAST(track_no AS INTEGER) AS track_no, release_date,
      |    '2024.' || lpad(CAST((c_id % 9) + 1 AS VARCHAR), 2, '0')
      |      || ' [EV' || CAST(c_id % 30 AS VARCHAR) || '] [CAT-'
      |      || lpad(CAST(c_id % 500 AS VARCHAR), 4, '0')
      |      || '] album ' || CAST(c_id AS VARCHAR) AS canonical_album,
      |    album_id
      |  FROM canon)
      |SELECT circle, album, catalog_no, disc_dir,
      |  CAST(disc_idx AS INTEGER) AS disc_idx, file_name, track_no,
      |  release_date, canonical_album
      |FROM named WHERE album_id % 10 <> 0
      |ORDER BY circle, album, disc_dir, file_name""".stripMargin

  /** The COMPOSED curation pipeline under ONE oracle — the q36
    * sibling for the LLM-curation lifecycle: PII redaction (planted
    * spans, the q53 fixture convention) → segment-level dedup
    * (documents continue with their DEDUPED text — the composition
    * step per-operator gates never exercise) → exact dedup on the
    * deduped text (segment dedup CREATES exact duplicates: docs
    * reduced to the same survivor set) → benchmark decontamination
    * over the deduped text → per-language quality filter → leakage-
    * free split keyed on the post-dedup fingerprint. Any drift in
    * what one stage emits vs what the next consumes fails the hash at
    * three SFs.
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.operators.{Dedup, Decontamination, Sampling}
    val d = Tables(s, dir).documents
    // 1. plant PII in every 7th doc (the shared q53 fixture
    // expression — single-sited in TextQueries), then redact
    val aug = d.withColumn("t1",
      piiRedact(TextQueries.plantPii(col("doc_id"), col("text"))))
    // 2. segment dedup: docs continue with the deduped text
    val segd = Dedup.dedupSegments(
      aug.select(col("doc_id"), col("t1").as("text")),
      "doc_id", tokenChunks(col("text"), 4))
      .select(col("doc_id"), col("text_deduped").as("t2"))
    val base = graft.CacheScope.track(
      aug.select(col("doc_id"), col("lang"), col("source")).join(segd, "doc_id"))
    // 3. exact dedup on the deduped text (min doc_id survives)
    val fps = base.withColumn("fp", fingerprint(col("t2")))
    val deduped = fps.join(
      fps.groupBy(col("fp")).agg(min(col("doc_id")).as("__keep")), "fp")
      .filter(col("doc_id") === col("__keep")).drop("__keep")
    // 4. decontamination: bench docs (every 97th) index their deduped
    // text; surviving train docs sharing a 3-gram are dropped
    val bench = base.filter(col("doc_id") % 97 === 0)
    // cached: flagContaminated scans its docs side twice (grams +
    // per-doc totals), and train's lineage carries the survivor join
    val train = graft.CacheScope.track(
      deduped.filter(col("doc_id") % 97 =!= 0))
    val flagged = Decontamination.flagContaminated(
      train, bench, "doc_id", "t2", n = 3)
    val clean = train.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // 5. per-language quality filter (keep top 3/4 by the q13 score)
    val kept = Sampling.qualityFilter(
      clean.withColumn("quality", qualityScore(col("t2"))),
      "lang", col("quality"), 3, 4, "doc_id")
    // 6. leakage-free split on the post-dedup fingerprint
    kept.select(col("doc_id"), col("lang"), col("source"), col("quality"),
        Sampling.assignSplit(col("fp"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)).as("split"))
      .orderBy(col("doc_id"))
  }

  private val q57Sql =
    """WITH aug AS (
      |  SELECT doc_id, lang, source,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      CASE WHEN doc_id % 7 = 0 THEN
      |        text || ' contact user' || CAST(doc_id AS VARCHAR)
      |          || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |          || '.' || CAST(doc_id % 100 AS VARCHAR)
      |          || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE text END,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS t1
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(regexp_split_to_array(trim(t1), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM aug),
      |g AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN length(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE
      |      [list_aggregate(toks[i*4+1 : i*4+4], 'string_agg', ' ')
      |       for i in generate_series(0, (length(toks) - 1) // 4)] END AS segs
      |  FROM tk),
      |segrows AS (
      |  SELECT doc_id, unnest(segs) AS seg,
      |    generate_subscripts(segs, 1) - 1 AS pos
      |  FROM g),
      |segkept AS (
      |  SELECT doc_id, pos, seg FROM (
      |    SELECT doc_id, pos, seg,
      |      row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
      |    FROM segrows) WHERE rn = 1),
      |segagg AS (
      |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS td
      |  FROM segkept GROUP BY doc_id),
      |base AS (
      |  SELECT g.doc_id, g.lang, g.source, coalesce(a.td, '') AS t2
      |  FROM g LEFT JOIN segagg a USING (doc_id)),
      |fps AS (
      |  SELECT *, md5(lower(trim(regexp_replace(t2, '\s+', ' ', 'g')))) AS fp
      |  FROM base),
      |dedup AS (
      |  SELECT * FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM fps)
      |  WHERE doc_id = keep_id),
      |tk2 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(t2), '\s+'),
      |      x -> length(x) > 0) AS toks
      |  FROM base),
      |gr AS (
      |  SELECT doc_id,
      |    list_distinct([md5(list_aggregate(toks[i:i+2], 'string_agg', ' '))
      |      for i in generate_series(1, length(toks) - 2)]) AS grams
      |  FROM tk2),
      |benchg AS (SELECT DISTINCT unnest(grams) AS gr FROM gr WHERE doc_id % 97 = 0),
      |flags AS (
      |  SELECT DISTINCT d.doc_id FROM (
      |    SELECT doc_id, unnest(grams) AS gr FROM gr WHERE doc_id % 97 <> 0) d
      |  JOIN benchg b ON d.gr = b.gr),
      |train AS (
      |  SELECT * FROM dedup
      |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flags)),
      |q AS (
      |  SELECT doc_id, lang, source, fp, round(
      |    0.25 * (CASE WHEN length(t2) BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END)
      |    + 0.25 * (CASE WHEN CAST(length(t2) - length(regexp_replace(t2, '[[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(t2), 1) < 0.1 THEN 1.0 ELSE 0.0 END)
      |    + 0.25 * (CASE WHEN CAST(length(t2) - length(regexp_replace(t2, '[0-9]', '', 'g')) AS DOUBLE) / greatest(length(t2), 1) < 0.3 THEN 1.0 ELSE 0.0 END)
      |    + 0.25 * least(CAST(length(list_distinct(list_filter(regexp_split_to_array(trim(t2), '\s+'), x -> length(x) > 0))) AS DOUBLE)
      |        / greatest(length(list_filter(regexp_split_to_array(trim(t2), '\s+'), x -> length(x) > 0)), 1) * 2.0, 1.0)
      |  , 6) AS quality
      |  FROM train),
      |counts AS (SELECT lang, count(*) AS cnt FROM q GROUP BY 1),
      |keeps AS (SELECT lang, (cnt * 3 + 3) // 4 AS keep FROM counts),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
      |  FROM q)
      |SELECT r.doc_id, r.lang, r.source, r.quality, CASE
      |    WHEN substring(md5(r.fp), 1, 8) < 'cccccccc' THEN 'train'
      |    WHEN substring(md5(r.fp), 1, 8) < 'e6666666' THEN 'val'
      |    ELSE 'test' END AS split
      |FROM ranked r JOIN keeps k USING (lang)
      |WHERE r.rk <= k.keep
      |ORDER BY r.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q36_catalog_pipeline", q36, Some(q36Sql), headline = true),
    Q("q57_curation_pipeline", q57, Some(q57Sql), headline = true))
}
