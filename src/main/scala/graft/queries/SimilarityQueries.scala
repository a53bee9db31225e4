package graft.queries

import graft.Tables
import graft.operators.{GroupSimilarity, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity over the embeddings table: exact brute-force
  * cosine top-k (the baseline), LSH-bucketed approximate variant (the
  * scale path), centroids, and k-NN classification. Exact variants
  * carry DuckDB oracles (scores computed in DOUBLE and rounded to 4
  * decimals on both engines); the LSH variant is rows-only and is
  * validated against the exact baseline in scalatest (recall bound).
  */
object SimilarityQueries {

  // Anchors are the 20 smallest vec_ids — a FIXED-size deterministic
  // sample (ids are dense from 0): the broadcast side of the exact
  // baseline stays 20 rows at every SF, keeping the brute-force scan
  // O(k·N). (Round 1's vec_id % 25 grew the anchor set — and the
  // BroadcastNestedLoopJoin work — quadratically with the corpus.)
  private def anchors(df: DataFrame): DataFrame =
    df.filter(col("vec_id") < 20)

  private def q20(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    SimilaritySearch.cosineTopK(emb, anchors(emb), k = 10)
      .orderBy(col("anchor_id"), col("rank"))
  }

  private val q20Sql =
    """SELECT anchor_id, rank, neighbor_id, score FROM (
      |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS score,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rank
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id)
      |WHERE rank <= 10 ORDER BY anchor_id, rank""".stripMargin

  private def q21(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(Num.dec9(col("v"))).cast("double")
        / count(lit(1)), 6).as("centroid_v"))
      .orderBy(col("label"), col("pos"))

  private val q21Sql =
    """SELECT label, pos, round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS centroid_v
      |FROM (SELECT label, unnest(embedding) AS v,
      |        generate_subscripts(embedding, 1) - 1 AS pos
      |      FROM embeddings)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  private def q22(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    SimilaritySearch.knnClassify(emb, anchors(emb), k = 10)
      .orderBy(col("anchor_id"))
  }

  private val q22Sql =
    """WITH topk AS (
      |  SELECT anchor_id, neighbor_id FROM (
      |    SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rank
      |    FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id)
      |  WHERE rank <= 10)
      |SELECT anchor_id, n_label AS predicted_label, votes FROM (
      |  SELECT t.anchor_id, e.label AS n_label, count(*) AS votes,
      |    row_number() OVER (PARTITION BY t.anchor_id
      |      ORDER BY count(*) DESC, e.label) AS rn
      |  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
      |  GROUP BY t.anchor_id, e.label)
      |WHERE rn = 1 ORDER BY anchor_id""".stripMargin

  private def q23(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    SimilaritySearch.lshCosineTopK(emb, col("id") < 20, k = 10,
        numPlanes = 8, numTables = 4)
      .orderBy(col("anchor_id"), col("rank"))
  }

  // Embedding-cosine near-dup pairs (the dedup family's embedding
  // flavor): fixed 20-anchor sample, threshold on rounded cosine.
  // The synthetic embeddings are near-orthogonal (max pair cosine
  // ≈0.49 at sf0.01), so the threshold sits where real pairs exist.
  private def q32(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.cosinePairs(Tables(s, dir).embeddings,
        col("vec_id") < 20, threshold = 0.35)
      .orderBy(col("anchor_id"), col("neighbor_id"))

  private val q32Sql =
    """SELECT anchor_id, neighbor_id, score FROM (
      |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS score
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id < b.vec_id)
      |WHERE score >= 0.35 ORDER BY anchor_id, neighbor_id""".stripMargin

  // A11: the reference's three group-similarity flavors over label
  // groups (fixed γ=20 so the oracle is closed-form; the
  // median-heuristic calibration is spec-verified separately).
  // Members capped at the first 64 vec_ids per label; all label pairs
  // scored (10 labels → 45 pairs — recall pruning is exercised by the
  // similarGroups path in scalatest).
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val capped = GroupSimilarity.cappedMembers(
      emb, "label", "vec_id", "embedding", pad = 64)
    val labels = emb.select(col("label")).distinct()
    val pairs = labels.select(col("label").as("a_gid"))
      .join(labels.select(col("label").as("b_gid")), col("a_gid") < col("b_gid"))
    GroupSimilarity.scores(capped, pairs, gamma = 20.0, dupThresh = 0.9985)
      .select(col("a_gid").as("a_label"), col("b_gid").as("b_label"),
        col("score_style"), col("score_raw"), col("score_kde"))
      .orderBy(col("a_label"), col("b_label"))
  }

  private val q31Sql =
    """WITH m0 AS (
      |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      |  FROM embeddings),
      |m AS (SELECT label, rn AS mi, v FROM m0 WHERE rn <= 64),
      |pr AS (SELECT a.label AS la, b.label AS lb
      |       FROM (SELECT DISTINCT label FROM m) a
      |       JOIN (SELECT DISTINCT label FROM m) b ON a.label < b.label),
      |cp AS (SELECT p.la, p.lb, x.mi AS ai, y.mi AS bi,
      |         round(list_cosine_similarity(x.v, y.v), 4) AS c
      |       FROM pr p JOIN m x ON x.label = p.la JOIN m y ON y.label = p.lb),
      |ks AS (SELECT la, lb,
      |         CAST(sum(CAST(round(exp(20.0*(c-1.0)),6) AS DECIMAL(38,12))) AS DOUBLE) AS ksum,
      |         count(*) AS nm
      |       FROM cp GROUP BY 1,2),
      |pa AS (SELECT la, lb, ai, max(c) AS best,
      |         coalesce(max(CASE WHEN c < 0.9985 THEN c END), 0.0) AS best_style
      |       FROM cp GROUP BY 1,2,3),
      |sa AS (SELECT la, lb,
      |         CAST(sum(CAST(best AS DECIMAL(28,10))) AS DOUBLE) AS sum_a,
      |         CAST(sum(CAST(best_style AS DECIMAL(28,10))) AS DOUBLE) AS sum_a_style,
      |         count(*) AS na
      |       FROM pa GROUP BY 1,2),
      |pb AS (SELECT la, lb, bi, max(c) AS best,
      |         coalesce(max(CASE WHEN c < 0.9985 THEN c END), 0.0) AS best_style
      |       FROM cp GROUP BY 1,2,3),
      |sb AS (SELECT la, lb,
      |         CAST(sum(CAST(best AS DECIMAL(28,10))) AS DOUBLE) AS sum_b,
      |         CAST(sum(CAST(best_style AS DECIMAL(28,10))) AS DOUBLE) AS sum_b_style,
      |         count(*) AS nb
      |       FROM pb GROUP BY 1,2),
      |sm AS (SELECT x.label AS l,
      |         CAST(sum(CAST(round(exp(20.0*(round(list_cosine_similarity(x.v,y.v),4)-1.0)),6) AS DECIMAL(38,12))) AS DOUBLE)
      |           / count(*) AS kmass
      |       FROM m x JOIN m y ON x.label = y.label GROUP BY 1)
      |SELECT ks.la AS a_label, ks.lb AS b_label,
      |  round(0.5*(sa.sum_a_style/sa.na + sb.sum_b_style/sb.nb), 6) AS score_style,
      |  round(0.5*(sa.sum_a/sa.na + sb.sum_b/sb.nb), 6) AS score_raw,
      |  round((ks.ksum/ks.nm) / sqrt(ma.kmass * mb.kmass), 6) AS score_kde
      |FROM ks
      |JOIN sa ON sa.la = ks.la AND sa.lb = ks.lb
      |JOIN sb ON sb.la = ks.la AND sb.lb = ks.lb
      |JOIN sm ma ON ma.l = ks.la
      |JOIN sm mb ON mb.l = ks.lb
      |ORDER BY a_label, b_label""".stripMargin

  /** ALL-pairs embedding near-dup via RHP banding — the corpus-scale
    * twin of q32's anchored baseline (same plan family as q18/q19 for
    * the embedding modality). Rows-only: the LSH candidate set is not
    * SQL-expressible; SimilaritySpec pins precision (⊆ brute force)
    * and planted-duplicate recall instead. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.cosineNearDupPairs(Tables(s, dir).embeddings,
        threshold = 0.35, numPlanes = 8, numTables = 6)
      .orderBy(col("a_id"), col("b_id"))

  // IVF-PQ TRAINING (trainIvfPqArtifacts) is deliberately NOT inside
  // any gate query: ~9 of its seconds are k-means codebook/cell
  // fitting — an offline artifact-building step a deployment runs once
  // and reuses, which a per-query bench line would misrepresent as
  // query cost. The QUERY path gates as q73 below against a COMMITTED
  // fixture codebook (tools.TrainIvfPqFixture provenance); training
  // stays spec-covered (SimilaritySpec: nprobe=nlist ≡ whole-corpus
  // PQ, measured recall floor vs exact).

  /** IVF-PQ deployment-path gate (q73): ADC scoring with a
    * PRE-TRAINED fixture codebook + coarse quantizer — rows-only (the
    * candidate geometry is not SQL-expressible; SimilaritySpec pins a
    * recall floor vs exact search and exact-k output shape). Fully
    * deterministic: every number derives from the committed artifact
    * file and double arithmetic, no in-query RNG or k-means. */
  private def q73(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.ivfPqTopKScore(Tables(s, dir).embeddings,
        col("id") % 50 === 0, k = 5,
        SimilaritySearch.loadFixtureArtifacts(), nprobe = 8, rerank = 64)
      .orderBy(col("anchor_id"), col("rank"))

  /** SQ8 round-trip accuracy audit (q66) under a FULL DuckDB oracle:
    * per-vector int8 affine quantization, decode, and the
    * max-abs-error / MSE audit a deployment runs before flipping an
    * index to quantized storage. All arithmetic elementwise double
    * with floor(t + 0.5) codes (no engine round-half variance);
    * error terms rounded then decimal-summed (the q31 discipline).
    */
  private def q66(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantization.sq8ErrorStats(
        Tables(s, dir).embeddings, "vec_id", "embedding")
      .orderBy(col("id"))

  private val q66Sql =
    """WITH v AS (
      |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS xs
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id, xs, list_min(xs) AS qmin,
      |    CASE WHEN list_max(xs) > list_min(xs)
      |      THEN (list_max(xs) - list_min(xs)) / 255.0 ELSE 1.0 END AS qscale
      |  FROM v),
      |e AS (
      |  SELECT vec_id,
      |    unnest([abs(x - (qmin + floor((x - qmin) / qscale + 0.5) * qscale))
      |            for x in xs]) AS err
      |  FROM b)
      |SELECT vec_id AS id, count(*) AS n_dims,
      |  max(round(err, 9)) AS max_abs_err,
      |  CAST(sum(CAST(round(err * err, 12) AS DECIMAL(38,12))) AS DOUBLE)
      |    / count(*) AS mse
      |FROM e GROUP BY vec_id ORDER BY id""".stripMargin

  /** RHP cosine near-dup under a FULL DuckDB oracle (q71) — the
    * q69/q70 companion completing the LSH trilogy: md5-derived
    * centered hyperplanes, rounded-product DECIMAL dot sums (sign
    * bits cannot flip across engines or partitionings), integer
    * buckets, and the same decimal discipline in the verify cosine.
    * q42's native fused-signature path stays the scale default.
    */
  private def q71(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.cosineNearDupPairsPortable(Tables(s, dir).embeddings,
        threshold = 0.35, numPlanes = 8, numTables = 4)
      .orderBy(col("a_id"), col("b_id"))

  private val q71Sql =
    """WITH v AS (
      |  SELECT vec_id AS id, [CAST(x AS DOUBLE) for x in embedding] AS xs
      |  FROM embeddings),
      |dims AS (
      |  SELECT id, generate_subscripts(xs, 1) - 1 AS d, unnest(xs) AS x
      |  FROM v),
      |pl AS (SELECT t, p FROM generate_series(0, 3) AS gt(t),
      |  generate_series(0, 7) AS gp(p)),
      |terms AS (
      |  SELECT m.id, pl.t, pl.p,
      |    CAST(round(m.x * (CAST(
      |      CAST(('0x' || substring(md5(pl.t || ':' || pl.p || ':' || m.d),
      |        1, 15)) AS BIGINT) - (CAST(1 AS BIGINT) << 59) AS DOUBLE)
      |      / 576460752303423488.0), 12)
      |      AS DECIMAL(18,12)) AS term
      |  FROM dims m, pl),
      |sums AS (
      |  SELECT id, t, p, sum(term) AS s FROM terms GROUP BY 1, 2, 3),
      |buckets AS (
      |  SELECT id, t,
      |    CAST(sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM sums GROUP BY 1, 2),
      |sized AS (
      |  SELECT id, t, bucket FROM buckets
      |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000),
      |cands AS (
      |  SELECT DISTINCT x.id AS a_id, y.id AS b_id
      |  FROM sized x JOIN sized y
      |    ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id),
      |norms AS (
      |  SELECT id, CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
      |    AS DOUBLE) AS n2
      |  FROM dims GROUP BY id),
      |dots AS (
      |  SELECT c.a_id, c.b_id,
      |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
      |      AS DOUBLE) AS dot
      |  FROM cands c
      |  JOIN dims da ON da.id = c.a_id
      |  JOIN dims db ON db.id = c.b_id AND db.d = da.d
      |  GROUP BY 1, 2)
      |SELECT d.a_id, d.b_id,
      |  round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
      |FROM dots d
      |JOIN norms na ON na.id = d.a_id
      |JOIN norms nb ON nb.id = d.b_id
      |WHERE round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  /** Portable LSH top-k under a FULL DuckDB oracle (q74) — the
    * anchored sibling of q71 and the oracle twin of q23: the native
    * xxhash64-plane top-k can only ever be rows-only, so this md5-60
    * variant re-derives candidate generation, the bucket cull, AND
    * the ranked decimal cosines value-for-value in SQL. With it,
    * every similarity path (pairs AND top-k, exact AND banded) has a
    * hash-verified twin; the unverified ingredient in the native path
    * is the hash family alone.
    */
  private def q74(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.lshCosineTopKPortable(Tables(s, dir).embeddings,
        col("id") < 20, k = 10, numPlanes = 8, numTables = 4)
      .orderBy(col("anchor_id"), col("rank"))

  /** Shared oracle text for the portable LSH recall tier + exact
    * rerank: q74 is the un-budgeted statement (budget = None), q95
    * inserts the budget CTE — per-anchor first-`budget` candidates by
    * neighbor id — between candidates and scoring. The Scala sides
    * share one scoring site ([[graft.operators.SimilaritySearch
    * .rerankTopKExact]]), the SQL sides this one generator. */
  private def lshTopKOracleSql(k: Int, budget: Option[Int]): String = {
    val budCte = budget.map(b =>
      s"""bud AS (
         |  SELECT anchor_id, neighbor_id FROM (
         |    SELECT anchor_id, neighbor_id, row_number() OVER (
         |      PARTITION BY anchor_id ORDER BY neighbor_id) AS rn
         |    FROM cands) WHERE rn <= $b),
         |""".stripMargin).getOrElse("")
    val candRel = if (budget.isDefined) "bud" else "cands"
    s"""WITH v AS (
       |  SELECT vec_id AS id, [CAST(x AS DOUBLE) for x in embedding] AS xs
       |  FROM embeddings),
       |dims AS (
       |  SELECT id, generate_subscripts(xs, 1) - 1 AS d, unnest(xs) AS x
       |  FROM v),
       |pl AS (SELECT t, p FROM generate_series(0, 3) AS gt(t),
       |  generate_series(0, 7) AS gp(p)),
       |terms AS (
       |  SELECT m.id, pl.t, pl.p,
       |    CAST(round(m.x * (CAST(
       |      CAST(('0x' || substring(md5(pl.t || ':' || pl.p || ':' || m.d),
       |        1, 15)) AS BIGINT) - (CAST(1 AS BIGINT) << 59) AS DOUBLE)
       |      / 576460752303423488.0), 12)
       |      AS DECIMAL(18,12)) AS term
       |  FROM dims m, pl),
       |sums AS (
       |  SELECT id, t, p, sum(term) AS s FROM terms GROUP BY 1, 2, 3),
       |buckets AS (
       |  SELECT id, t,
       |    CAST(sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM sums GROUP BY 1, 2),
       |sized AS (
       |  SELECT id, t, bucket FROM buckets
       |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000),
       |cands AS (
       |  SELECT DISTINCT a.id AS anchor_id, y.id AS neighbor_id
       |  FROM sized a JOIN sized y
       |    ON a.t = y.t AND a.bucket = y.bucket AND a.id <> y.id
       |  WHERE a.id < 20),
       |${budCte}norms AS (
       |  SELECT id, CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS n2
       |  FROM dims GROUP BY id),
       |dots AS (
       |  SELECT c.anchor_id, c.neighbor_id,
       |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM $candRel c
       |  JOIN dims da ON da.id = c.anchor_id
       |  JOIN dims db ON db.id = c.neighbor_id AND db.d = da.d
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.anchor_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
       |  FROM dots d
       |  JOIN norms na ON na.id = d.anchor_id
       |  JOIN norms nb ON nb.id = d.neighbor_id)
       |SELECT anchor_id, rank, neighbor_id, score FROM (
       |  SELECT anchor_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY anchor_id, rank""".stripMargin
  }

  private val q74Sql = lshTopKOracleSql(k = 10, budget = None)

  /** q95: the recall → rerank tiering as TWO composable operators
    * under ONE oracle — the portable LSH candidate tier
    * ([[graft.operators.SimilaritySearch.lshCandidatesPortable]])
    * feeding the budgeted exact rerank ([[graft.operators
    * .SimilaritySearch.rerankTopKExact]], budget = 8): the oracle
    * re-derives the banding, the cull, the candidate set, the
    * per-anchor id-ordered budget take AND the exact decimal-cosine
    * ranking — the q74 statement with the budget tier inserted, from
    * the same generator. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    graft.operators.SimilaritySearch.rerankTopKExact(
        graft.operators.SimilaritySearch.lshCandidatesPortable(
          emb, col("id") < 20, numPlanes = 8, numTables = 4),
        emb, k = 5, budget = 8)
      .orderBy(col("anchor_id"), col("rank"))
  }

  private val q95Sql = lshTopKOracleSql(k = 5, budget = Some(8))

  /** End-to-end PORTABLE IVF-PQ under a FULL oracle (q85) — the q73
    * sibling with zero fixtures: coarse Lloyd training, residual
    * per-subspace codebook training, PQ encoding, nprobe routing,
    * reconstruction-ADC, rerank and exact top-k all re-derive in one
    * generated DuckDB statement (graft.operators.IvfPqPortable).
    * With it every ANN tier (exact q20, LSH q23/q74, IVF-PQ q73/q85)
    * has an oracle-verified path; the unverified ingredients of the
    * native q73 are Spark ML's k-means|| trainer and float ADC sums
    * alone. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q85")
    graft.operators.IvfPqPortable.topK(emb,
        col("id") < 20, k = 5, nlist = 8, coarseIters = 2, m = 4,
        ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** The embedding width the q85 oracle text is unrolled for — the
    * single shared constant between the Spark-side guard and the
    * generated SQL. */
  private val Q85Dim = 64

  /** `emb` with each embedding checked against [[Q85Dim]]. The oracle
    * text unrolls the subspace slices for that width before it sees
    * data, while the Spark side infers dim, so data of another width
    * would gate against a mismatched oracle. A null passes through; a
    * row of another width fails the first job that reads it, naming
    * `query`. The check launches no job of its own: the entry point's
    * width probe is the first reader. */
  private def q85Dim(emb: DataFrame, query: String): DataFrame = {
    val v = col("embedding")
    emb.withColumn("embedding", when(v.isNull || size(v) === Q85Dim, v)
      .otherwise(raise_error(concat(
        lit(s"$query oracle is generated for dim=$Q85Dim; data has "),
        size(v).cast("string"))).cast(emb.schema("embedding").dataType)))
  }

  private val q85Sql = graft.operators.IvfPqPortable.oracleSql(
    "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
    coarseIters = 2, m = 4, ksub = 8, subIters = 2, nprobe = 2,
    rerank = 16, dim = Q85Dim, anchorPredSql = "id < 20")

  /** End-to-end TWO-LEVEL IVF-PQ under a FULL oracle (q93) — the q85
    * statement for the hierarchical coarse quantizer (VERDICT r10
    * item 1: the ANN family was the last flat-only site of the
    * structure the 100× measurement picked, SCALE.md round 10). The
    * oracle re-derives the ENTIRE chain from the parquet bytes: super
    * Lloyd, routing, the largest-remainder child allocation replay,
    * per-super child Lloyd, the super-restricted corpus assignment,
    * residual codebook training per subspace, PQ encode,
    * reconstruction, the routed-super nprobe probe (the same
    * dot/norm relations as the assignment at rn ≤ nprobe), ADC,
    * shortlist and the exact top-k. Gate parameters match q85 except
    * the structure, so the two chains are each verified independently
    * (cells differ by construction — the IVF routing approximation).
    */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q93")
    graft.operators.IvfPqPortable.topKTwoLevel(emb,
        col("id") < 20, k = 5, nlist = 8, coarseIters = 2, m = 4,
        ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
      .orderBy(col("anchor_id"), col("rank"))
  }

  private val q93Sql = graft.operators.IvfPqPortable.oracleSqlTwoLevel(
    "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
    coarseIters = 2, m = 4, ksub = 8, subIters = 2, nprobe = 2,
    rerank = 16, dim = Q85Dim, anchorPredSql = "id < 20")

  /** MULTI-SUPER two-level IVF-PQ under a FULL oracle (q97, round 12
    * — VERDICT r11 item 2 demonstrated end-to-end): the q93 chain
    * with the anchor probe widened to the top-2 supers' children
    * ([[graft.operators.KMeansPortable.probeChildrenMulti]] — the
    * recall knob one-super routing lacks; boundary anchors' true
    * neighbors often live under the runner-up super). Everything
    * upstream of the probe (training, allocation, assignment,
    * codebooks, encode) is byte-identical to q93; the oracle's only
    * change is reading the widened `dotp` union-probe relation at
    * rn ≤ nprobe — the structural image of the operator change.
    * probeSupers = 1 ≡ q93 and = S ≡ the flat probe are spec-pinned
    * (IvfPqPortableSpec); the measured recall gain is SCALE.md
    * round 12's table.
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q97")
    graft.operators.IvfPqPortable.topKTwoLevel(emb,
        col("id") < 20, k = 5, nlist = 8, coarseIters = 2, m = 4,
        ksub = 8, subIters = 2, nprobe = 2, rerank = 16,
        probeSupers = 2)
      .orderBy(col("anchor_id"), col("rank"))
  }

  private val q97Sql = graft.operators.IvfPqPortable.oracleSqlTwoLevel(
    "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
    coarseIters = 2, m = 4, ksub = 8, subIters = 2, nprobe = 2,
    rerank = 16, dim = Q85Dim, anchorPredSql = "id < 20",
    probeSupers = 2)

  /** ANN index ADMISSION under a FULL oracle (q98, round 12 — VERDICT
    * r11 item 5 carried all the way to the gate): the q93 chain with
    * EVERY trained artifact (supers, allocation, children, codebooks)
    * derived from the CORPUS rows alone (`id % 10 < 8` — an
    * SF-independent 80% slice) and the index — routing, child
    * assignment, PQ codes — covering corpus ∪ batch against that
    * fixed state. Under fixed quantizers encode is a pure per-row
    * function, so this IS build-once/admit-the-batch/query, and the
    * oracle re-derives the train/apply split from the parquet bytes:
    * the training CTE chain reads the `trn` slice, a second shaped
    * vector domain ([[graft.operators.KMeansPortable.baseCtes]], `a`
    * prefix) carries the full relation through routing, the
    * childless-super fallback, encoding and the probe. Anchors
    * `id < 12` include batch-side rows (8, 9 — admitted vectors
    * querying the admitted index). trainPred ≡ all ≡ q93 is
    * spec-pinned (IvfPqPortableSpec).
    */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q98")
    graft.operators.IvfPqPortable.topKTwoLevelAdmit(emb,
        trainPred = col("id") % 10 < 8, anchorPred = col("id") < 12,
        k = 5, nlist = 8, coarseIters = 2, m = 4,
        ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
      .orderBy(col("anchor_id"), col("rank"))
  }

  private val q98Sql = graft.operators.IvfPqPortable.oracleSqlTwoLevelAdmit(
    "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
    coarseIters = 2, m = 4, ksub = 8, subIters = 2, nprobe = 2,
    rerank = 16, dim = Q85Dim, anchorPredSql = "id < 12",
    trainPredSql = "vec_id % 10 < 8")

  /** RECALL-WALK sizing under a FULL oracle (q102, round 13 — VERDICT
    * r12 item 1 carried to the gate): the q93 chain trained/encoded
    * once, then probed at every rung of the deterministic
    * [[graft.operators.SimilaritySearch.recallLadder]] — (1,2) the
    * pool-rule start, p doubling to S = 3, then nprobe doubling to
    * nlist at p = S — measuring each rung's mean recall@5 against the
    * exact decimal-cosine ground truth and stopping at the first rung
    * ≥ the floor. The oracle re-derives the ENTIRE walk from the
    * parquet bytes: training, encode, every rung's probe/ADC/rerank,
    * the per-anchor recall aggregation AND the early stop, so the
    * sizing decision itself (which rung is `chosen`, and that the
    * rungs past it were never evaluated) is value-verified. The
    * 0.3 floor sits inside the tier's GATE-SCALE operating band
    * (m = 4/ksub = 8 PQ on a near-uniform 500-row corpus measures
    * 0.24–0.33 across the ladder) so the early stop actually fires
    * mid-ladder; production floors are a caller parameter of the
    * sizing operators, and the 0.8-at-deployment-shape row is
    * SCALE.md round 13's. The sizing operator the native doors call
    * ([[graft.operators.SimilaritySearch.sizeTwoLevelForRecall]])
    * walks the same ladder; its floor-hit semantics are spec-pinned
    * in AnnRecallSpec against this machinery.
    */
  private val Q102Ladder = graft.operators.SimilaritySearch
    .recallLadder(nlist = 8,
      supers = graft.operators.KMeansPortable.defaultSupers(8),
      nprobe0 = 2)
  private val Q102Floor = 0.3

  private def q102(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q102")
    graft.operators.IvfPqPortable.topKTwoLevelWalk(emb,
      col("id") < 20, k = 5, nlist = 8, coarseIters = 2, m = 4,
      ksub = 8, subIters = 2, rerank = 16,
      ladder = Q102Ladder, floor = Q102Floor)
  }

  private val q102Sql = graft.operators.IvfPqPortable
    .oracleSqlTwoLevelWalk(
      "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
      coarseIters = 2, m = 4, ksub = 8, subIters = 2, rerank = 16,
      dim = Q85Dim, anchorPredSql = "id < 20",
      ladder = Q102Ladder, floor = Q102Floor)

  /** RELATIONAL-TIER coarse IVF under a FULL oracle (q104, round 15 —
    * VERDICT r14 item 1a): the round-14 children-as-a-relation
    * training loop ([[graft.operators.KMeansPortable
    * .trainTwoLevelRelationalFromBase]] — the
    * [[graft.operators.SimilaritySearch.trainThreeLevel]] structure
    * under portable decimal arithmetic), the relational equi-join
    * corpus assignment, the child-store probe and the exact rerank,
    * all re-derived from the parquet bytes by the EXISTING
    * two-level training oracle text plus a probe/rerank tail
    * ([[graft.operators.IvfPqPortable.oracleSqlCoarseRelational]]).
    * This is the tier [[graft.operators.SimilaritySearch
    * .ivfCosineTopKAuto]] dispatches to past `relationalPastNlist`
    * (the clamp); the native door's dispatch parity at gate scale is
    * spec-pinned (AnnRecallSpec), and this gate hash-verifies the
    * relational train/assign/serve chain itself. Coarse params match
    * q93's (nlist = 8, iters = 2); nprobe = 2 of 8 cells keeps the
    * probe a real approximation. */
  private def q104(s: SparkSession, dir: String): DataFrame =
    graft.operators.IvfPqPortable.topKCoarseRelational(
        Tables(s, dir).embeddings, col("id") < 20, k = 5, nlist = 8,
        iters = 2, nprobe = 2)
      .orderBy(col("anchor_id"), col("rank"))

  private val q104Sql = graft.operators.IvfPqPortable
    .oracleSqlCoarseRelational("embeddings", "vec_id", "embedding",
      k = 5, nlist = 8, iters = 2, nprobe = 2,
      anchorPredSql = "id < 20")

  /** FULL-CHAIN PQ recall walk under a FULL oracle (q105, round 15 —
    * VERDICT r14 item 1b): q102's sizing walk climbed on
    * [[graft.operators.SimilaritySearch.pqRecallLadder]]'s THREE
    * knobs — super pool, then nprobe AND rerank in lockstep, then the
    * rerank-only tail — so every rung measures the chain a PQ
    * deployment serves (coarse probe + ADC + rerank; the ADVICE-r13
    * finding was precisely that walking nprobe at frozen rerank reads
    * a ceiling, not the tier's recall). The oracle re-derives the
    * walk per rung — each rung's probe/ADC/rerank at ITS OWN rerank
    * width — plus the recall aggregation and the early stop. The
    * 0.35 floor sits inside the gate-scale operating band with ≥0.02
    * margin from every measured rung at every SF (the q102 knife-edge
    * discipline), so the stop fires mid-ladder and the stop rule is
    * value-exercised; deployment floors are caller parameters of
    * [[graft.operators.SimilaritySearch.sizeIvfPqForRecall]], whose
    * ladder this gate pins. */
  private val Q105Ladder = graft.operators.SimilaritySearch
    .pqRecallLadder(nlist = 8,
      supers = graft.operators.KMeansPortable.defaultSupers(8),
      nprobe0 = 2, rerank0 = 4, maxRerank = 64)
  private val Q105Floor = 0.35

  private def q105(s: SparkSession, dir: String): DataFrame = {
    val emb = q85Dim(Tables(s, dir).embeddings, "q105")
    graft.operators.IvfPqPortable.topKTwoLevelWalkPq(emb,
      col("id") < 20, k = 5, nlist = 8, coarseIters = 2, m = 4,
      ksub = 8, subIters = 2, ladder = Q105Ladder, floor = Q105Floor)
  }

  private val q105Sql = graft.operators.IvfPqPortable
    .oracleSqlTwoLevelWalkPq(
      "embeddings", "vec_id", "embedding", k = 5, nlist = 8,
      coarseIters = 2, m = 4, ksub = 8, subIters = 2, dim = Q85Dim,
      anchorPredSql = "id < 20", ladder = Q105Ladder,
      floor = Q105Floor)

  val all: Seq[Q] = Seq(
    Q("q20_cosine_topk", q20, Some(q20Sql), headline = true),
    Q("q102_ann_recall_walk_oracle", q102, Some(q102Sql)),
    Q("q104_relational_coarse_oracle", q104, Some(q104Sql)),
    Q("q105_pq_fullchain_walk_oracle", q105, Some(q105Sql)),
    Q("q21_label_centroids", q21, Some(q21Sql)),
    Q("q22_knn_classify", q22, Some(q22Sql)),
    Q("q23_lsh_cosine_topk", q23, None, headline = true),
    Q("q74_lsh_topk_oracle", q74, Some(q74Sql)),
    Q("q95_budgeted_rerank_oracle", q95, Some(q95Sql)),
    Q("q85_ivfpq_e2e_oracle", q85, Some(q85Sql), headline = true),
    Q("q93_ivfpq_twolevel_oracle", q93, Some(q93Sql)),
    Q("q97_ivfpq_multiprobe_oracle", q97, Some(q97Sql)),
    Q("q98_ivfpq_admission_oracle", q98, Some(q98Sql)),
    Q("q31_group_scores", q31, Some(q31Sql), headline = true),
    Q("q32_cosine_pairs", q32, Some(q32Sql)),
    Q("q42_cosine_near_dup", q42, None),
    Q("q66_sq8_quantization", q66, Some(q66Sql)),
    Q("q71_rhp_lsh_oracle", q71, Some(q71Sql), headline = true),
    Q("q73_ivfpq_fixture", q73, None))
}
