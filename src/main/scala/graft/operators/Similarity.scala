package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.util.{Cols, Tables}

/** Embedding similarity search (SURVEY.md §2.C) over `embeddings`
  * (64-dim float vectors), built as candidates → one rerank → one
  * codebook trainer:
  *
  *  1. CANDIDATE GENERATORS produce slim (query, id) pairs: the
  *     brute-force cross join (the correctness baseline, O(Q·N)), SRP
  *     buckets ([[lshTopkOn]], multi-probe, and the multi-table
  *     [[srpTables]] explode behind multi-table LSH, range search,
  *     near-dup mining, hard negatives and the graph seeds), IVF cells,
  *     PQ-ADC and Hamming codes, graph beams, and NN-Descent's
  *     neighbor-of-neighbor proposals ([[proposals]]).
  *  2. One EXACT RERANK scores the survivors by the FloatVecDot cosine
  *     and keeps each partition's top k under the one rank policy
  *     ([[topK]]: `row_number` over (score, then id ascending), ≤ k).
  *     The NN-Descent build and its insert/delete maintenance share one
  *     dedup-and-rank pass, [[scoreTopK]], and one bounded repair loop.
  *  3. One fixed-point LLOYD TRAINER ([[Lloyd]]) learns every codebook:
  *     k-means and RQ over cell key `d`, PQ/OPQ/PQ-ADC/IVF-PQ over
  *     `(sub, d)`.
  *
  * Numeric portability: every dot product is an explicit left fold in
  * DOUBLE over index order — the same IEEE operation sequence in Spark
  * (`aggregate`/`zip_with`) and DuckDB (`list_reduce`/`list_transform`),
  * so cosine values are bit-identical and fully value-oracled; codebooks
  * are exact integer arithmetic.
  */
object Similarity {

  val P: Long = 2147483647L

  /** Sentinel for "derive the LSH bucket depth from the corpus size".
    * Operators taking a plane count accept this (their default) and
    * resolve it via [[planesFor]] on a cheap candidate-side count().
    */
  val AutoPlanes: Int = 0

  /** The MEASURED bucket-depth sizing rule: p = clamp(4..16,
    * ceil(log2(n / 250))) — size buckets to ~250 candidates each. A
    * table with p planes has 2^p buckets, so random-pair candidate
    * volume is ~N²/2^p; holding p fixed while N grows leaves the
    * candidate join, not the scoring, dominant (ScaleRehearsal
    * measured 210 s at the old fixed p=4 vs 10 s at the derived p=11
    * for 500 k vectors, recall 1.000 both ways). The cap at 16 planes
    * keeps bucket sketches in one long; past it, add tables instead
    * (recall is bought linearly by L, selectivity exponentially by p).
    */
  def planesFor(n: Long, targetPerBucket: Int = 250,
      minPlanes: Int = 4, maxPlanes: Int = 16): Int =
    math.min(maxPlanes, math.max(minPlanes,
      math.ceil(math.log(math.max(1L, n).toDouble / targetPerBucket)
        / math.log(2)).toInt))

  /** Resolves a caller plane count: [[AutoPlanes]] → [[planesFor]] the
    * candidate count (one columnar count() job — metadata-cheap on a
    * parquet scan, and the price of not shipping N²/2^p candidates
    * through the shuffle with a size-blind default).
    *
    * The count() is only cheap for scan-shaped inputs. A DERIVED
    * candidate frame (filters, joins, decodes upstream) re-executes its
    * whole plan once per AutoPlanes resolution — callers with such
    * inputs should cache()/localCheckpoint() the frame first, or pass
    * an explicit plane count and skip the probe entirely.
    */
  private def resolvePlanes(requested: Int, candidates: DataFrame): Int =
    if (requested == AutoPlanes) planesFor(candidates.count()) else requested

  /** Left-fold double dot product of two float-array columns (SQL text
    * shared with the oracle builder below).
    */
  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, v) -> acc + v)"

  /** Spark-side cosine: the codegen'd [[graft.functions.FloatVecDot]]
    * (same IEEE fold order as [[dotExpr]]/[[dotSql]], so the oracle is
    * unchanged) instead of the interpreted higher-order lambda.
    */
  private def cosExpr(a: String, b: String): Column = {
    val d = graft.functions.FloatVecDot.column(col(a), col(b))
    val na = graft.functions.FloatVecDot.column(col(a), col(a))
    val nb = graft.functions.FloatVecDot.column(col(b), col(b))
    d / sqrt(na * nb)
  }

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)})"

  /** Deterministic sign-random-projection bucket (nPlanes bits): plane
    * i's component for dimension d is ±1 from a polynomial PRNG — no
    * stored model, reproducible everywhere. Spark side is the codegen'd
    * [[graft.functions.SrpBucket]]; [[bucketSql]] is the same arithmetic
    * for the DuckDB oracle.
    */
  private def bucketCol(v: String, nPlanes: Int): Column =
    graft.functions.SrpBucket.column(col(v), nPlanes)

  /** The ±1 sign for PRNG index k: DOUBLE-squared congruential high bit
    * — square, reinject k, square again (see
    * [[graft.functions.SrpBucket]] for why both rounds are
    * load-bearing).
    */
  private def signSql(k: String): String = {
    val s = s"((1000003 * ($k) + 12289) % $P)"
    val m = s"((($s * $s) % $P + ($k)) % $P)"
    s"(CASE WHEN ($m * $m) % $P > 1073741823 " +
      s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
  }

  private def bucketSql(v: String, nPlanes: Int, stride: Int = 64): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, ${nPlanes - 1}), i -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($v)), d -> CAST($v[d] AS DOUBLE) * " +
      s"${signSql(s"i * $stride + d - 1")})), (a, b) -> a + b) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"

  /** Per-table bucket for multi-table LSH: table `t` (a SQL variable in
    * the oracle form) uses plane indices t·p .. t·p+p−1 of the same
    * PRNG stream ([[graft.functions.SrpBucket]] with offset t·p).
    */
  private def bucketTableSql(v: String, p: Int, t: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, ${p - 1}), i -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($v)), d -> CAST($v[d] AS DOUBLE) * " +
      s"${signSql(s"($t * $p + i) * 64 + d - 1")})), (a, b) -> a + b) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"

  /** The rank policy of every top-k here: `row_number` over `part`
    * ordered by `score` (pass `col(s).desc` for similarities, the bare
    * column for distances) then `id` ascending, as column `rk`, keeping
    * rk ≤ k — the oracle's `ORDER BY score, id` window.
    */
  private def topK(df: DataFrame, part: String, score: Column, id: String, k: Int,
      rk: String = "rk"): DataFrame =
    df.withColumn(rk, row_number().over(Window.partitionBy(col(part)).orderBy(score, col(id))))
      .filter(col(rk) <= k)

  /** The multi-table SRP bucket explode: `df`'s `keep` columns plus one
    * (t, b) row per table t, where table t buckets `vec` on planes
    * t·p .. t·p+p−1 of the [[graft.functions.SrpBucket]] stream (the
    * oracle's [[bucketTableSql]]).
    */
  private def srpTables(df: DataFrame, keep: Seq[String], vec: String, tables: Int,
      p: Int): DataFrame =
    df.withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          graft.functions.SrpBucket.column(col(vec), p, t * p).as("b"))): _*)))
      .select(keep.map(col) ++ Seq(col("tb.t").as("t"), col("tb.b").as("b")): _*)

  /** Exact cosine top-k join: for each row of `queries` (`q_id`, `qv`)
    * the k highest-cosine rows of `candidates` (`c_id`, `cv`).
    * The query set is broadcast; the candidate scan is a single
    * distributed pass — the correctness baseline (O(Q·N)); use
    * [[lshTopkOn]] when Q is large. Output: (q_id, c_id, cos_sim, rk).
    */
  def bruteforceTopkOn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    topK(candidates.crossJoin(broadcast(queries))
        .withColumn("cos", cosExpr("qv", "cv")), "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"),
        Cols.pround(col("cos"), 6).as("cos_sim"),
        col("rk"))
  }

  /** The testdata bindings' probe/candidate split of `embeddings` `e`:
    * the vectors with vec_id < 8 probe as (q_id, qv), the rest are the
    * candidates (c_id, cv).
    */
  private def probeSplit(e: DataFrame): (DataFrame, DataFrame) =
    (e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      e.filter(col("vec_id") >= 8).select(col("vec_id").as("c_id"), col("embedding").as("cv")))

  /** sim_bruteforce_topk testdata binding: queries = vec_id < 8,
    * candidates = the rest, k = 5.
    */
  def bruteforceTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    bruteforceTopkOn(q, c, 5)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def bruteforceTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |s AS (SELECT q_id, c_id, ${cosSql("qv", "cv")} AS cos FROM q CROSS JOIN c),
       |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** LSH-bucketed ANN top-k join: queries (`q_id`, `qv`) meet candidates
    * (`c_id`, `cv`) in a sign-random-projection bucket equi-join, then
    * per-query top-k by TRUE cosine — the scale path (O(N) shuffle keyed
    * by bucket instead of all-pairs). `broadcastQueries` for small probe
    * sets; otherwise both sides shuffle on the bucket.
    * Output: (q_id, c_id, bucket, cos_sim, rk).
    */
  def lshTopkOn(queries: DataFrame, candidates: DataFrame, k: Int,
      nPlanes: Int = AutoPlanes, broadcastQueries: Boolean = false,
      multiProbe: Boolean = false): DataFrame = {
    val p = resolvePlanes(nPlanes, candidates)
    val home = bucketCol("qv", p)
    // multi-probe: also search every neighbor bucket within hamming 2 —
    // queries replicate ×(1 + p + p(p−1)/2) (cheap, query side is
    // small; 37 probes for 8 planes); recall rises toward brute force
    // without touching the candidate side's O(N) bucket shuffle. Probe
    // buckets are pairwise distinct, so no candidate dedup is needed.
    val q0 =
      if (multiProbe) {
        val flips1 = (0 until p).map(i => home.bitwiseXOR(lit(1L << i)))
        val flips2 = for {
          i <- 0 until p
          j <- (i + 1) until p
        } yield home.bitwiseXOR(lit((1L << i) | (1L << j)))
        queries.withColumn("bucket", explode(array(home +: (flips1 ++ flips2): _*)))
      } else queries.withColumn("bucket", home)
    val q = if (broadcastQueries) broadcast(q0) else q0
    val c = candidates.withColumn("bucket", bucketCol("cv", p))
    topK(c.join(q, Seq("bucket")).withColumn("cos", cosExpr("qv", "cv")),
        "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), col("bucket"),
        Cols.pround(col("cos"), 6).as("cos_sim"),
        col("rk"))
  }

  /** sim_lsh_ann testdata binding: same probe/candidate split as
    * [[bruteforceTopk]], 8 planes, broadcast probes.
    */
  def lshAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    lshTopkOn(q, c, 5, nPlanes = 8, broadcastQueries = true)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def lshAnnSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, ${bucketSql("embedding", 8)} AS bucket
       |           FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, ${bucketSql("embedding", 8)} AS bucket
       |      FROM embeddings WHERE vec_id >= 8),
       |s AS (SELECT q_id, c_id, q.bucket, ${cosSql("qv", "cv")} AS cos
       |      FROM q JOIN c ON q.bucket = c.bucket),
       |r AS (SELECT q_id, c_id, bucket, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, bucket, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** sim_lsh_multiprobe — same probe/candidate split as [[lshAnn]] but
    * probing the home bucket plus every bucket within hamming 2 of it
    * (8 one-bit + 28 two-bit flips).
    */
  def lshMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    lshTopkOn(q, c, 5, nPlanes = 8, broadcastQueries = true, multiProbe = true)
      .select(col("q_id"), col("c_id"), col("cos_sim"), col("rk"))
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def lshMultiprobeSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, ${bucketSql("embedding", 8)} AS b0
       |           FROM embeddings WHERE vec_id < 8),
       |qp AS (SELECT q_id, qv, b0 AS bucket FROM q
       |       UNION ALL SELECT q_id, qv, xor(b0, CAST(1 AS BIGINT) << i) FROM q, generate_series(0, 7) AS g(i)
       |       UNION ALL SELECT q_id, qv, xor(b0, (CAST(1 AS BIGINT) << i) + (CAST(1 AS BIGINT) << j))
       |                 FROM q, generate_series(0, 7) AS gi(i), generate_series(0, 7) AS gj(j) WHERE j > i),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, ${bucketSql("embedding", 8)} AS bucket
       |      FROM embeddings WHERE vec_id >= 8),
       |s AS (SELECT q_id, c_id, ${cosSql("qv", "cv")} AS cos FROM qp JOIN c ON qp.bucket = c.bucket),
       |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Fixed centroid count for [[ivfAnn]] — a real IVF trains a CONSTANT
    * k (4096-ish) regardless of corpus size, so assignment is O(N·k)
    * with a constant-size driver broadcast. A centroid set that scales
    * with N (e.g. every 64th vector) makes assignment O(N²/64) and the
    * broadcast O(N) — the round-1 design flaw this constant fixes.
    */
  val IvfK = 128

  /** The IVF bindings' cell table: the [[IvfK]] lowest-LCG-hash vectors
    * of `e` as (cent_id, centv).
    */
  private def ivfCents(e: DataFrame): DataFrame =
    e.orderBy(expr(s"(vec_id * 1000003 + 12289) % $P"), col("vec_id")).limit(IvfK)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))

  /** Flat exact cell assignment of `vectors` (c_id, cv) against the
    * broadcast `cents` (cent_id, centv) as (c_id, cent_id): the argmax
    * aggregation [[ivfRefineOn]] describes.
    */
  private def nearestCell(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(cents))
      .withColumn("ccos", cosExpr("cv", "centv"))
      .groupBy(col("c_id"))
      .agg(max_by(col("cent_id"), struct(col("ccos"), (-col("cent_id")).as("nid"))).as("cent_id"))

  /** Multi-table LSH ANN top-k: L independent SRP hash tables (table t
    * = planes t·p .. t·p+p−1), candidates meet queries in ANY table's
    * bucket, per-query top-k by true cosine over the deduped union.
    * This is the standard recall lever a single hash table lacks: a
    * pair colliding in one table with probability q is found with
    * 1−(1−q)^L — at cosine 0.4 and (L=16, p=4) that's ~0.94 vs ~0.03
    * for one 8-plane table.
    *
    * Scale shape: both sides replicate ×L into the (table, bucket)
    * equi-join, but only SLIM (id, t, b) rows ride that shuffle —
    * vectors rejoin AFTER the candidate distinct. O(L·N) shuffled ids,
    * never an all-pairs product; L and p tune recall vs candidate
    * volume (p shrinks buckets exponentially, L buys recall linearly
    * in cost).
    */
  def multiTableTopkOn(queries: DataFrame, candidates: DataFrame, k: Int,
      tables: Int = 16, planesPerTable: Int = AutoPlanes,
      broadcastQueries: Boolean = false): DataFrame = {
    val p = resolvePlanes(planesPerTable, candidates)
    topK(multiTableScored(queries, candidates, tables, p, broadcastQueries),
        "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), Cols.pround(col("cos"), 6).as("cos_sim"), col("rk"))
  }

  /** The multi-table LSH candidate generator behind [[multiTableTopkOn]]
    * and [[rangeSearchOn]]: (q_id, c_id) pairs sharing ANY table's
    * bucket, deduped on the slim ids, then rejoined to both vectors
    * with their exact cosine `cos`.
    */
  private def multiTableScored(queries: DataFrame, candidates: DataFrame, tables: Int,
      p: Int, broadcastQueries: Boolean): DataFrame = {
    def q(df: DataFrame): DataFrame = if (broadcastQueries) broadcast(df) else df
    srpTables(candidates, Seq("c_id"), "cv", tables, p)
      .join(q(srpTables(queries, Seq("q_id"), "qv", tables, p)), Seq("t", "b"))
      .select(col("q_id"), col("c_id")).distinct()
      .join(q(queries), Seq("q_id"))
      .join(candidates, Seq("c_id"))
      .withColumn("cos", cosExpr("qv", "cv"))
  }

  /** sim_lsh_multitable testdata binding: same probe/candidate split as
    * [[lshAnn]], 16 tables × 4 planes, k = 5.
    */
  def lshMultitable(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    multiTableTopkOn(q, c, 5, planesPerTable = 4, broadcastQueries = true)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def lshMultitableSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |qb AS (SELECT q_id, t, ${bucketTableSql("qv", 4, "t")} AS b FROM q, generate_series(0, 15) AS gt(t)),
       |cb AS (SELECT c_id, t, ${bucketTableSql("cv", 4, "t")} AS b FROM c, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
       |s AS (SELECT cand.q_id, cand.c_id, ${cosSql("qv", "cv")} AS cos
       |      FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id),
       |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** sim_filtered_ann — attribute-FILTERED vector search (the "WHERE
    * clause on an ANN query" every production vector store grows:
    * lang/tenant/date predicates restricting the eligible corpus).
    * Strategy is PRE-filtering: the predicate applies to the candidate
    * side BEFORE hashing — a comparison predicate PUSHES to the
    * parquet scan (PushedFilters, PlanAuditSpec-gated), so ineligible
    * rows never get hashed ×L or shuffled — while post-filtering a
    * top-k instead silently starves recall when the filter is
    * selective (k survivors of a 10%-selective filter ≈ k/10 usable
    * results). The thinner filtered corpus lowers per-bucket density,
    * so the multi-table lever (ANY-table collision, 1−(1−q)^L recall)
    * is the right companion: selectivity costs candidates, tables buy
    * them back — without touching the O(L·N_eligible) shuffle shape.
    * Output: (q_id, c_id, label, cos_sim, rk).
    */
  def filteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cand = e.filter(col("vec_id") >= 8 && col("label") >= 5)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label"))
    multiTableTopkOn(probeSplit(e)._1, cand.select(col("c_id"), col("cv")),
      5, tables = 16, planesPerTable = 4, broadcastQueries = true)
      .join(cand.select(col("c_id"), col("label")), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("label"), col("cos_sim"), col("rk"))
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def filteredAnnSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, label FROM embeddings
       |      WHERE vec_id >= 8 AND label >= 5),
       |qb AS (SELECT q_id, t, ${bucketTableSql("qv", 4, "t")} AS b FROM q, generate_series(0, 15) AS gt(t)),
       |cb AS (SELECT c_id, t, ${bucketTableSql("cv", 4, "t")} AS b FROM c, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
       |s AS (SELECT cand.q_id, cand.c_id, c.label, ${cosSql("qv", "cv")} AS cos
       |      FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id),
       |r AS (SELECT q_id, c_id, label, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, label, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** sim_recall_eval — the ANN quality gate as a first-class, oracled
    * operator: recall@5 of the multi-table LSH path against the exact
    * brute-force ground truth, per probe. An index is only as good as
    * its measured recall, so the measurement itself belongs in the
    * library (the batch analog of the AnnRecallSpec test gate), not
    * only in the test suite: run it after every index build / plane
    * reseed to detect bucket degeneration (the SRP PRNG bug class) in
    * production. Exact integer ratios (hits × 1e6 div k) — fully
    * value-oracled.
    *
    * Scale: ground truth is O(Q·N) brute force, so run with a SAMPLED
    * probe set (here the fixed 8-probe split) — recall estimation
    * needs tens of probes, not the corpus; the LSH side is the normal
    * production path.
    */
  def recallEvalOn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val truth = bruteforceTopkOn(queries, candidates, k).select(col("q_id"), col("c_id"))
    val found = multiTableTopkOn(queries, candidates, k,
      planesPerTable = 4, broadcastQueries = true)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    truth.join(found, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_true"), col("n_hits"),
        expr("(1000000 * n_hits) div n_true").as("recall_ppm"))
  }

  /** sim_recall_eval testdata binding: the standard probe/candidate
    * split, k = 5.
    */
  def recallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    recallEvalOn(q, c, 5)
      .transform(graft.util.Cols.verifySort(_, col("q_id")))
  }

  def recallEvalSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |ts AS (SELECT q_id, c_id, ${cosSql("qv", "cv")} AS cos FROM q CROSS JOIN c),
       |tr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM ts),
       |truth AS (SELECT q_id, c_id FROM tr WHERE rk <= 5),
       |qb AS (SELECT q_id, t, ${bucketTableSql("qv", 4, "t")} AS b FROM q, generate_series(0, 15) AS gt(t)),
       |cb AS (SELECT c_id, t, ${bucketTableSql("cv", 4, "t")} AS b FROM c, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
       |ls AS (SELECT cand.q_id, cand.c_id, ${cosSql("qv", "cv")} AS cos
       |       FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id),
       |lr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM ls),
       |found AS (SELECT q_id, c_id FROM lr WHERE rk <= 5),
       |h AS (SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(sum(CASE WHEN f.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |      FROM truth t LEFT JOIN found f ON t.q_id = f.q_id AND t.c_id = f.c_id
       |      GROUP BY 1)
       |SELECT q_id, n_true, n_hits, (1000000 * n_hits) // n_true AS recall_ppm
       |FROM h ORDER BY q_id""".stripMargin

  /** Prefix-dimension ladder for [[mrlEvalOn]], shared with the
    * oracle: the truncation points evaluated (the last entry must be
    * the full dimensionality — it defines the truth set).
    */
  val MrlDims = Seq(8, 16, 32, 64)

  /** embed_mrl_eval — Matryoshka truncation audit (Kusupati et al.
    * 2022): recall@k of PREFIX-dimension cosine retrieval against the
    * full-dimension truth, one row per truncation point. The question
    * it answers is the embedding-budget tradeoff every store faces —
    * how many leading dims must be kept for retrieval to survive
    * (8× storage/compute reduction at dims=8 if recall holds; for
    * MRL-trained embeddings the leading dims carry the signal by
    * construction, and for non-MRL embeddings this measures the decay
    * honestly — the testdata's unstructured vectors show it).
    *
    * Shape: the dims ladder rides as exploded rows through ONE
    * scoring pass (|Q|·|C|·|ladder| scored rows — an EVAL on a probe
    * sample, like [[recallEvalOn]], never a full-corpus pass); prefix
    * cosine is the same exact-IEEE fold over `slice(v, 1, dims)`, so
    * every number value-oracles; integer hit counts and ppm recall.
    * Output: (dims, n_true, n_hits, recall_ppm).
    */
  def mrlEvalOn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("dims"), col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val scored = candidates.crossJoin(broadcast(queries))
      .withColumn("dims", explode(array(MrlDims.map(lit(_)): _*)))
      .withColumn("qp", expr("slice(qv, 1, dims)"))
      .withColumn("cp", expr("slice(cv, 1, dims)"))
      .withColumn("cos", cosExpr("qp", "cp"))
      .select(col("dims"), col("q_id"), col("c_id"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .transform(graft.util.CacheScope.cached) // truth slice + per-dims join
    val truth = scored.filter(col("dims") === MrlDims.last)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    scored.select(col("dims"), col("q_id"), col("c_id"))
      .join(truth, Seq("q_id", "c_id"), "left")
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("dims"), col("n_true"), col("n_hits"),
        expr("(1000000 * n_hits) div n_true").as("recall_ppm"))
  }

  /** embed_mrl_eval testdata binding: the standard probe/candidate
    * split, k = 5.
    */
  def mrlEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    mrlEvalOn(q, c, 5)
      .orderBy(col("dims"))
  }

  def mrlEvalSql: String = {
    val dims = MrlDims.mkString("(", "), (", ")")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |s AS (SELECT d.dims, q_id, c_id,
       |       ${cosSql("qv[1:d.dims]", "cv[1:d.dims]")} AS cos
       |      FROM q CROSS JOIN c CROSS JOIN (VALUES $dims) AS d(dims)),
       |r AS (SELECT dims, q_id, c_id,
       |       row_number() OVER (PARTITION BY dims, q_id ORDER BY cos DESC, c_id) AS rk
       |      FROM s),
       |topk AS (SELECT dims, q_id, c_id FROM r WHERE rk <= 5),
       |truth AS (SELECT q_id, c_id FROM topk WHERE dims = ${MrlDims.last}),
       |h AS (SELECT t.dims, CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(sum(CASE WHEN tr.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |      FROM topk t LEFT JOIN truth tr ON t.q_id = tr.q_id AND t.c_id = tr.c_id
       |      GROUP BY 1)
       |SELECT dims, n_true, n_hits, (1000000 * n_hits) // n_true AS recall_ppm
       |FROM h ORDER BY dims""".stripMargin
  }

  /** sim_mips_ann — maximum-inner-product search (the recommendation /
    * retrieval scoring primitive, where un-normalized magnitude
    * matters) via the public norm-augmentation reduction to cosine LSH
    * (Neyshabur & Srebro, 2015): append one dimension holding
    * sqrt(M² − |c|²) to every candidate (M² = the corpus max squared
    * norm, a 1-row broadcast) and 0 to every query — then cos(q̂, ĉ) =
    * qᵀc / (|q|·M), so angular bucketing on the augmented vectors
    * targets exactly the inner-product ranking that plain SRP on raw
    * vectors does NOT (cosine LSH is magnitude-blind). Candidates meet
    * queries in the augmented-bucket equi-join; scoring is the EXACT
    * dot product (codegen FloatVecDot), so results are value-oracled.
    * A query's appended 0 contributes nothing to any plane, so the
    * query side buckets on the raw vector — bit-identical. Both sides
    * bucket with PRNG stride 128 (not the default 64): a 65-dim
    * augmented vector at stride 64 would put its last dimension on
    * index (i+1)·64 — plane i+1's dim-1 coefficient — correlating
    * adjacent planes' signs (see [[graft.functions.SrpBucket]]).
    *
    * Scale shape: identical to [[lshTopkOn]] — O(N) bucket shuffle,
    * the augmentation is scan-side arithmetic; M² is one aggregate
    * broadcast (constant size at any N).
    * Output: (q_id, c_id, dot, rk).
    */
  def mipsAnnOn(queries: DataFrame, candidates: DataFrame, k: Int,
      nPlanes: Int = AutoPlanes, broadcastQueries: Boolean = false): DataFrame = {
    val p = resolvePlanes(nPlanes, candidates)
    val selfdot = graft.functions.FloatVecDot.column(col("cv"), col("cv"))
    val m2 = candidates.agg(max(selfdot).as("m2"))
    val c = candidates.crossJoin(broadcast(m2))
      .withColumn("aug", concat(col("cv"),
        array(sqrt(greatest(lit(0.0), col("m2") - selfdot)).cast("float"))))
      .withColumn("bucket",
        graft.functions.SrpBucket.column(col("aug"), p, 0, 128))
      .select(col("c_id"), col("cv"), col("bucket"))
    val q0 = queries.withColumn("bucket",
      graft.functions.SrpBucket.column(col("qv"), p, 0, 128))
    val q = if (broadcastQueries) broadcast(q0) else q0
    topK(c.join(q, Seq("bucket"))
        .withColumn("dot", graft.functions.FloatVecDot.column(col("qv"), col("cv"))),
        "q_id", col("dot").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), Cols.pround(col("dot"), 6).as("dot"), col("rk"))
  }

  /** sim_mips_ann testdata binding: the standard probe/candidate split,
    * 8 planes, k = 5.
    */
  def mipsAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    mipsAnnOn(q, c, 5, nPlanes = 8, broadcastQueries = true)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def mipsAnnSql: String = {
    val aug = "list_append(cv, CAST(sqrt(greatest(CAST(0 AS DOUBLE), " +
      s"m2 - ${dotSql("cv", "cv")})) AS REAL))"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, ${bucketSql("embedding", 8, 128)} AS bucket
       |           FROM embeddings WHERE vec_id < 8),
       |m AS (SELECT max(${dotSql("embedding", "embedding")}) AS m2
       |      FROM embeddings WHERE vec_id >= 8),
       |c0 AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |c AS (SELECT c_id, cv, ${bucketSql(aug, 8, 128)} AS bucket FROM c0, m),
       |s AS (SELECT q_id, c_id, ${dotSql("qv", "cv")} AS dot
       |      FROM q JOIN c ON q.bucket = c.bucket),
       |r AS (SELECT q_id, c_id, dot, row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, floor(dot * 1000000.0 + 0.5) / 1000000.0 AS dot, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** sim_ivf_ann — IVF-skeleton ANN: candidates are assigned to their
    * nearest coarse centroid (the inverted file's cell), queries probe
    * their nprobe=2 nearest cells, true-cosine top-5 within the probed
    * cells. Centroids are a deterministic hash-ranked sample of exactly
    * [[IvfK]] vectors (min(N, k)) standing in for trained k-means
    * centers — the cardinality POLICY is the real one: |centroids| is
    * independent of N, so at scale the candidate side shuffles once on
    * cell id, assignment costs O(N·k) against a constant-size broadcast,
    * and probe fan-out is nprobe cells instead of the whole corpus.
    */
  def ivfAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cents = ivfCents(e)
    val wAssign = Window.partitionBy(col("c_id")).orderBy(col("ccos").desc, col("cent_id"))
    val (q, c) = probeSplit(e)
    val assigned = c.crossJoin(broadcast(cents))
      .withColumn("ccos", cosExpr("cv", "centv"))
      .withColumn("ark", row_number().over(wAssign)).filter(col("ark") === 1)
      .select(col("c_id"), col("cv"), col("cent_id"))
    val probes = topK(q.crossJoin(broadcast(cents))
        .withColumn("qcos", cosExpr("qv", "centv")), "q_id", col("qcos").desc, "cent_id", 2, "prk")
      .select(col("q_id"), col("qv"), col("cent_id"))
    topK(assigned.join(broadcast(probes), Seq("cent_id"))
        .withColumn("cos", cosExpr("qv", "cv")), "q_id", col("cos").desc, "c_id", 5)
      .select(col("q_id"), col("c_id"), col("cent_id"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk"))
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def ivfAnnSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
       |               ORDER BY (vec_id * 1000003 + 12289) % $P, vec_id LIMIT $IvfK),
       |cand AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |assign0 AS (SELECT c_id, cv, cent_id,
       |             row_number() OVER (PARTITION BY c_id ORDER BY ${cosSql("cv", "centv")} DESC, cent_id) AS ark
       |            FROM cand CROSS JOIN cents),
       |assigned AS (SELECT c_id, cv, cent_id FROM assign0 WHERE ark = 1),
       |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |probe0 AS (SELECT q_id, qv, cent_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "centv")} DESC, cent_id) AS prk
       |           FROM qs CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cent_id FROM probe0 WHERE prk <= 2),
       |s AS (SELECT q_id, c_id, p.cent_id, ${cosSql("qv", "cv")} AS cos
       |      FROM assigned a JOIN probes p ON a.cent_id = p.cent_id),
       |r AS (SELECT q_id, c_id, cent_id, cos,
       |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, cent_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Fixed-point scale for [[ivfRefine]]'s cheap pass: 2¹⁰ over the
    * NORMALIZED vector keeps every code in ±(S+1), every product and
    * the 64-term sum exactly representable in double on BOTH engines.
    */
  val IvfQuantScale = 1024
  /** Probe width and shortlist size for [[ivfRefine]]: probe 4 cells
    * (vs [[ivfAnn]]'s 2 — the refine stage makes wider probing cheap),
    * re-rank the integer-score top 20 exactly.
    */
  val IvfRefineProbes = 4
  val IvfRefineR = 20

  /** Scan-side fixed-point quantization of the L2-NORMALIZED vector —
    * the "compressed codes" representation the cheap pass scores
    * against, so the integer dot approximates S²·COSINE. Normalizing
    * first is load-bearing, not cosmetic: quantized RAW dots rank by
    * |candidate| when a cluster's members all sit at near-identical
    * cosine (the first 1M-vector rehearsal measured recall 0.100 —
    * norm variance ±10% swamped cosine spread ±0.5% and pushed every
    * true neighbor out of the shortlist). floor(x·S/‖v‖ + 0.5) is
    * exact IEEE double arithmetic, identical in the oracle (the norm
    * is the same index-order dot fold both engines run); codes are
    * stored as FLOAT so the codegen [[graft.functions.FloatVecDot]]
    * scores them (each code is an integer ≪ 2²⁴ — float-exact).
    */
  private def withQuantNorm(df: DataFrame, v: String, out: String): DataFrame =
    df.withColumn("_nrm",
        sqrt(greatest(graft.functions.FloatVecDot.column(col(v), col(v)), lit(1e-300))))
      .withColumn(out, expr(
        s"transform($v, x -> CAST(floor(CAST(x AS DOUBLE) * $IvfQuantScale.0 / _nrm + 0.5) AS FLOAT))"))
      .drop("_nrm")

  /** Exact-integer normalized-quantized dot for the DuckDB oracle —
    * the same codes/products/sums [[withQuantNorm]]+FloatVecDot
    * produce Spark-side (recomputing the norm per element yields the
    * same double every time — bit-identical, just slower, which an
    * oracle can afford).
    */
  private def qdotSql(a: String, b: String): String = {
    def q(v: String, i: String) =
      s"floor(CAST($v[$i] AS DOUBLE) * $IvfQuantScale.0 / greatest(sqrt(${dotSql(v, v)}), 1e-300) + 0.5)"
    s"CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), i -> " +
      s"${q(a, "i")} * ${q(b, "i")})), " +
      s"(acc, v) -> acc + v) AS BIGINT)"
  }

  /** sim_ivf_refine — two-stage IVF ANN (the IVF-Flat + refine design
    * real vector stores ship): candidates live in their nearest coarse
    * cell as in [[ivfAnn]]; a query probes its [[IvfRefineProbes]]
    * nearest cells; stage 1 ranks every probed candidate by an
    * integer QUANTIZED dot product over [[quantVec]] codes and keeps
    * the top [[IvfRefineR]]; stage 2 computes the exact double cosine
    * for the shortlist only and emits the top 5.
    *
    * Scale shape — the reason this beats single-stage IVF at 100 TB:
    * the cheap pass joins SLIM rows (ids + fixed-point codes — at
    * scale, int8/PQ codes 4–16× smaller than the raw vectors) so the
    * probed-cell scan is memory-bandwidth-light, and the full-precision
    * vectors are touched only by the R-row-per-query refine join.
    * Wider probing (recall) is bought at code-scan prices, exactness at
    * O(R·Q). Every stage is deterministic integer-or-IEEE arithmetic —
    * fully value-oracled, unlike most ANN implementations.
    */
  /** The general two-stage form behind [[ivfRefine]]: `queries`
    * (q_id, qv), `candidates` (c_id, cv), `cents` (cent_id, centv — a
    * broadcastable cell table; callers size it ~√N).
    *
    * Cell assignment is an ARGMAX AGGREGATION (max_by over a
    * (cos, −cent_id) struct), not a row_number window: the N·|cells|
    * assignment rows collapse map-side via partial aggregation instead
    * of shuffling through a per-candidate sort — at 10⁶ vectors ×
    * 256 cells that is the difference between combining 2.6·10⁸ rows
    * in place and sorting them. Tie-break (highest cos, then lowest
    * cent_id) matches the oracle's ORDER BY cos DESC, cent_id.
    */
  def ivfRefineOn(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      k: Int, nProbe: Int = IvfRefineProbes, shortlist: Int = IvfRefineR): DataFrame = {
    // flat exact assignment — right when |cells| is broadcast-small;
    // at large nlist use ivfRefineAssigned with an ANN-built map
    ivfRefineAssigned(queries, candidates, cents, nearestCell(candidates, cents), k, nProbe,
      shortlist)
  }

  /** [[ivfRefineOn]] with a caller-supplied cell assignment
    * (`assign` = (c_id, cent_id)) — the seam that makes IVF scale past
    * broadcast-sized cell tables: a dense nlist (√N-to-4096 cells, the
    * regime where cell-spray stops killing recall on multi-modal data)
    * makes exact flat assignment O(N·nlist); real systems assign by
    * running the ANN index over the CENTROIDS instead, and here that is
    * literally [[multiTableTopkOn]](corpus, cells, k=1) — the library
    * composing with itself. Assignment quality degrades gracefully: a
    * near-nearest cell still co-locates a vector with its neighbors.
    */
  def ivfRefineAssigned(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      assign: DataFrame, k: Int, nProbe: Int = IvfRefineProbes,
      shortlist: Int = IvfRefineR): DataFrame = {
    // inverted file: (cell, candidate id, codes) — no raw vectors
    val assigned = withQuantNorm(candidates.join(assign, Seq("c_id")), "cv", "qc")
      .select(col("c_id"), col("qc"), col("cent_id"))
    val probes = topK(withQuantNorm(queries, "qv", "qq")
        .crossJoin(broadcast(cents))
        .withColumn("qcos", cosExpr("qv", "centv")), "q_id", col("qcos").desc, "cent_id",
        nProbe, "prk")
      .select(col("q_id"), col("qq"), col("cent_id"))
    // stage 1: integer-score every probed candidate, shortlist top R
    val short = topK(assigned.join(broadcast(probes), Seq("cent_id"))
        .withColumn("iscore",
          graft.functions.FloatVecDot.column(col("qq"), col("qc")).cast("long")),
        "q_id", col("iscore").desc, "c_id", shortlist, "srk")
      .select(col("q_id"), col("c_id"), col("cent_id"), col("iscore"))
    // stage 2: exact cosine for the R-row shortlist only — full vectors
    // re-enter here, never in the cell scan
    topK(short
        .join(candidates, Seq("c_id"))
        .join(broadcast(queries), Seq("q_id"))
        .withColumn("cos", cosExpr("qv", "cv")), "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), col("cent_id"), col("iscore"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk"))
  }

  def ivfRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val (q, c) = probeSplit(e)
    val cents = ivfCents(e)
    ivfRefineOn(q, c, cents, 5)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  /** sim_ivf_health — IVF index-health audit (the [[recallEval]]
    * rationale applied to the cell structure): per-cell population
    * stats of the inverted file reduced to one verdict row — used
    * cells, max/min cell load, and the imbalance factor
    * max·cells/N (1e6 = perfectly balanced). Cell skew is the IVF
    * failure mode at scale (one hot cell turns every probe of it into
    * a near-linear scan, exactly like an LSH bucket degenerating), so
    * the audit belongs in the library, value-oracled, not in a
    * notebook. One assignment pass + a cells-cardinality aggregate.
    */
  def ivfHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cents = ivfCents(e)
    nearestCell(e.select(col("vec_id").as("c_id"), col("embedding").as("cv")), cents)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells_used"),
        sum(col("n")).as("n_vectors"),
        max(col("n")).as("max_cell"),
        min(col("n")).as("min_cell"))
      .select(lit(IvfK).as("n_cells"), col("n_cells_used"), col("n_vectors"),
        col("max_cell"), col("min_cell"),
        expr(s"(max_cell * $IvfK * 1000000) div n_vectors").as("imbalance_ppm"))
  }

  def ivfHealthSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
       |               ORDER BY (vec_id * 1000003 + 12289) % $P, vec_id LIMIT $IvfK),
       |v AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
       |assign0 AS (SELECT c_id, cent_id,
       |             row_number() OVER (PARTITION BY c_id ORDER BY ${cosSql("cv", "centv")} DESC, cent_id) AS ark
       |            FROM v CROSS JOIN cents),
       |cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n
       |          FROM assign0 WHERE ark = 1 GROUP BY 1),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_cells_used,
       |       CAST(sum(n) AS BIGINT) AS n_vectors,
       |       CAST(max(n) AS BIGINT) AS max_cell, CAST(min(n) AS BIGINT) AS min_cell
       |      FROM cells)
       |SELECT $IvfK AS n_cells, n_cells_used, n_vectors, max_cell, min_cell,
       | (max_cell * $IvfK * 1000000) // n_vectors AS imbalance_ppm
       |FROM s""".stripMargin

  def ivfRefineSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
       |               ORDER BY (vec_id * 1000003 + 12289) % $P, vec_id LIMIT $IvfK),
       |cand AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |assign0 AS (SELECT c_id, cv, cent_id,
       |             row_number() OVER (PARTITION BY c_id ORDER BY ${cosSql("cv", "centv")} DESC, cent_id) AS ark
       |            FROM cand CROSS JOIN cents),
       |assigned AS (SELECT c_id, cv, cent_id FROM assign0 WHERE ark = 1),
       |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |probe0 AS (SELECT q_id, qv, cent_id,
       |            row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "centv")} DESC, cent_id) AS prk
       |           FROM qs CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cent_id FROM probe0 WHERE prk <= $IvfRefineProbes),
       |s1 AS (SELECT q_id, c_id, p.cent_id, ${qdotSql("qv", "cv")} AS iscore
       |       FROM assigned a JOIN probes p ON a.cent_id = p.cent_id),
       |short AS (SELECT q_id, c_id, cent_id, iscore,
       |           row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, c_id) AS srk
       |          FROM s1),
       |s2 AS (SELECT s.q_id, s.c_id, s.cent_id, s.iscore, ${cosSql("qv", "cv")} AS cos
       |       FROM short s JOIN cand ON s.c_id = cand.c_id JOIN qs ON s.q_id = qs.q_id
       |       WHERE s.srk <= $IvfRefineR),
       |r AS (SELECT q_id, c_id, cent_id, iscore, cos,
       |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s2)
       |SELECT q_id, c_id, cent_id, iscore, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** embed_knn_join — k-NN join between two embedding sets (label 0 =
    * probe side, others = build side): candidates meet probes in the
    * multi-table (table, bucket) equi-join, top-3 true-cosine
    * neighbors per probe. At corpus scale this is the shape of a
    * dataset-vs-dataset semantic join: O(L·N) slim-id bucket shuffle,
    * per-bucket scoring, per-probe top-k — never an all-pairs product.
    */
  def knnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    multiTableTopkOn(
      e.filter(col("label") === 0).select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      e.filter(col("label") =!= 0).select(col("vec_id").as("c_id"), col("embedding").as("cv")),
      3, planesPerTable = 4)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def knnJoinSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE label = 0),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE label <> 0),
       |qb AS (SELECT q_id, t, ${bucketTableSql("qv", 4, "t")} AS b FROM q, generate_series(0, 15) AS gt(t)),
       |cb AS (SELECT c_id, t, ${bucketTableSql("cv", 4, "t")} AS b FROM c, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
       |s AS (SELECT cand.q_id, cand.c_id, ${cosSql("qv", "cv")} AS cos
       |      FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id),
       |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM s)
       |SELECT q_id, c_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  /** Radius (range) search: every candidate within cosine >= `threshold`
    * of any probe — the retrieval mode top-k cannot express ("give me
    * EVERYTHING similar enough", for dedup sweeps, policy screens,
    * recall-bounded retrieval). Same multi-table LSH candidate shape as
    * [[multiTableTopkOn]] (slim (id, t, b) rows shuffle; vectors rejoin
    * after the candidate distinct; AutoPlanes depth), but the filter is
    * a threshold, not a rank — so output size is data-dependent and the
    * per-probe match COUNT rides along (n_matches) as the budget signal
    * a caller checks before materializing a runaway radius.
    * Output: (q_id, c_id, cos_sim, n_matches).
    */
  def rangeSearchOn(queries: DataFrame, candidates: DataFrame, threshold: Double,
      tables: Int = 16, planesPerTable: Int = AutoPlanes,
      broadcastQueries: Boolean = false): DataFrame = {
    val p = resolvePlanes(planesPerTable, candidates)
    multiTableScored(queries, candidates, tables, p, broadcastQueries)
      .filter(col("cos") >= threshold)
      .withColumn("n_matches", count(lit(1)).over(Window.partitionBy(col("q_id"))))
      .select(col("q_id"), col("c_id"), Cols.pround(col("cos"), 6).as("cos_sim"),
        col("n_matches"))
  }

  /** sim_range_search testdata binding: the standard probe/candidate
    * split, radius cos >= 0.3, pinned 4-plane tables (oracle parity).
    */
  def rangeSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val (q, c) = probeSplit(Tables.embeddings(spark, sfDir))
    rangeSearchOn(q, c, 0.3, planesPerTable = 4, broadcastQueries = true)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("c_id")))
  }

  def rangeSearchSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= 8),
       |qb AS (SELECT q_id, t, ${bucketTableSql("qv", 4, "t")} AS b FROM q, generate_series(0, 15) AS gt(t)),
       |cb AS (SELECT c_id, t, ${bucketTableSql("cv", 4, "t")} AS b FROM c, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
       |s AS (SELECT cand.q_id, cand.c_id, ${cosSql("qv", "cv")} AS cos
       |      FROM cand JOIN q ON cand.q_id = q.q_id JOIN c ON cand.c_id = c.c_id),
       |f AS (SELECT q_id, c_id, cos FROM s WHERE cos >= 0.3)
       |SELECT q_id, c_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
       | count(*) OVER (PARTITION BY q_id) AS n_matches
       |FROM f ORDER BY q_id, c_id""".stripMargin

  /** Embedding-cosine near-dup pairs within one vector set (`id`,
    * `vec`): candidates share ANY of the L=16 4-plane LSH tables'
    * buckets, kept at true cosine ≥ `threshold`. Multi-table is what
    * makes this a real near-dup miner: a cos-0.9 pair lands in one
    * 4-plane bucket with probability ~0.54, so 16 tables find it with
    * ~1−0.46^16 ≈ 0.9999, while each table's buckets stay selective
    * enough to prune (slim (id, t, b) rows on the shuffle, distinct
    * before the vector rejoin).
    *
    * SCALE RULE for `planesPerTable`: a table with p planes has 2^p
    * buckets, so random-pair candidate volume is ~L·N²/2^p — the
    * default is [[AutoPlanes]], which derives p = [[planesFor]](N)
    * ≈ log2(N/250) from a candidate-side count() so the depth grows
    * with the corpus and candidate volume stays sub-quadratic
    * (asserted by ScaleSmokeSpec's bucket audit and ScaleRehearsal's
    * 500 k-vector measurement); past the 16-plane cap, add tables,
    * trading recall per table for more tables.
    * Output: (a_id, b_id, cos_sim) with a_id < b_id.
    */
  def cosineNearDupOn(vectors: DataFrame, threshold: Double,
      tables: Int = 16, planesPerTable: Int = AutoPlanes): DataFrame = {
    val p = resolvePlanes(planesPerTable, vectors)
    val b = srpTables(vectors, Seq("id"), "vec", tables, p)
    val cand = b.select(col("id").as("a_id"), col("t"), col("b"))
      .join(b.select(col("id").as("b_id"), col("t"), col("b")), Seq("t", "b"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(vectors.select(col("id").as("a_id"), col("vec").as("va")), Seq("a_id"))
      .join(vectors.select(col("id").as("b_id"), col("vec").as("vb")), Seq("b_id"))
      .withColumn("cos", cosExpr("va", "vb"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), Cols.pround(col("cos"), 6).as("cos_sim"))
  }

  def embedCosineDedup(spark: SparkSession, sfDir: String): DataFrame =
    cosineNearDupOn(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      0.4, planesPerTable = 4)
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  def embedCosineDedupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |bk AS (SELECT vec_id, t, ${bucketTableSql("embedding", 4, "t")} AS b
       |       FROM e, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, bb.vec_id AS b_id
       |         FROM bk a JOIN bk bb ON a.t = bb.t AND a.b = bb.b AND a.vec_id < bb.vec_id),
       |s AS (SELECT a_id, b_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |      FROM cand JOIN e ea ON a_id = ea.vec_id JOIN e eb ON b_id = eb.vec_id)
       |SELECT a_id, b_id, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
       |FROM s WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin

  /** dedup_threshold_sweep — the tuning report behind every cosine
    * dedup: how many candidate pairs live in each similarity band,
    * and how many survive at-or-above each band's floor — the
    * cumulative column is read directly against a dedup budget BEFORE
    * committing a 100 TB pass to one threshold. ONE scan of the pair
    * set at the lowest threshold of interest; ≤21 bucket rows out at
    * any corpus size, so the cumulative window over them is
    * driver-trivial by construction. Buckets floor the already
    * pround-ed cos (bit-identical across engines), so band edges are
    * engine-safe. Output: (bucket, thr_lo, n_pairs, n_at_or_above).
    */
  def thresholdSweepOn(pairs: DataFrame): DataFrame = {
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .groupBy(floor(col("cos_sim") * 20.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("thr_lo", Cols.pround(col("bucket").cast("double") / 20.0, 2))
      .withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
      .select(col("bucket"), col("thr_lo"), col("n_pairs"), col("n_at_or_above"))
  }

  /** dedup_threshold_sweep testdata binding: bands of the 0.4+ cosine
    * pair set.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame =
    thresholdSweepOn(
      cosineNearDupOn(
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        0.4, planesPerTable = 4))
      .orderBy(col("bucket").desc)

  def thresholdSweepSql: String =
    s"""WITH p AS (SELECT cos_sim FROM (
       |  ${embedCosineDedupSql.replace("ORDER BY a_id, b_id", "")})),
       |h AS (SELECT CAST(floor(cos_sim * 20.0) AS BIGINT) AS bucket,
       |        count(*) AS n_pairs FROM p GROUP BY 1)
       |SELECT bucket,
       | floor(CAST(bucket AS DOUBLE) / 20.0 * 100.0 + 0.5) / 100.0 AS thr_lo,
       | n_pairs,
       | CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_or_above
       |FROM h ORDER BY bucket DESC""".stripMargin

  /** Per-class centroid affinity: each vector's cosine to ITS label's
    * centroid — the outlier/mislabel score of an embedding-space QA
    * pass (low affinity ⇒ the vector sits far from its class).
    *
    * Cross-row float sums are order-dependent, so the vectors are
    * QUANTIZED first (qx = floor(x·2^20 + 0.5), exact: ·2^20 is a pure
    * exponent shift on a float-widened double) and every aggregate is
    * integer — order-independent, hence value-oracle-safe. The class
    * size n cancels in the cosine (dot(v, s/n) / (|v|·|s/n|) =
    * dot(v, s) / (|v|·|s|)), so centroids are kept as raw integer sums;
    * every product INVOLVING s (Σs², Σqx·s) is computed in DECIMAL with
    * decimal operands — s scales with class size, so the long products
    * would wrap on large classes. Division and sqrt are
    * IEEE-correctly-rounded — deterministic across engines, unlike libm
    * transcendentals.
    *
    * Scale shape: the only corpus-sized stages are the dim explode and
    * the per-vector re-aggregation (keyed on vec id); the centroid
    * table is |labels|·dims rows — broadcastable at any corpus size —
    * so the rejoin never shuffles the exploded stream a second time.
    * Output: (vec_id, label, cos_centroid) for vectors with a nonzero
    * quantized norm.
    *
    * Cache contract: the quantized explode and the centroid table are
    * persist()ed (both forks precede any exchange, so ReusedExchange
    * can't dedupe them); caller owns cleanup via
    * `spark.catalog.clearCache()` (Bench/Verify clear between queries).
    */
  def classCentroidOn(vectors: DataFrame): DataFrame = {
    val q = vectors
      .select(col("id"), col("label"), posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("id"), col("label"), col("d"),
        floor(col("x").cast("double") * lit(1048576.0) + lit(0.5)).cast("long").as("qx"))
      .transform(graft.util.CacheScope.cached) // read by the centroid agg AND the affinity rejoin
    val cent = q.groupBy(col("label"), col("d"))
      .agg(sum(col("qx")).as("s"))
      .transform(graft.util.CacheScope.cached) // read by the class-norm agg AND the affinity rejoin
    // Operands are cast to decimal BEFORE multiplying: a long×long product
    // wraps silently before any later cast could widen it. s scales with
    // class size n (s ≲ n·2^20), so s·s and qx·s both leave int64 range on
    // large classes. decimal(19,0) holds EVERY long (a decimal(18,0) cast
    // nulls once s ≥ 10^18 and sum() then silently DROPS those terms under
    // non-ANSI mode — wrong answers, not an error); two <10^19 operands
    // multiply into decimal(38,0) without overflow, so the only place
    // overflow can occur is the decimal(38,0) sum, where Spark nulls the
    // whole aggregate — a loud failure instead of a silent one. vn2 = Σ_d
    // qx² is per-VECTOR (≤ dims·2^40 ≈ 2^46) — long is exact regardless of n.
    val dec = "decimal(19,0)"
    val cnorm = cent.groupBy(col("label"))
      .agg(sum(col("s").cast(dec) * col("s").cast(dec)).cast("double").as("cn2"))
    val per = q.join(cent, Seq("label", "d"))
      .groupBy(col("id"), col("label"))
      .agg(sum(col("qx").cast(dec) * col("s").cast(dec)).as("dot"),
        sum(col("qx") * col("qx")).as("vn2"))
    per.join(cnorm, Seq("label"))
      .filter(col("vn2") > 0)
      .select(col("id"), col("label"),
        Cols.pround(col("dot").cast("double")
          / (sqrt(col("vn2").cast("double")) * sqrt(col("cn2"))), 6).as("cos_centroid"))
  }

  /** embed_class_centroid testdata binding. */
  def classCentroid(spark: SparkSession, sfDir: String): DataFrame =
    classCentroidOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("label"), col("embedding").as("vec")))
      .select(col("id").as("vec_id"), col("label"), col("cos_centroid"))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  def classCentroidSql: String =
    // constant dim bound: DuckDB's generate_series can't take a lateral
    // column argument; the testdata embeddings are uniformly 64-dim
    s"""WITH q AS (SELECT vec_id, label, d,
       |  CAST(floor(CAST(embedding[d] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qx
       |  FROM embeddings, generate_series(1, 64) AS g(d)),
       |cent AS (SELECT label, d, CAST(sum(qx) AS BIGINT) AS s FROM q GROUP BY 1, 2),
       |cn AS (SELECT label,
       |        CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE) AS cn2
       |        FROM cent GROUP BY 1),
       |per AS (SELECT vec_id, q.label AS label,
       |        CAST(sum(CAST(qx AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE) AS dot,
       |        CAST(sum(qx * qx) AS BIGINT) AS vn2
       |        FROM q JOIN cent ON q.label = cent.label AND q.d = cent.d GROUP BY 1, 2)
       |SELECT vec_id, per.label AS label,
       | ${Cols.proundSql("CAST(dot AS DOUBLE) / (sqrt(CAST(vn2 AS DOUBLE)) * sqrt(cn2))", 6)} AS cos_centroid
       |FROM per JOIN cn ON per.label = cn.label WHERE vn2 > 0 ORDER BY vec_id""".stripMargin

  /** embed_outliers — embedding-space OUTLIER screen (the CLIP-score
    * filtering analog for labeled embedding corpora: vectors far from
    * their own class's centroid are mislabeled, corrupted, or
    * off-distribution — exactly what gets dropped before training):
    * [[classCentroidOn]]'s own-class cosine, robust-flagged per label
    * with the [[graft.operators.Quality.madOutliersOn]] device —
    * median/MAD have a 50% breakdown point, so the contamination
    * being hunted cannot drag its own threshold the way mean/σ would.
    * Cosines quantize to exact MICRO units (1e-6 — the pround
    * precision; the device's default cents are too coarse for
    * cosines that cluster near 1), so both medians interpolate
    * exactly representable midpoints and the whole report
    * value-oracles.
    *
    * Shape at scale: the centroid affinity is two |labels|·|dims|
    * aggregates + broadcast rejoins; the flags are two more
    * label-keyed exact-median aggregates (map-side combined, label-
    * cardinality outputs joined back broadcast). Exact medians want
    * the per-label values in one pass; at extreme label cardinality
    * swap percentile_approx in and re-declare rows-only.
    * Output: (label, vec_id, cos_micro, mad_score) for flagged
    * vectors.
    */
  def embedOutliersOn(vectors: DataFrame, kMad: Double): DataFrame = {
    val micro = classCentroidOn(vectors)
      .select(col("id"), col("label"),
        floor(col("cos_centroid") * lit(1000000.0) + lit(0.5)).cast("long").as("micro"))
    val med = micro.groupBy(col("label"))
      .agg(percentile(col("micro"), lit(0.5)).as("med"))
    val dev = micro.join(med, "label")
      .withColumn("dev", abs(col("micro").cast("double") - col("med")))
    val mad = dev.groupBy(col("label"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(mad, "label")
      .filter(col("dev") > lit(kMad) * col("mad"))
      .select(col("label"), col("id"), col("micro").as("cos_micro"),
        when(col("mad") > 0.0, Cols.pround(col("dev") / col("mad"), 4))
          .as("mad_score"))
  }

  /** embed_outliers testdata binding: vectors beyond 3 MADs from
    * their label's median centroid affinity.
    */
  def embedOutliers(spark: SparkSession, sfDir: String): DataFrame =
    embedOutliersOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("label"), col("embedding").as("vec")),
      kMad = 3.0)
      .select(col("label"), col("id").as("vec_id"), col("cos_micro"), col("mad_score"))
      .transform(graft.util.Cols.verifySort(_, col("label"), col("vec_id")))

  def embedOutliersSql: String = {
    // the centroid-affinity CTEs are classCentroidSql's, re-terminated
    // into micro units instead of the rounded double
    s"""WITH q AS (SELECT vec_id, label, d,
       |  CAST(floor(CAST(embedding[d] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qx
       |  FROM embeddings, generate_series(1, 64) AS g(d)),
       |cent AS (SELECT label, d, CAST(sum(qx) AS BIGINT) AS s FROM q GROUP BY 1, 2),
       |cn AS (SELECT label,
       |        CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE) AS cn2
       |        FROM cent GROUP BY 1),
       |per AS (SELECT vec_id, q.label AS label,
       |        CAST(sum(CAST(qx AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS DOUBLE) AS dot,
       |        CAST(sum(qx * qx) AS BIGINT) AS vn2
       |        FROM q JOIN cent ON q.label = cent.label AND q.d = cent.d GROUP BY 1, 2),
       |aff AS (SELECT vec_id, per.label AS label,
       |        CAST(floor((${Cols.proundSql("CAST(dot AS DOUBLE) / (sqrt(CAST(vn2 AS DOUBLE)) * sqrt(cn2))", 6)}) * 1000000.0 + 0.5) AS BIGINT) AS micro
       |        FROM per JOIN cn ON per.label = cn.label WHERE vn2 > 0),
       |med AS (SELECT label, quantile_cont(micro, 0.5) AS med FROM aff GROUP BY 1),
       |dev AS (SELECT vec_id, a.label AS label, micro,
       |        abs(CAST(micro AS DOUBLE) - med) AS dev
       |        FROM aff a JOIN med ON a.label = med.label),
       |mad AS (SELECT label, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
       |SELECT d.label, vec_id, micro AS cos_micro,
       | CASE WHEN mad > 0.0 THEN floor((dev / mad) * 10000.0 + 0.5) / 10000.0 END AS mad_score
       |FROM dev d JOIN mad ON d.label = mad.label
       |WHERE dev > 3.0 * mad
       |ORDER BY d.label, vec_id""".stripMargin
  }

  // ------------------------------------------------------- quantization

  /** embed_quantize — int8 scalar quantization (the storage/ANN
    * compression step: 4 bytes/dim → 1): per-DIMENSION max-|x| scales
    * each coordinate to q = round(x·127/max|x|) ∈ [−127, 127]. The
    * per-dim scale table is one tiny aggregation (|dims| rows —
    * broadcast back regardless of corpus size), quantization is
    * scan-side, and the per-vector report aggregates EXACT integers
    * (Σq², Σq, zero count — order-independent, so fully value-oracled;
    * a float reconstruction-error sum would be summation-order
    * dependent). Shape at 100 TB: one explode pass + one 64-row
    * broadcast join + one vec-keyed aggregation.
    * Output: (vec_id, q_norm2, q_sum, n_zero).
    */
  def quantizeOn(vectors: DataFrame): DataFrame = {
    val e = vectors.select(col("id"), posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("id"), col("d"), col("x").cast("double").as("x"))
    val scales = e.groupBy(col("d")).agg(max(abs(col("x"))).as("ma"))
    e.join(broadcast(scales), Seq("d"))
      .select(col("id"),
        floor(col("x") * lit(127.0) / col("ma") + lit(0.5)).cast("long").as("q"))
      .groupBy(col("id"))
      .agg(sum(col("q") * col("q")).as("q_norm2"),
        sum(col("q")).as("q_sum"),
        sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("id").as("vec_id"), col("q_norm2"), col("q_sum"), col("n_zero"))
  }

  /** embed_quantize testdata binding. */
  def quantize(spark: SparkSession, sfDir: String): DataFrame =
    quantizeOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  def quantizeSql: String =
    s"""WITH e AS (SELECT vec_id AS id, d, CAST(embedding[d] AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) AS g(d)),
       |m AS (SELECT d, max(abs(x)) AS ma FROM e GROUP BY 1),
       |q AS (SELECT id, CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT) AS q
       |      FROM e JOIN m USING (d))
       |SELECT id AS vec_id, CAST(sum(q * q) AS BIGINT) AS q_norm2,
       | CAST(sum(q) AS BIGINT) AS q_sum,
       | CAST(coalesce(sum(CASE WHEN q = 0 THEN 1 END), 0) AS BIGINT) AS n_zero
       |FROM q GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** embed_dim_stats — per-dimension feature statistics (count, range,
    * mean, variance) over the embedding corpus: the normalization /
    * whitening table every index build and model-input pipeline derives
    * first, and the drift report for embedding versions. Coordinates
    * use the kmeans fixed-point quantization ((x+1)·2^20 — the shift
    * keeps values non-negative so integer division truncates
    * identically on both engines); the second moment accumulates in
    * DECIMAL (qx² ≤ 2^42, a long sum wraps near N ≈ 2^21 vectors) so
    * the exact integer variance numerator converts once to double —
    * engine-identical. One exploded aggregation, |dims| output rows at
    * any corpus size.
    * Output: (d, n, min_q, max_q, mean_q, var_q).
    */
  def dimStatsOn(vectors: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val v = vectors.select(posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("d"),
        floor((col("x").cast("double") + lit(1.0)) * lit(KmQ.toDouble) + lit(0.5))
          .cast("long").as("qx"))
    v.groupBy(col("d"))
      .agg(count(lit(1)).as("n"),
        min(col("qx")).as("min_q"), max(col("qx")).as("max_q"),
        sum(col("qx")).as("sum_q"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("sum_q2"))
      .select(col("d"), col("n"), col("min_q"), col("max_q"),
        expr("sum_q div n").as("mean_q"),
        Cols.pround(
          (col("n").cast(dec) * col("sum_q2") - col("sum_q").cast(dec) * col("sum_q").cast(dec))
            .cast("double")
            / (col("n").cast("double") * (col("n") - 1).cast("double")), 4).as("var_q"))
  }

  /** embed_dim_stats testdata binding. */
  def dimStats(spark: SparkSession, sfDir: String): DataFrame =
    dimStatsOn(Tables.embeddings(spark, sfDir).select(col("embedding").as("vec")))
      .orderBy(col("d"))

  def dimStatsSql: String =
    s"""WITH e AS (SELECT CAST(d - 1 AS INTEGER) AS d,
       |  CAST(floor((CAST(embedding[d] AS DOUBLE) + 1.0) * $KmQ.0 + 0.5) AS BIGINT) AS qx
       |  FROM embeddings, generate_series(1, 64) AS g(d)),
       |s AS (SELECT d, CAST(count(*) AS BIGINT) AS n, min(qx) AS min_q, max(qx) AS max_q,
       |       CAST(sum(qx) AS BIGINT) AS sum_q, sum(qx * qx) AS sum_q2
       |      FROM e GROUP BY 1)
       |SELECT d, n, min_q, max_q, sum_q // n AS mean_q,
       | floor((CAST(n * sum_q2 - sum_q * sum_q AS DOUBLE)
       |   / (CAST(n AS DOUBLE) * (n - 1))) * 10000.0 + 0.5) / 10000.0 AS var_q
       |FROM s ORDER BY d""".stripMargin

  // ------------------------------------------------------------ k-means

  /** k-means cluster count, Lloyd iterations, and fixed-point scale —
    * shared constants between the Spark form and the oracle.
    */
  val KmK = 8
  val KmIters = 3
  val KmQ = 1048576L // 2^20 quantization steps

  /** s² mod P — the mixing round that turns a (monotone) LCG value
    * into a rank-scattering hash; exact int64 (s < 2^31 ⇒ s² < 2^62).
    */
  private def pow2ModP(s: Column): Column = (s * s) % P

  /** The one fixed-point Lloyd trainer behind every codebook here:
    * k-means and RQ train over the exploded (id, d, qx) stream (`part`
    * empty, cell key `d`), PQ over (id, sub, d, qx) (`part` = sub, cell
    * key (sub, d)) — every subspace at once, the subspace riding as one
    * more key column. `qx` must be NON-NEGATIVE (the truncating `div`
    * in the centroid mean diverges from DuckDB's flooring `//` on
    * negatives — callers shift into non-negative range).
    *
    * The codebook is CONSTANT size (k·d ≤ 16·64 rows, corpus-
    * independent), so it lives on the DRIVER between rounds as
    * (part…, cid, d, cq) rows — one collect job per round, and a
    * LocalRelation broadcasts without a job. Assignment runs against the
    * PIVOTED codebook (cell → [cq_0 .. cq_{k−1}]): one broadcast join at
    * the stream's row count plus a k-column aggregate whose argmin is a
    * single packed key dist²·16 + cid (dist² < 2⁴⁸, so the pack is
    * exact; ties → lowest cid), instead of exploding to N·d·k (cid,
    * dist) rows. An empty cluster is a null column: its packed term is
    * null and `least` skips it, exactly like the oracle's absent cid.
    */
  private final class Lloyd(v: DataFrame, part: Seq[String], k: Int) {
    require(k <= 16, "argmin packing reserves 4 bits for the centroid id")
    private val cell = part :+ "d"
    private val byVec = "id" +: part
    private def int(c: String) = StructField(c, IntegerType, nullable = false)
    private def local(rows: Seq[Row], schema: StructType): DataFrame =
      v.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    private def collect(df: DataFrame): Array[Row] =
      df.select(part.map(c => col(c).cast("int")) ++ Seq(col("cid").cast("long"),
        col("d").cast("int"), col("cq").cast("long")): _*).collect()

    /** The codebook rows as a (part…, cid, d, cq) frame. */
    def narrow(cents: Array[Row]): DataFrame =
      local(cents.toSeq, StructType(part.map(int) ++ Seq(
        StructField("cid", LongType, nullable = false), int("d"),
        StructField("cq", LongType, nullable = false))))

    /** The driver-side twin of groupBy(cell).pivot(cid).agg(first(cq)):
      * one row per cell, column i = centroid i's coordinate, null for an
      * empty cluster.
      */
    private def wide(cents: Array[Row]): DataFrame = {
      val p = part.length // a row is (part…, cid, d, cq)
      val byCell = cents.groupBy(r => part.indices.map(r.getInt) :+ r.getInt(p + 1)).toSeq
      val rows = byCell.sortBy(_._1)(Ordering.Implicits.seqOrdering[IndexedSeq, Int]).map {
        case (key, rs) =>
          val arr = new Array[Any](p + 1 + k)
          key.copyToArray(arr)
          rs.foreach(r => arr(p + 1 + r.getLong(p).toInt) = r.getLong(p + 2))
          Row.fromSeq(arr.toIndexedSeq)
      }
      local(rows, StructType(cell.map(int) ++
        (0 until k).map(i => StructField(i.toString, LongType, nullable = true))))
    }

    /** Each vector's (per subspace) packed argmin `amin` = dist²·16 + cid. */
    def assign(cents: Array[Row]): DataFrame = {
      val sums = (0 until k).map { i =>
        val diff = col("qx") - col(i.toLong.toString)
        sum(diff * diff).as(s"s$i")
      }
      val packed = (0 until k).map(i => col(s"s$i") * lit(16L) + lit(i.toLong))
      v.join(broadcast(wide(cents)), cell)
        .groupBy(byVec.map(col): _*)
        .agg(sums.head, sums.tail: _*)
        .select(byVec.map(col) :+ least(packed: _*).as("amin"): _*)
    }

    /** `iters` rounds of assignment + truncating centroid means from the
      * seeds: ids 0..k−1 as cids 0..k−1 (negative ids are no cid and
      * seed nothing), or — `hashSeeds` — the k lowest SQUARED-LCG-hash
      * ids, remapped to cid 0..k−1. The hash scatter matters when low
      * ids correlate with a data pattern: RQ's residual stage measured
      * ZERO stage-2 gain on a planted corpus whose ids 0..7 all carried
      * identical residuals (8 coincident seeds → one effective
      * centroid). The square-mod-P mixing round is load-bearing: a bare
      * LCG is MONOTONE over small id ranges, so ordering by it
      * reproduced id-order seeding exactly (the SrpBucket bit-consumer
      * lesson applied to ranking). TakeOrdered top-k, never a
      * corpus-wide window. Returns the final codebook rows.
      */
    def train(iters: Int, hashSeeds: Boolean = false): Array[Row] = {
      val seedRows =
        if (hashSeeds) {
          val seeds = v.select(col("id")).distinct()
            .withColumn("h", pow2ModP((col("id") * 1000003L + 12289L) % P))
            .orderBy(col("h"), col("id")).limit(k)
            .withColumn("cid", row_number().over(
              Window.orderBy(col("h"), col("id"))) - 1L)
            .select(col("id"), col("cid"))
          v.join(broadcast(seeds), Seq("id"))
        } else v.filter(col("id") >= 0 && col("id") < k).withColumn("cid", col("id"))
      var cents = collect(seedRows.select(part.map(col) ++ Seq(col("cid"), col("d"),
        col("qx").as("cq")): _*))
      (1 to iters).foreach { _ =>
        val a = assign(cents).select(byVec.map(col) :+ pmod(col("amin"), lit(16L)).as("cid"): _*)
        cents = collect(v.join(a, byVec)
          .groupBy((part ++ Seq("cid", "d")).map(col): _*)
          .agg(expr("sum(qx) DIV count(1)").as("cq")))
      }
      cents
    }
  }

  /** The (+1)·2^20 fixed-point quantization of a float-vector frame to
    * the exploded (id, d, qx) integer stream the Lloyd trainer consumes.
    */
  private def quantized(vectors: DataFrame): DataFrame =
    vectors.select(col("id"), posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("id"), col("d"),
        floor((col("x").cast("double") + lit(1.0)) * lit(KmQ.toDouble) + lit(0.5))
          .cast("long").as("qx"))

  /** embed_kmeans — distributed Lloyd's k-means in INTEGER fixed point:
    * coordinates quantize to qx = round((x+1)·2^20) (the +1 shift keeps
    * every value non-negative so truncating integer division is
    * identical across engines; shifts cancel in distances), centroid
    * means truncate to integers, and each assignment minimizes the
    * EXACT integer Σ(qx−cq)² with ties → lowest centroid id via a
    * single packed argmin key (dist²·16 + cid — dist² < 2⁴⁸ so the pack
    * is exact). Every quantity is integer arithmetic in a fixed
    * expression tree → [[KmIters]] iterations are bit-identical on any
    * engine and any partitioning (float k-means can't be value-oracled:
    * both the mean and the distance sum are order-sensitive).
    *
    * Scale shape per iteration: assignment joins the exploded vectors
    * against a BROADCAST centroid table (k·dims rows — constant, never
    * grows with the corpus) and aggregates per (vec, cid) with map-side
    * combine — O(N·k·d) work, one shuffle on vec id; the update is one
    * groupBy(cid, d) over N·d slim rows. Seeds are the vectors with
    * ids 0..k−1, each seeding the cid equal to its id; ids outside
    * [0, k) seed nothing (deterministic; k-means|| would replace the
    * seeding step at scale without touching the iteration shape). Empty clusters
    * drop out of the centroid table exactly as the oracle's arithmetic
    * does. Output: (vec_id, cluster, dist2_fixed).
    */
  def kmeansOn(vectors: DataFrame, k: Int = KmK, iters: Int = KmIters): DataFrame = {
    val v = quantized(vectors)
      .transform(graft.util.CacheScope.cached) // re-read by every Lloyd iteration and the final assignment
    val km = new Lloyd(v, Nil, k)
    km.assign(km.train(iters))
      .select(col("id").as("vec_id"),
        pmod(col("amin"), lit(16L)).cast("int").as("cluster"),
        expr("amin DIV 16").as("dist2_fixed"))
  }

  /** embed_kmeans testdata binding. */
  def kmeans(spark: SparkSession, sfDir: String): DataFrame =
    kmeansOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  /** Residual shift: |qx − cq| ≤ 2·KmQ = 2^21, so adding 2^21 keeps
    * every residual coordinate non-negative — the truncating-vs-
    * flooring integer-division contract the Lloyd core requires. The
    * shift cancels in every distance.
    */
  val RqShift: Long = 2L * KmQ

  /** embed_rq — RESIDUAL quantization (the additive-codebook family
    * under RQ/LSQ indexes and neural codecs): stage 1 runs the exact
    * fixed-point Lloyd over the vectors; stage 2 runs THE SAME Lloyd
    * over the stage-1 residuals (qx − cq, shifted by [[RqShift]]), so
    * a vector compresses to two 4-bit codes whose centroid SUM
    * approximates it — where PQ partitions dimensions, RQ refines the
    * whole-vector error iteratively, which is why it wins on vectors
    * whose energy isn't axis-separable. Emitted alongside: the exact
    * integer reconstruction error after each stage; the stage-2 error
    * is the quantity an index builder watches to decide whether
    * another residual stage pays.
    *
    * Scale shape: each stage is [[Lloyd]] — O(N·k·d) broadcast-join
    * assignment per round, constant-size centroid state; the residual
    * join adds one broadcast of the k·d stage-1 centroid table. The
    * whole composite is integer-exact → fully value-oracled (oracle =
    * the kmeans CTEs + a second unrolled Lloyd over the residual CTE).
    * Output: (vec_id, c1, dist2_coarse, c2, dist2_final).
    */
  def rqOn(vectors: DataFrame, k: Int = KmK, iters: Int = KmIters): DataFrame = {
    val v = quantized(vectors)
      .transform(graft.util.CacheScope.cached) // both Lloyd stages + residual build
    val stage1 = new Lloyd(v, Nil, k)
    val c1 = stage1.train(iters)
    val assign1 = stage1.assign(c1).select(col("id"),
        pmod(col("amin"), lit(16L)).as("cid"), expr("amin DIV 16").as("d1"))
      .transform(graft.util.CacheScope.cached) // residual build + final join
    val resid = v.join(assign1.select(col("id"), col("cid")), Seq("id"))
      .join(broadcast(stage1.narrow(c1)), Seq("cid", "d"))
      .select(col("id"), col("d"), (col("qx") - col("cq") + lit(RqShift)).as("qx"))
      .transform(graft.util.CacheScope.cached) // re-read by every stage-2 Lloyd round
    val stage2 = new Lloyd(resid, Nil, k)
    assign1.join(stage2.assign(stage2.train(iters, hashSeeds = true)).select(col("id"),
        pmod(col("amin"), lit(16L)).as("c2"), expr("amin DIV 16").as("d2")), Seq("id"))
      .select(col("id").as("vec_id"),
        col("cid").cast("int").as("c1"), col("d1").as("dist2_coarse"),
        col("c2").cast("int").as("c2"), col("d2").as("dist2_final"))
  }

  /** embed_rq testdata binding. */
  def rq(spark: SparkSession, sfDir: String): DataFrame =
    rqOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  def rqSql: String =
    s"""WITH $kmeansCtes,
       |rv AS (SELECT v.id, v.d, v.qx - c.cq + $RqShift AS qx
       |       FROM v JOIN cfin f ON v.id = f.id
       |       JOIN c$KmIters c ON c.cid = f.cluster AND c.d = v.d),
       |${lloydCtes("rv", "r", hashSeeds = true)}
       |SELECT f.id AS vec_id, f.cluster AS c1, f.dist2 AS dist2_coarse,
       | r.cluster AS c2, r.dist2 AS dist2_final
       |FROM cfin f JOIN rfin r ON f.id = r.id ORDER BY vec_id""".stripMargin

  /** Product-quantization geometry and training constants: 8 subspaces
    * of 8 dims over the 64-dim testdata embeddings, 16 centroids per
    * subspace (one nibble per code → the 8 codes pack into 32 bits),
    * 2 Lloyd rounds per subspace.
    */
  val PqSubs = 8
  val PqSubDim = 8
  val PqK = 16
  val PqIters = 2

  /** OPQ — the PARAMETRIC variant (OPQ-P, Ge et al.: PCA rotation +
    * eigenvalue-balanced dimension allocation) is implemented below as
    * [[opqOn]]/`embed_opq`: rotation TRAINED offline from exact-int64
    * distributed moments + a deterministic driver-side Jacobi
    * eigensolve (the matrix is dim², bounded), APPLIED scan-side as
    * dim codegen dot products against literal rotation rows ahead of
    * the unchanged [[pqOn]] quantizer — zero added shuffle.
    * The ITERATIVE variant (OPQ-NP, per-Lloyd-round SVD refits)
    * remains out of scope: each round's SVD is another driver-side
    * dense solve for single-digit extra recall on already-decorrelated
    * data, and the refit breaks the train-once/broadcast-forever shape
    * that makes the parametric form 100-TB-safe. Rotated coordinates
    * ride IEEE-double sums (summation-order-sensitive), so embed_opq
    * is declared rows-only like every float-path sketch; OpqSpec pins
    * the reconstruction-error win on cross-subspace-correlated data
    * (where contiguous PQ wastes whole subspaces on duplicate signal)
    * and near-parity on the uncorrelated testdata embeddings.
    */

  /** The exploded fixed-point (id, sub, d, qx) stream every PQ stage
    * reads — cached because Lloyd rounds, the encode, and probe LUTs
    * all re-scan it.
    */
  private def pqExplode(vectors: DataFrame, subDim: Int): DataFrame =
    vectors.select(col("id"), posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("id"), (col("d") / lit(subDim)).cast("int").as("sub"), col("d"),
        floor((col("x").cast("double") + lit(1.0)) * lit(KmQ.toDouble) + lit(0.5))
          .cast("long").as("qx"))
      .transform(graft.util.CacheScope.cached)

  /** embed_pq — product quantization, the codebook-training +
    * encoding step of an IVF-PQ index build: each vector splits into
    * [[PqSubs]] contiguous subvectors; per SUBSPACE an independent
    * fixed-point Lloyd k-means (same integer arithmetic contract as
    * [[kmeansOn]] — bit-identical on any engine/partitioning) learns
    * [[PqK]] centroids; a vector's code is the argmin centroid per
    * subspace, packed little-endian into one BIGINT (code nibble s at
    * 16^s), with the EXACT integer reconstruction error alongside —
    * compressing each vector to 4 bytes + the shared 1 KiB codebook.
    *
    * Scale shape: ALL subspaces train simultaneously — the subspace id
    * rides as one more key column through the same joins/aggregations
    * (never 8 sequential jobs); per round the assignment joins the
    * exploded stream against a BROADCAST codebook (subs·k·subdim ≈ 1 K
    * rows, constant at any corpus size) for O(N·d·k) work, and the
    * update aggregates (sub, cid, d) — ≤ 1 K groups. The final pack is
    * one vec-keyed aggregation. Same seeding policy as kmeansOn (the k
    * lowest-id vectors' subvectors, deterministic).
    * Output: (vec_id, pq_code, dist2_total).
    */
  def pqOn(vectors: DataFrame, subDim: Int = PqSubDim, k: Int = PqK,
      iters: Int = PqIters): DataFrame = {
    require(k <= 16, "argmin packing and the nibble pack reserve 4 bits per code")
    val pq = new Lloyd(pqExplode(vectors, subDim), Seq("sub"), k)
    pq.assign(pq.train(iters))
      .groupBy(col("id"))
      // 16^sub ≤ 16^7 < 2^53: power() is exact, the cast is exact, and
      // the pack is a plain integer sum — portable across engines
      .agg(sum(expr("(amin % 16) * cast(power(16, sub) as bigint)")).as("pq_code"),
        sum(expr("amin DIV 16")).as("dist2_total"))
      .select(col("id").as("vec_id"), col("pq_code"), col("dist2_total"))
  }

  /** embed_pq testdata binding. */
  def pq(spark: SparkSession, sfDir: String): DataFrame =
    pqOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  /** OPQ-P rotation training: PCA basis + eigenvalue-balanced
    * dimension allocation, from a DETERMINISTIC sample (ids <
    * `sampleN` — training data is id-selected, not partition-
    * selected). The distributed part ships EXACT int64 moments (dim²
    * second moments of the fixed-point coordinates; products bounded
    * by sampleN·(2·KmQ)² ≈ 10¹⁶); the driver part is a cyclic Jacobi
    * eigensolve over the dim×dim covariance — bounded by the embedding
    * WIDTH, never the corpus — with deterministic sweep order, sign
    * fix (largest-|component| positive) and (λ, index) ordering, so
    * retraining on the same sample reproduces the same matrix.
    * Dimensions then go to subspaces by greedy log-eigenvalue
    * balancing (each principal axis joins the subspace with the
    * smallest variance product), the OPQ-P allocation that equalizes
    * per-subspace information. Returns the rotation as rows:
    * rotated[out] = Σ_in R(out)(in) · x[in].
    */
  def opqRotationOn(vectors: DataFrame, sampleN: Int = 2048,
      subDim: Int = PqSubDim): Array[Array[Double]] = {
    val (eigVals, axes) = pcaEigenOn(vectors, sampleN)
    val dim = axes.length
    require(dim % subDim == 0, s"dim $dim not a multiple of subDim $subDim")
    // greedy balance: each axis (desc lambda) joins the non-full subspace
    // with the smallest accumulated log-variance product
    val subs = dim / subDim
    val logSum = Array.fill(subs)(0.0)
    val filled = Array.fill(subs)(0)
    val slots = Array.fill(subs)(Vector.empty[Array[Double]])
    eigVals.zip(axes).foreach { case (lam, vec) =>
      val sIdx = (0 until subs).filter(filled(_) < subDim)
        .minBy(i => (logSum(i), i))
      logSum(sIdx) += math.log(math.max(lam, 1e-12))
      filled(sIdx) += 1
      slots(sIdx) :+= vec
    }
    slots.flatten.toArray
  }

  /** The PCA core [[opqRotationOn]] balances into subspaces: exact
    * integer sample moments → driver Jacobi → (eigenvalues desc,
    * sign-fixed axis ROWS in the same order). Deterministic end to end
    * (see opqRotationOn's note), which is what lets [[pcaSql]] replay
    * a pinned basis.
    */
  private[graft] def pcaEigenOn(vectors: DataFrame, sampleN: Int)
      : (Array[Double], Array[Array[Double]]) = {
    val s = vectors.filter(col("id") < sampleN)
      .select(col("id"), posexplode(col("vec")).as(Seq("d", "x")))
      .select(col("id"), col("d"),
        floor((col("x").cast("double") + lit(1.0)) * lit(KmQ.toDouble) + lit(0.5))
          .cast("long").as("qx"))
      .persist()
    val n = s.select(col("id")).distinct().count().toDouble
    require(n >= 2, s"opq rotation needs >= 2 sample vectors, got $n")
    val sx = s.groupBy(col("d")).agg(sum(col("qx")).as("sx"))
      .collect().map(r => r.getAs[Int]("d") -> r.getAs[Long]("sx")).toMap
    val dim = sx.keys.max + 1
    val sxy = s.select(col("id"), col("d").as("d1"), col("qx").as("q1"))
      .join(s.select(col("id"), col("d").as("d2"), col("qx").as("q2")), Seq("id"))
      .filter(col("d1") <= col("d2"))
      .groupBy(col("d1"), col("d2")).agg(sum(col("q1") * col("q2")).as("sxy"))
      .collect().map(r => (r.getAs[Int]("d1"), r.getAs[Int]("d2")) -> r.getAs[Long]("sxy"))
      .toMap
    s.unpersist()
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      sxy((a, b)) / n - (sx(a) / n) * (sx(b) / n)
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // sign fix + deterministic order: λ desc, original index asc
    val order = eigVals.indices.sortBy(i => (-eigVals(i), i))
    val axes = order.map { i =>
      val vcol = Array.tabulate(dim)(r => eigVecs(r)(i))
      val m = vcol.indices.maxBy(r => (math.abs(vcol(r)), -r))
      (eigVals(i), if (vcol(m) < 0) vcol.map(-_) else vcol)
    }
    (axes.map(_._1).toArray, axes.map(_._2).toArray)
  }

  /** Number of principal components [[pca]] keeps — the 64→8
    * dimensionality reduction a clustering/visualization stage runs on.
    */
  val PcaK = 8

  /** PCA projection: every vector's coordinates on the top-k principal
    * axes, quantized to exact integers (floor((proj + 8)·2¹⁶ + ½);
    * |proj| ≤ √64 bounds the offset). The axes come from
    * [[pcaEigenOn]] — deterministic training, so projections are
    * engine-replayable — and ride the plan as codegen literals exactly
    * like [[opqEncode]]'s rotation: zero shuffle, zero joins, the scan
    * does k fused dot products per vector.
    */
  def pcaProjectOn(vectors: DataFrame, axes: Array[Array[Double]]): DataFrame =
    vectors.select(col("id").as("vec_id") +: axes.zipWithIndex.map { case (ax, j) =>
      floor((graft.functions.FloatVecDot.column(col("vec"), typedLit(ax.map(_.toFloat)))
        + lit(8.0)) * lit(65536.0) + lit(0.5)).cast("long").as(s"pc${j + 1}")
    }: _*)

  /** embed_pca testdata binding: in-query deterministic training, top
    * [[PcaK]] axes, all vectors projected. Oracle = [[pcaSql]] with the
    * PINNED axes of the corpus it reads (PcaAxesPinned, one per testdata
    * corpus, regenerated by graft.GenPcaAxes, drift-gated by OpqSpec).
    */
  def pca(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val axes = pcaEigenOn(vecs, 2048)._2.take(PcaK)
    pcaProjectOn(vecs, axes).transform(graft.util.Cols.verifySort(_, col("vec_id")))
  }

  /** The oracle rows `(fp, d, [floats])` of per-corpus pinned matrices
    * (row d of corpus fp's matrix). Every float32 is exactly a finite
    * decimal AND exactly a double, so emitting the EXACT expansion
    * (BigDecimal of the widened value) makes DuckDB's decimal->double
    * parse lossless -- the shortest float repr instead would
    * double-round (decimal->double->float), which measured 1-ulp
    * rotated-coordinate divergences.
    */
  private def pinnedRowsSql(byCorpus: Seq[(Long, Array[Array[Float]])]): String =
    byCorpus.flatMap { case (fp, m) =>
      m.zipWithIndex.map { case (row, o) =>
        s"($fp, ${o + 1}, [${row.map(f =>
          new java.math.BigDecimal(f.toDouble).toPlainString).mkString(", ")}])"
      }
    }.mkString(",\n|  ")

  /** The `corpus` CTE of the pinned-matrix oracles: the fingerprint
    * their pins are keyed by, the fixed-point sum of the training sample
    * (vec_id < 2048) as exact BIGINT.
    */
  private def corpusSql: String =
    s"""corpus AS (SELECT CAST(sum(CAST(floor((CAST(x AS DOUBLE) + 1.0) * $KmQ.0 + 0.5)
       |  AS BIGINT)) AS BIGINT) AS fp
       |  FROM (SELECT unnest(embedding) AS x FROM embeddings WHERE vec_id < 2048))""".stripMargin

  def pcaSql: String = {
    val rows = pinnedRowsSql(PcaAxesPinned.ByCorpus)
    val pcs = (1 to PcaK).map(j =>
      s"CAST(sum(qp) FILTER (d = $j) AS BIGINT) AS pc$j").mkString(",\n| ")
    s"""WITH rot(fp, d, rw) AS (VALUES $rows),
       |$corpusSql,
       |p AS (SELECT vec_id, d,
       |  CAST(floor((${dotSql("embedding", "rw")} + 8.0) * 65536.0 + 0.5) AS BIGINT) AS qp
       |  FROM embeddings, rot WHERE rot.fp = (SELECT fp FROM corpus))
       |SELECT vec_id,
       | $pcs
       |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed convergence threshold),
    * O(dim³) on the DRIVER where dim is the embedding width. Returns
    * (eigenvalues, eigenvector COLUMNS).
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-18) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                    else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sn * vkq
              v(k)(q) = sn * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** OPQ encode: rotate every vector by the trained matrix ENTIRELY
    * scan-side — each output coordinate is one [[graft.functions
    * .FloatVecDot]] (codegen) of the vector against a LITERAL rotation
    * row baked into the plan (dim² floats, constant at any corpus
    * size), so the rotation adds zero shuffle and zero joins: the
    * matrix rides the plan the way a broadcast variable rides a task,
    * and whole-stage codegen fuses all dim dot products into the scan.
    * The explode-join-aggregate matmul alternative puts N·dim² slim
    * rows through a shuffle — the wrong side of the scan-vs-shuffle
    * line for a fixed 64×64 matrix. PQ then trains/encodes on the
    * rotated frame via the unchanged [[pqOn]].
    */
  def opqEncode(vectors: DataFrame, rot: Array[Array[Double]],
      subDim: Int = PqSubDim, k: Int = PqK, iters: Int = PqIters): DataFrame = {
    val rotated = vectors.select(col("id"),
      array(rot.map { row =>
        graft.functions.FloatVecDot.column(col("vec"), typedLit(row.map(_.toFloat)))
          .cast("float")
      }: _*).as("vec"))
    pqOn(rotated, subDim, k, iters)
  }

  /** OPQ-P end to end: train the rotation on the deterministic sample,
    * broadcast-apply it, PQ the rotated space.
    */
  def opqOn(vectors: DataFrame, subDim: Int = PqSubDim, k: Int = PqK,
      iters: Int = PqIters, sampleN: Int = 2048): DataFrame =
    opqEncode(vectors, opqRotationOn(vectors, sampleN, subDim), subDim, k, iters)

  /** embed_opq testdata binding — fully value-oracled: the rotation is
    * deterministic by construction, so [[opqSql]] replays the PINNED
    * matrix (drift-gated against a fresh training run by OpqSpec).
    */
  def opq(spark: SparkSession, sfDir: String): DataFrame =
    opqOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))

  /** The Lloyd-round + encode tail of the PQ oracle, over whichever
    * `v` (id, sub, d, qx) CTE the caller supplies — shared between
    * [[pqSql]] (raw coordinates) and [[opqSql]] (pinned-rotation
    * coordinates).
    */
  private def pqPipelineSql(vCtes: String): String =
    s"""${pqLloydSql(vCtes)}
       |SELECT id AS vec_id,
       | CAST(sum((amin % 16) * CAST(power(16, sub) AS BIGINT)) AS BIGINT) AS pq_code,
       | CAST(sum(amin // 16) AS BIGINT) AS dist2_total
       |FROM (${pqAssignSql(s"c$PqIters")}) GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** The PQ oracle's packed argmin per (id, sub) against codebook CTE
    * `c` — the SQL twin of [[Lloyd]]'s assignment.
    */
  private def pqAssignSql(c: String): String =
    s"""SELECT id, sub, CAST(min(dist2 * 16 + cid) AS BIGINT) AS amin FROM (
       |  SELECT id, sub, cid, CAST(sum((qx - cq) * (qx - cq)) AS BIGINT) AS dist2
       |  FROM v JOIN $c USING (sub, d) GROUP BY 1, 2, 3) GROUP BY 1, 2""".stripMargin

  /** `WITH` the caller's `v` (id, sub, d, qx) CTEs, then the PQ Lloyd
    * chain: seed codebook c0, assignments a1.., codebooks c1..c$PqIters.
    */
  private def pqLloydSql(vCtes: String): String = {
    val steps = (1 to PqIters).map { i =>
      s"""a$i AS (SELECT id, sub, CAST(amin % 16 AS BIGINT) AS cid FROM (${pqAssignSql(s"c${i - 1}")})),
         |c$i AS (SELECT sub, cid, d, CAST(sum(qx) // count(*) AS BIGINT) AS cq
         |        FROM v JOIN a$i USING (id, sub) GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""WITH $vCtes,
       |c0 AS (SELECT sub, id AS cid, d, qx AS cq FROM v WHERE id < $PqK)""".stripMargin + steps
  }

  /** The raw-coordinate `v` CTE of the PQ oracles. */
  private def pqVSql: String =
    s"""v AS (SELECT vec_id AS id, (d - 1) // $PqSubDim AS sub, d,
       |  CAST(floor((CAST(embedding[d] AS DOUBLE) + 1.0) * $KmQ.0 + 0.5) AS BIGINT) AS qx
       |  FROM embeddings, generate_series(1, 64) AS g(d))""".stripMargin

  /** The trained PQ codes and the probes' distance tables as the
    * `codes` and `lut` CTEs — the shared head of the ADC oracles.
    */
  private def pqCodesLutSql: String =
    s"""${pqLloydSql(pqVSql)},
       |codes AS (SELECT id, sub, CAST(amin % 16 AS BIGINT) AS cid
       |          FROM (${pqAssignSql(s"c$PqIters")})),
       |lut AS (SELECT v.id AS probe_id, sub, cid,
       |         CAST(sum((qx - cq) * (qx - cq)) AS BIGINT) AS ld
       |        FROM v JOIN c$PqIters USING (sub, d) WHERE v.id < $AdcProbes
       |        GROUP BY 1, 2, 3)""".stripMargin

  def pqSql: String = pqPipelineSql(pqVSql)

  /** embed_opq value oracle: the PINNED rotation of the corpus it reads
    * ([[OpqRotationPinned]], one per testdata corpus, selected by the
    * fingerprint of the training sample; trained deterministically —
    * exact integer moments + fixed-order driver Jacobi, regenerated by
    * graft.GenOpqRotation, drift-gated by OpqSpec) applied in DuckDB
    * with the identical IEEE operation sequence as the Spark side:
    * rotated[d] = the [[dotSql]] double fold of the float vector
    * against the float rotation row, cast back to REAL, then the
    * shared [[pqPipelineSql]] fixed-point Lloyd/encode. Every
    * arithmetic step is either exact-integer or an identical-order
    * IEEE fold, so the driver hash-matches end to end.
    */
  def opqSql: String = {
    val rows = pinnedRowsSql(OpqRotationPinned.ByCorpus)
    pqPipelineSql(
      s"""rot(fp, d, rw) AS (VALUES $rows),
         |$corpusSql,
         |rv AS (SELECT vec_id, d, CAST(${dotSql("embedding", "rw")} AS REAL) AS rx
         |       FROM embeddings, rot WHERE rot.fp = (SELECT fp FROM corpus)),
         |v AS (SELECT vec_id AS id, (d - 1) // $PqSubDim AS sub, d,
         |  CAST(floor((CAST(rx AS DOUBLE) + 1.0) * $KmQ.0 + 0.5) AS BIGINT) AS qx FROM rv)""".stripMargin)
  }

  /** sim_pq_adc — asymmetric distance computation over the PQ index,
    * the query-side payoff of [[pqOn]]: each probe precomputes a
    * distance LOOKUP TABLE to every codebook centroid (probes × subs ×
    * k rows — constant per probe, independent of corpus size), and a
    * database vector's approximate distance is then just the sum of 8
    * table lookups keyed by its code nibbles — the corpus-sized stream
    * touches ONLY the slim (id, sub, cid) code rows joined against the
    * BROADCAST LUT, never the raw vectors. Exact integer arithmetic
    * end-to-end (squared fixed-point distances), so ranked results are
    * engine-identical. Top-[[AdcTopK]] per probe with vec-id
    * tie-break; probes are excluded from their own candidate list.
    * Output: (probe_id, vec_id, adc_dist2, rk).
    */
  val AdcProbes = 5
  val AdcTopK = 3

  def pqAdcOn(vectors: DataFrame, probeMaxId: Int = AdcProbes,
      subDim: Int = PqSubDim, k: Int = PqK, iters: Int = PqIters): DataFrame = {
    val v = pqExplode(vectors, subDim)
    val pq = new Lloyd(v, Seq("sub"), k)
    val cents = pq.train(iters)
    val codes = pq.assign(cents)
      .select(col("id"), col("sub"), pmod(col("amin"), lit(16L)).as("cid"))
    // per-probe LUT: exact dist² from each probe subvector to each centroid
    val lut = v.filter(col("id") < probeMaxId)
      .withColumnRenamed("id", "probe_id")
      .join(broadcast(pq.narrow(cents)), Seq("sub", "d"))
      .groupBy(col("probe_id"), col("sub"), col("cid"))
      .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("ld"))
    topK(codes
        .join(broadcast(lut), Seq("sub", "cid"))
        .filter(col("id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("id").as("vec_id"))
        .agg(sum(col("ld")).as("adc_dist2")), "probe_id", col("adc_dist2"), "vec_id", AdcTopK)
      .select(col("probe_id"), col("vec_id"), col("adc_dist2"),
        col("rk").cast("int").as("rk"))
  }

  /** sim_pq_adc testdata binding. */
  def pqAdc(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
      .transform(graft.util.Cols.verifySort(_, col("probe_id"), col("rk")))

  def pqAdcSql: String =
    s"""$pqCodesLutSql,
       |adc AS (SELECT probe_id, codes.id AS vec_id, CAST(sum(ld) AS BIGINT) AS adc_dist2
       |        FROM codes JOIN lut USING (sub, cid)
       |        WHERE codes.id <> lut.probe_id
       |        GROUP BY 1, 2),
       |r AS (SELECT probe_id, vec_id, adc_dist2,
       |       CAST(row_number() OVER (PARTITION BY probe_id
       |         ORDER BY adc_dist2, vec_id) AS INTEGER) AS rk
       |      FROM adc)
       |SELECT probe_id, vec_id, adc_dist2, rk FROM r WHERE rk <= $AdcTopK
       |ORDER BY probe_id, rk""".stripMargin

  /** Shortlist depth for [[ivfPq]]'s exact-refine stage. */
  val IvfPqShortlist = 10

  /** sim_ivfpq — the full production ANN composite (the FAISS-IVFPQ
    * shape), assembled from the library's own stages: IVF cells route
    * each probe to its [[IvfRefineProbes]] nearest of [[IvfK]] cells;
    * the ADC scan ([[pqAdcOn]]'s LUT arithmetic, exact integers)
    * scores ONLY the codes of vectors living in probed cells — at
    * scale that is nprobe/cells of the corpus, each row 4 code bytes
    * instead of d floats; the top-[[IvfPqShortlist]] shortlist alone
    * pays exact cosine, and the top-[[AdcTopK]] emits. Every stage is
    * integer-or-IEEE deterministic → the whole composite is
    * value-oracled, PQ training included.
    *
    * Scale shape: codebook + LUT + probe map are constant-size
    * broadcasts; the corpus appears as (id, sub, cid) code rows
    * filtered by the cell equi-join before the LUT aggregate; raw
    * vectors are touched once for assignment (build-time) and R·Q
    * times for refine. Cell assignment here is the flat broadcast
    * argmax (IvfK constant); a dense-cell deployment swaps in the
    * ANN-built map exactly as [[ivfRefineAssigned]] does.
    */
  def ivfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cents = ivfCents(e)
    // IVF: candidate→cell argmax, probe→top-nprobe cells
    val cellOf = nearestCell(e.filter(col("vec_id") >= AdcProbes)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv")), cents)
    val probeCells = topK(e.filter(col("vec_id") < AdcProbes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
        .crossJoin(broadcast(cents))
        .withColumn("qcos", cosExpr("qv", "centv")), "probe_id", col("qcos").desc, "cent_id",
        IvfRefineProbes, "prk")
      .select(col("probe_id"), col("cent_id"))
    // PQ: train on the full set, encode, probe LUTs (pqAdcOn's stages)
    val v = pqExplode(e.select(col("vec_id").as("id"), col("embedding").as("vec")), PqSubDim)
    val pq = new Lloyd(v, Seq("sub"), PqK)
    val pqCents = pq.train(PqIters)
    val codes = pq.assign(pqCents)
      .select(col("id"), col("sub"), pmod(col("amin"), lit(16L)).as("cid"))
    val lut = v.filter(col("id") < AdcProbes)
      .withColumnRenamed("id", "probe_id")
      .join(broadcast(pq.narrow(pqCents)), Seq("sub", "d"))
      .groupBy(col("probe_id"), col("sub"), col("cid"))
      .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("ld"))
    // ADC restricted to probed cells: codes ⋈ cell ⋈ probe map ⋈ LUT
    val short = topK(codes
        .join(cellOf.select(col("c_id").as("id"), col("cent_id")), Seq("id"))
        .join(broadcast(probeCells), Seq("cent_id"))
        .join(broadcast(lut), Seq("probe_id", "sub", "cid"))
        .groupBy(col("probe_id"), col("id").as("vec_id"), col("cent_id"))
        .agg(sum(col("ld")).as("adc_dist2")), "probe_id", col("adc_dist2"), "vec_id",
        IvfPqShortlist, "srk")
      .select(col("probe_id"), col("vec_id"), col("cent_id"), col("adc_dist2"))
    // exact refine of the shortlist only
    topK(short
        .join(e.select(col("vec_id"), col("embedding").as("cv")), Seq("vec_id"))
        .join(broadcast(e.filter(col("vec_id") < AdcProbes)
          .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))), Seq("probe_id"))
        .withColumn("cos", cosExpr("qv", "cv")), "probe_id", col("cos").desc, "vec_id", AdcTopK)
      .select(col("probe_id"), col("vec_id"), col("cent_id"), col("adc_dist2"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk").cast("int").as("rk"))
      .transform(graft.util.Cols.verifySort(_, col("probe_id"), col("rk")))
  }

  def ivfPqSql: String =
    s"""$pqCodesLutSql,
       |cents AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
       |          ORDER BY (vec_id * 1000003 + 12289) % $P, vec_id LIMIT $IvfK),
       |cand AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id >= $AdcProbes),
       |assign0 AS (SELECT c_id, cent_id,
       |             row_number() OVER (PARTITION BY c_id ORDER BY ${cosSql("cv", "centv")} DESC, cent_id) AS ark
       |            FROM cand CROSS JOIN cents),
       |cellof AS (SELECT c_id, cent_id FROM assign0 WHERE ark = 1),
       |qs AS (SELECT vec_id AS probe_id, embedding AS qv FROM embeddings WHERE vec_id < $AdcProbes),
       |probe0 AS (SELECT probe_id, cent_id,
       |            row_number() OVER (PARTITION BY probe_id ORDER BY ${cosSql("qv", "centv")} DESC, cent_id) AS prk
       |           FROM qs CROSS JOIN cents),
       |probecells AS (SELECT probe_id, cent_id FROM probe0 WHERE prk <= $IvfRefineProbes),
       |adc AS (SELECT p.probe_id, codes.id AS vec_id, p.cent_id,
       |         CAST(sum(ld) AS BIGINT) AS adc_dist2
       |        FROM codes
       |        JOIN cellof ON codes.id = cellof.c_id
       |        JOIN probecells p ON cellof.cent_id = p.cent_id
       |        JOIN lut ON lut.probe_id = p.probe_id AND lut.sub = codes.sub AND lut.cid = codes.cid
       |        GROUP BY 1, 2, 3),
       |short AS (SELECT probe_id, vec_id, cent_id, adc_dist2,
       |           row_number() OVER (PARTITION BY probe_id ORDER BY adc_dist2, vec_id) AS srk
       |          FROM adc),
       |s2 AS (SELECT s.probe_id, s.vec_id, s.cent_id, s.adc_dist2,
       |        ${cosSql("qv", "cv")} AS cos
       |       FROM short s
       |       JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c ON s.vec_id = c.vec_id
       |       JOIN qs ON s.probe_id = qs.probe_id
       |       WHERE s.srk <= $IvfPqShortlist),
       |r AS (SELECT probe_id, vec_id, cent_id, adc_dist2, cos,
       |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk FROM s2)
       |SELECT probe_id, vec_id, cent_id, adc_dist2,
       | floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= $AdcTopK ORDER BY probe_id, rk""".stripMargin

  /** One unrolled Lloyd run over CTE `src(id, d, qx)` as a WITH-body
    * fragment: centroid chain `$pfx0..$pfx$KmIters`, assignments
    * `${pfx}a$i`, final `${pfx}fin(id, cluster, dist2)` — the oracle
    * twin of [[Lloyd]], shared by the kmeans and RQ oracles.
    */
  private def lloydCtes(src: String, pfx: String,
      hashSeeds: Boolean = false): String = {
    def assignFrom(c: String): String =
      s"""SELECT id, CAST(min(dist2 * 16 + cid) AS BIGINT) AS amin FROM (
         |  SELECT id, cid, CAST(sum((qx - cq) * (qx - cq)) AS BIGINT) AS dist2
         |  FROM $src JOIN $c USING (d) GROUP BY 1, 2) GROUP BY 1""".stripMargin
    val head =
      if (hashSeeds)
        s"""${pfx}s AS (SELECT id, rn - 1 AS cid FROM (
           |  SELECT id, row_number() OVER (ORDER BY
           |    (((id * 1000003 + 12289) % $P) * ((id * 1000003 + 12289) % $P)) % $P, id) AS rn
           |  FROM (SELECT DISTINCT id FROM $src)) WHERE rn <= $KmK),
           |${pfx}0 AS (SELECT s.cid, t.d, t.qx AS cq
           |  FROM ${pfx}s s JOIN $src t ON s.id = t.id)""".stripMargin
      else
        s"${pfx}0 AS (SELECT id AS cid, d, qx AS cq FROM $src WHERE id < $KmK)"
    val steps = (1 to KmIters).map { i =>
      s"""${pfx}a$i AS (SELECT id, CAST(amin % 16 AS BIGINT) AS cid FROM (${assignFrom(s"$pfx${i - 1}")})),
         |$pfx$i AS (SELECT cid, d, CAST(sum(qx) // count(*) AS BIGINT) AS cq
         |        FROM $src JOIN ${pfx}a$i USING (id) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val fin =
      s"""${pfx}fin AS (SELECT id, CAST(amin % 16 AS INTEGER) AS cluster,
         |       CAST(amin // 16 AS BIGINT) AS dist2
         |       FROM (${assignFrom(s"$pfx$KmIters")}))""".stripMargin
    s"$head,\n$steps,\n$fin"
  }

  /** The kmeans assignment as a reusable WITH-body ending in
    * `km(vec_id, cluster, dist2_fixed)` — shared by [[kmeansSql]] and
    * the SemDeDup / RQ oracles (the library's oracles compose exactly
    * like its operators do).
    */
  private def kmeansCtes: String =
    s"""v AS (SELECT vec_id AS id, d,
       |  CAST(floor((CAST(embedding[d] AS DOUBLE) + 1.0) * $KmQ.0 + 0.5) AS BIGINT) AS qx
       |  FROM embeddings, generate_series(1, 64) AS g(d)),
       |${lloydCtes("v", "c")},
       |km AS (SELECT id AS vec_id, cluster, dist2 AS dist2_fixed FROM cfin)""".stripMargin

  def kmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cluster, dist2_fixed FROM km ORDER BY vec_id""".stripMargin

  /** Cosine threshold for [[semanticDedupOn]]'s exemplar comparison
    * (shared with the oracle literal).
    */
  val SemTheta = 0.5

  /** dedup_semantic — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * semantic dedup WITHOUT a pairwise pass. Cluster the embeddings,
    * then compare each member only to its cluster EXEMPLAR (the member
    * nearest the centroid — min (dist2, id), deterministic); a member
    * at cosine ≥ [[SemTheta]] to its exemplar is a semantic duplicate.
    * Near-identical points land in one cluster and score ≈1 against
    * its exemplar, so the O(cluster²) pairwise scoring of the paper's
    * GPU formulation collapses to O(N) comparisons.
    *
    * Scale shape: the exemplar table is k rows (argmin AGGREGATION over
    * the assignment — min(struct), map-side combined, no window) and
    * BROADCASTS; the scoring pass is one scan of the members joined to
    * that broadcast — zero extra shuffle beyond the clustering itself.
    * The assignment is a SEAM: the testdata binding uses the exact
    * fixed-point [[kmeansOn]] (k ≤ 16, value-oracled end to end); at
    * corpus scale swap in the dense LSH-assigned IVF cell table
    * (`ivfRefineAssigned`'s 4096-cell shape) so cluster count grows
    * ~√N while this operator's plan is unchanged — exemplar row count
    * stays cells-bounded, still broadcastable.
    *
    * Cosines are the exact-IEEE [[graft.functions.FloatVecDot]] fold →
    * fully value-oracled (kmeans assignment is integer-exact, so the
    * whole composite hashes).
    * Output: (vec_id, cluster, ex_id, cos_exemplar, is_dup).
    */
  def semanticDedupOn(assign: DataFrame, vectors: DataFrame,
      threshold: Double = SemTheta): DataFrame = {
    // the assignment subtree (a full Lloyd chain when fed by kmeansOn)
    // is consumed twice — exemplar argmin AND member scoring; cache it
    // so the iterations run once
    val a = assign.transform(graft.util.CacheScope.cached)
    val ex = a
      .groupBy(col("cluster"))
      .agg(min(struct(col("dist2_fixed"), col("vec_id"))).as("m"))
      .select(col("cluster"), col("m.vec_id").as("ex_id"))
    val exv = ex.join(
      vectors.select(col("vec_id").as("ex_id"), col("vec").as("ex_vec")), Seq("ex_id"))
    a.join(vectors, Seq("vec_id"))
      .join(broadcast(exv), Seq("cluster"))
      .withColumn("cos", cosExpr("vec", "ex_vec"))
      .select(col("vec_id"), col("cluster"), col("ex_id"),
        Cols.pround(col("cos"), 6).as("cos_exemplar"),
        when(col("vec_id") =!= col("ex_id") && col("cos") >= threshold, 1)
          .otherwise(0).cast("int").as("is_dup"))
  }

  /** dedup_semantic testdata binding: fixed-point kmeans assignment
    * over the embeddings table.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("vec"))
    semanticDedupOn(
      kmeansOn(v.select(col("vec_id").as("id"), col("vec"))), v)
      .transform(graft.util.Cols.verifySort(_, col("vec_id")))
  }

  def semanticDedupSql: String =
    s"""WITH $kmeansCtes,
       |ex AS (SELECT cluster, vec_id AS ex_id FROM (
       |       SELECT cluster, vec_id,
       |         row_number() OVER (PARTITION BY cluster ORDER BY dist2_fixed, vec_id) AS rn
       |       FROM km) WHERE rn = 1),
       |s AS (SELECT km.vec_id, km.cluster, ex.ex_id,
       |       ${cosSql("m.embedding", "x.embedding")} AS cos
       |      FROM km JOIN ex USING (cluster)
       |      JOIN embeddings m ON km.vec_id = m.vec_id
       |      JOIN embeddings x ON ex.ex_id = x.vec_id)
       |SELECT vec_id, cluster, ex_id,
       | floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_exemplar,
       | CAST(CASE WHEN vec_id <> ex_id AND cos >= $SemTheta THEN 1 ELSE 0 END AS INTEGER) AS is_dup
       |FROM s ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------- knn graph

  /** NN-Descent contract constants, shared by [[knnGraphOn]] and the
    * unrolled oracle: graph degree k, neighbor-of-neighbor rounds, the
    * per-node cap on the undirected neighbor set entering the
    * candidate self-join, and the deterministic init offsets.
    */
  val KnnGraphK = 4
  val KnnGraphRounds = 3
  val KnnGraphCap = 12
  val KnnGraphSteps = Seq(17L, 97L, 211L, 397L)
  val KnnGraphInitTables = 16
  val KnnGraphInitPlanes = 4
  val KnnGraphBucketCap = 64

  /** sim_knn_graph — approximate all-pairs k-NN GRAPH construction by
    * LSH-seeded NN-Descent (Dong et al., WWW 2011): initialize each
    * node's neighborhood from multi-table SRP bucket collisions
    * ([[KnnGraphInitTables]]×[[KnnGraphInitPlanes]], capped per node)
    * plus deterministic far offsets (id + fixed steps mod N — ids must
    * be dense 0..N−1, the testdata embeddings' shape; the offsets keep
    * sparse-bucket nodes connected), then repeat "a neighbor of my
    * neighbor is probably my neighbor": symmetrize the current graph,
    * self-join each node's (capped) neighbor set to propose candidate
    * pairs, keep every node's top-k by true cosine. Pure-random init
    * was measured at signal-recall 0.21 on this corpus — descent has
    * no gradient across no-signal neighborhoods, so the global
    * structure must come from the hash seeds (the standard hybrid; the
    * same library-composes-with-itself move as ivfRefineAssigned) and
    * descent then completes the clusters transitively.
    * This is the bulk-build primitive under graph ANN indexes (HNSW
    * layers, NSG) and corpus-wide near-dup mining — where the LSH/IVF
    * family answers point queries, NN-Descent builds the WHOLE graph
    * in O(rounds · N · cap²) comparisons instead of O(N²).
    *
    * Every step is deterministic and engine-portable: init offsets are
    * integer arithmetic, the cap ranks by the same LCG hash the k-hop
    * hub cap uses, cosines are the exact-IEEE [[graft.functions.FloatVecDot]]
    * fold, and all ties break on ids — so the whole 3-round descent
    * VALUE-ORACLES against an unrolled SQL twin (rare for ANN
    * structures; same rationale as the unrolled pagerank).
    *
    * Shape at scale (r17 fusion, guide §2.3/§2.4): per round, ONE
    * bounded map-side-combined aggregate builds each node's capped
    * undirected neighborhood as an array ([[graft.functions.HashCapAgg]]
    * — O(cap) state per node, at most cap longs per node cross the
    * exchange), candidate pairs EXPLODE from the array (≤ cap² per
    * node, never Σ deg², and no self-join), and the score pass rides
    * one node-key exchange that serves dedup AND the top-k window
    * (dropDuplicates over the same hash partitioning). The r16 form
    * paid four exchanges per round (undirected distinct, cap window,
    * pair self-join, merge distinct) plus the score window; measured
    * at local[32] the suite's whole NN-Descent family was job-count
    * bound on exactly those stages. Per-round localCheckpoint
    * (lineage truncation) unchanged. Output: (u, nbr, cos_sim, rk) —
    * k rows per node, result-identical to the window/self-join form.
    *
    * Driver tier: when the pinned (vec_id, embedding) frame fits Spark's
    * broadcast threshold in bytes ([[graft.util.Local.vectorsIfFits]]),
    * it is collected once and the whole build — LSH seeds, far seeds,
    * every round's cap → candidates → top-k — runs in the driver JVM
    * ([[knnGraphLocal]], through the same kernels) and comes back as a
    * LocalRelation: 3 jobs instead of 25 for 2000 vectors at sf0.1. The
    * distributed rounds run otherwise, over the same cached frame, and
    * for inputs whose semantics are Spark's own: null ids or
    * embeddings, duplicate vec_ids, a zero-norm vector (refused there
    * by name: its cosine is undefined), or ids within the far steps of
    * Long.MaxValue.
    * `spark.sql.autoBroadcastJoinThreshold=-1` selects the distributed
    * rounds for every input.
    */
  def knnGraphOn(vectors: DataFrame, k: Int = KnnGraphK,
      rounds: Int = KnnGraphRounds, cap: Int = KnnGraphCap,
      initPlanes: Int = KnnGraphInitPlanes): DataFrame = {
    // initPlanes defaults PINNED for oracle parity at testdata sizes
    // (where planesFor resolves to the same 4); scale callers pass
    // planesFor(n) — at 200k vectors the pinned default makes 16
    // buckets/table of ~12.5k members and the 64-member bucket cap
    // then evicts essentially every true neighbor (measured graph
    // recall 0.000; planesFor's 10 planes restore it)
    val v = vectors.select(col("vec_id"), col("embedding"))
      .transform(graft.util.CacheScope.cached) // joined 2× per round + init
    val g = graft.util.Local.vectorsIfFits(v)
      .filter(_.ids.forall(_ <= Long.MaxValue - KnnGraphSteps.max)) // far seeds can't overflow
      .map { vs =>
        val id = v.schema("vec_id").nullable
        // one partition, the shape AQE gives the distributed rounds' small
        // output: a local scan spreads its rows over every core, and each
        // downstream stage of a consumer (beam, HNSW, insert/delete) then
        // pays a task per slice (measured +13% tasks on sim_graph_beam)
        v.sparkSession.createDataFrame(
          java.util.Arrays.asList(knnGraphLocal(vs, k, rounds, cap, initPlanes): _*),
          StructType(Seq(StructField("u", LongType, id), StructField("nbr", LongType, id),
            StructField("cos", DoubleType), StructField("rk", IntegerType, nullable = false))))
          .coalesce(1)
      }
      .getOrElse(knnGraphDistributed(v, k, rounds, cap, initPlanes))
    g.select(col("u"), col("nbr"), Cols.pround(col("cos"), 6).as("cos_sim"),
      col("rk"))
  }

  /** [[knnGraphOn]]'s NN-Descent as Spark stages over the pinned
    * (vec_id, embedding) frame `v`: (u, nbr, cos, rk), the last round
    * checkpointed.
    */
  private def knnGraphDistributed(v: DataFrame, k: Int, rounds: Int, cap: Int,
      initPlanes: Int): DataFrame = {
    val n = v.count()
    // cap bucket MEMBERSHIP (the df-cap policy — a hot bucket degrades
    // to a deterministic sample), never the per-node candidate list by
    // hash: a hash-ordered node cap was measured to evict the cluster
    // mates the seeds exist to find (signal recall 0.23 vs 1.0).
    // Bounded aggregate, not a window: same (hash, id) order, same cap.
    val lshSeeds = pairsWithin(
      srpTables(v, Seq("vec_id"), "embedding", KnnGraphInitTables, initPlanes)
        .groupBy(col("t"), col("b"))
        .agg(graft.functions.HashCapAgg.column(col("vec_id"), KnnGraphBucketCap).as("bm")),
      "bm")
    val farSeeds = v.select(col("vec_id").as("u"),
        explode(array(KnnGraphSteps.take(k).map(s =>
          (col("vec_id") + lit(s)) % lit(n)): _*)).as("nbr"))
      .filter(col("u") =!= col("nbr"))
    var g = scoreTopK("knnGraphOn", lshSeeds.unionAll(farSeeds), v, k).localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      g = scoreTopK("knnGraphOn", g.select(col("u"), col("nbr")).unionAll(proposals(g, g, cap)),
          v, k)
        .localCheckpoint(true)
    }
    g
  }

  /** NN-Descent's one dedup-and-rank pass, shared by the build and the
    * insert/delete maintenance: (u, nbr) candidate `pairs` (duplicates
    * allowed) rejoin both endpoints' vectors from `corpus` (vec_id,
    * embedding) and keep each u's top k by exact cosine, nbr breaking
    * ties — (u, nbr, cos, rk). Dedup rides the node-key exchange the
    * rank window needs anyway: repartition(u) + a same-partitioning
    * (u, nbr) hash aggregate + the window sort is one exchange where
    * distinct + window paid two. A pair with a zero-norm vector has no
    * cosine: it raises a named error (operator `op` and the vec_id) in
    * place of Spark's divide by zero. The norm product is its own
    * projection, so each pair still computes three dot products.
    */
  private def scoreTopK(op: String, pairs: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def dot(a: String, b: String): Column = graft.functions.FloatVecDot.column(col(a), col(b))
    val zeroNorm = raise_error(concat(lit(s"$op: vec_id "),
      when(dot("uv", "uv") === 0.0, col("u")).otherwise(col("nbr")).cast("string"),
      lit(" has a zero-norm embedding; cosine similarity is undefined for it")))
    topK(pairs.repartition(col("u")).dropDuplicates("u", "nbr")
        .join(corpus.select(col("vec_id").as("u"), col("embedding").as("uv")), Seq("u"))
        .join(corpus.select(col("vec_id").as("nbr"), col("embedding").as("nv")), Seq("nbr"))
        .withColumn("den", sqrt(dot("uv", "uv") * dot("nv", "nv")))
        .withColumn("cos", when(col("den") === 0.0, zeroNorm)
          .otherwise(dot("uv", "nv") / col("den")))
        .select(col("u"), col("nbr"), col("cos")), "u", col("cos").desc, "nbr", k)
  }

  /** Every ordered pair of distinct ids within each row's id array
    * `arr`, as (u, nbr) — candidate pairs EXPLODE from a bounded array
    * (≤ cap² per row), never a self-join.
    */
  private def pairsWithin(df: DataFrame, arr: String): DataFrame =
    df.select(col(arr), explode(col(arr)).as("u"))
      .select(col("u"), explode(col(arr)).as("nbr"))
      .filter(col("u") =!= col("nbr"))

  /** NN-Descent's neighbor-of-neighbor proposal step: each node w's
    * undirected neighborhood — w's `out` edges (u = w) plus its `in`
    * edges (nbr = w) — capped at `cap` members in one bounded
    * map-side-combined aggregate ([[graft.functions.HashCapAgg]]: O(cap)
    * state per node, at most cap longs per node cross the exchange),
    * then every pair within it proposed, as (u, nbr).
    */
  private def proposals(out: DataFrame, in: DataFrame, cap: Int): DataFrame =
    pairsWithin(out.select(col("u").as("w"), col("nbr").as("x"))
      .unionAll(in.select(col("nbr").as("w"), col("u").as("x")))
      .groupBy(col("w"))
      .agg(graft.functions.HashCapAgg.column(col("x"), cap).as("xs")), "xs")

  /** [[knnGraphOn]]'s NN-Descent over collected vectors, step for step
    * with [[knnGraphDistributed]] and through the same kernels: buckets
    * by [[graft.functions.SrpBucket]], caps by
    * [[graft.functions.HashCapAgg.cap]], cosines by the
    * [[graft.functions.FloatVecDot]] fold as `d / sqrt(na · nb)`, and the
    * rank window's order (cos descending under Spark's double order —
    * NaN first, −0.0 = 0.0 — then nbr). A far seed whose nbr is no
    * vec_id is dropped, as the inner join drops it. (u, nbr, cos, rk)
    * rows, ids as BIGINT.
    */
  private def knnGraphLocal(vs: graft.util.Local.Vectors, k: Int, rounds: Int, cap: Int,
      initPlanes: Int): Seq[Row] = {
    import scala.collection.mutable.{ArrayBuilder, LongMap}
    val n = vs.size
    val index = LongMap.empty[Int]
    vs.ids.indices.foreach(i => index(vs.ids(i)) = i)
    // each node's candidate nbrs, duplicates included (scoring dedups)
    def fresh() = Array.fill(n)(new ArrayBuilder.ofInt)
    def pairsWithin(ids: ArrayBuilder.ofLong, c: Int, into: Array[ArrayBuilder.ofInt]): Unit = {
      val m = graft.functions.HashCapAgg.cap(ids.result().iterator, c).map(index)
      for (a <- m; b <- m if a != b) into(a) += b
    }
    def before(c1: Double, x1: Int, c2: Double, x2: Int): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(c1, c2)
      c > 0 || (c == 0 && vs.ids(x1) < vs.ids(x2))
    }
    // per node, its distinct candidates' top k: (nbr indices, cosines)
    def topK(cands: Array[ArrayBuilder.ofInt]): Array[(Array[Int], Array[Double])] =
      Array.tabulate(n) { u =>
        val c = cands(u).result()
        java.util.Arrays.sort(c)
        val (nb, cs) = (new Array[Int](k max 0), new Array[Double](k max 0))
        var m = 0
        c.indices.filter(j => j == 0 || c(j) != c(j - 1)).foreach { j =>
          val x = c(j)
          val s = graft.functions.FloatVecDot.dot(vs.vecs(u), vs.vecs(x)) /
            math.sqrt(vs.sq(u) * vs.sq(x))
          var p = m
          while (p > 0 && before(s, x, cs(p - 1), nb(p - 1))) p -= 1
          if (p < k) {
            m = math.min(m + 1, k)
            System.arraycopy(nb, p, nb, p + 1, m - 1 - p)
            System.arraycopy(cs, p, cs, p + 1, m - 1 - p)
            nb(p) = x
            cs(p) = s
          }
        }
        (nb.take(m), cs.take(m))
      }
    val seeds = fresh()
    (0 until KnnGraphInitTables).foreach { t =>
      val buckets = LongMap.empty[ArrayBuilder.ofLong]
      (0 until n).foreach { i =>
        buckets.getOrElseUpdate(graft.functions.SrpBucket.bucket(
          vs.vecs(i), initPlanes, t * initPlanes), new ArrayBuilder.ofLong) += vs.ids(i)
      }
      buckets.values.foreach(pairsWithin(_, KnnGraphBucketCap, seeds))
    }
    (0 until n).foreach { i =>
      KnnGraphSteps.take(k).foreach { s =>
        val nbr = (vs.ids(i) + s) % n
        if (nbr != vs.ids(i)) index.get(nbr).foreach(seeds(i) += _)
      }
    }
    var top = topK(seeds)
    (1 to rounds).foreach { _ =>
      val und = Array.fill(n)(new ArrayBuilder.ofLong)
      val next = fresh()
      for (u <- 0 until n; x <- top(u)._1) {
        und(u) += vs.ids(x)
        und(x) += vs.ids(u)
        next(u) += x
      }
      und.foreach(pairsWithin(_, cap, next))
      top = topK(next)
    }
    for (u <- 0 until n; r <- top(u)._1.indices)
      yield Row(vs.ids(u), vs.ids(top(u)._1(r)), top(u)._2(r), r + 1)
  }

  /** sim_knn_graph testdata binding. */
  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphOn(Tables.embeddings(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("u"), col("rk")))

  /** INCREMENTAL kNN-graph maintenance: admit a `delta` of new vectors
    * into an existing [[knnGraphOn]] graph WITHOUT a rebuild — the
    * vector-tier analog of `dedup_cross_corpus`'s incremental
    * admission, and the operation a daily crawl needs at 100 TB (a
    * 10B-vector graph cannot be rebuilt per day; a 0.1% delta must
    * cost ~0.1% of the build).
    *
    * Three delta-proportional stages:
    *  1. SEED — the arrivals LSH-bucket-join against the combined
    *     corpus (same SRP geometry and bucket df-cap as the builder;
    *     the delta side rides uncapped so a hot bucket cannot orphan
    *     an arrival), and every collision is introduced SYMMETRICALLY:
    *     the colliding resident nodes see the arrival as a candidate
    *     too, so new nodes become reachable, not just connected.
    *  2. RESCORE the AFFECTED set (arrivals + residents they collided
    *     with): each affected node's current edges merge with its
    *     introductions and re-rank by exact cosine top-k — untouched
    *     residents' adjacency is carried over BY REFERENCE, never
    *     recomputed.
    *  3. LOCAL NN-Descent REPAIR — `repairRounds` rounds of
    *     neighbor-of-neighbor proposals where the PIVOT is restricted
    *     to nodes whose adjacency actually CHANGED in stage 2
    *     (arrivals, plus residents an introduction displaced into):
    *     only neighborhoods an arrival actually entered propose pairs
    *     (bounded by |changed|·cap² per round), and only proposal
    *     endpoints rescore. This is the bounded local repair that
    *     lets an arrival's cluster re-link through it while the rest
    *     of the graph stays untouched — and it stays
    *     delta-proportional even when a modest delta collides with
    *     every LSH bucket (the collided-resident set saturates toward
    *     the corpus; the CHANGED set cannot).
    *
    * Deterministic end to end (same hash orderings, exact-IEEE
    * cosines, id tie-breaks as the builder). Work scales with
    * |delta|·cap², not N — the graph rows of never-affected nodes are
    * not even read back for scoring, only anti-joined by key.
    * Output: (u, nbr, cos_sim, rk) — the maintained graph, same
    * contract as [[knnGraphOn]].
    */
  def knnGraphInsert(graph: DataFrame, baseVectors: DataFrame, delta: DataFrame,
      k: Int = KnnGraphK, repairRounds: Int = 2, cap: Int = KnnGraphCap,
      initPlanes: Int = KnnGraphInitPlanes): DataFrame = {
    val all = baseVectors.select(col("vec_id"), col("embedding"))
      .unionByName(delta.select(col("vec_id"), col("embedding")))
      .transform(graft.util.CacheScope.cached) // scored against every stage
    // seeds stay builder-parity WIDE (every capped bucket member — a
    // per-arrival cap of 8/table was measured costing 9pts overall /
    // 46pts on arrival neighborhoods at sf0.01, because the builder's
    // own candidate budget IS the whole capped bucket): the wide part
    // is only SCORED once, which is delta-proportional; the bounded
    // part is the repair loop
    val seeds = bucketSeeds(delta, all, initPlanes)
    val intro = seeds.unionAll(seeds.select(col("nbr").as("u"), col("u").as("nbr")))
    val affected = intro.select(col("u")).distinct()
    val gEdges = graph.select(col("u"), col("nbr"))
    // `touched` (the nodes whose adjacency rows live in touchedAdj) is
    // DERIVED — touchedAdj's u-set IS the touched set at every step
    // (every affected node and every round's target scores ≥ 1 pair)
    val touchedAdj = scoreTopK("knnGraphInsert",
        gEdges.join(affected, Seq("u"), "left_semi").unionAll(intro), all, k)
      .localCheckpoint(true)
    // Repair PIVOTS: only nodes whose adjacency actually CHANGED in
    // the rescore above (arrivals have no prior rows, so every arrival
    // is a pivot; a resident is one only when an introduction entered
    // its top-k). The wide rescore touches every bucket-collided
    // resident ONCE (cheap, seed-proportional rows); the repair rounds
    // — the expensive part — follow actual graph MUTATIONS, which is
    // what keeps them delta-proportional even when a modest delta
    // blankets every LSH bucket and the collided set saturates toward
    // the corpus (measured at 200k vectors: pivoting on the full
    // collided set cost 0.58x a rebuild at a 1% delta; the naive
    // full-graph undirected-distinct per round cost 2.2x at 10%).
    val pivots = touchedAdj.select(col("u"), col("nbr"))
      .join(gEdges, Seq("u", "nbr"), "left_anti")
      .select(col("u")).distinct()
      .transform(graft.util.CacheScope.cached) // pivot filter every round
    repaired("knnGraphInsert", graph, gEdges, touchedAdj, pivots, _.select(col("u")), all,
      repairRounds, cap, k)
  }

  /** The capped-bucket LSH seed stage of the maintenance passes: each
    * node of `probes` (vec_id, embedding) paired with the capped
    * members of every bucket it falls in over `corpus` (same SRP
    * geometry and bucket df-cap as the builder; the probe side rides
    * uncapped so a hot bucket cannot orphan it), as (u, nbr). Only the
    * buckets a probe touches are capped: per-bucket caps are
    * independent, so restricting the aggregate's input to the consumed
    * buckets is result-identical, and it turns the seed stage's
    * dominant cost delta-proportional (a 1% purge measured the
    * full-corpus cap at ~half a rebuild by itself).
    */
  private def bucketSeeds(probes: DataFrame, corpus: DataFrame, planes: Int): DataFrame = {
    def buckets(df: DataFrame): DataFrame =
      srpTables(df, Seq("vec_id"), "embedding", KnnGraphInitTables, planes)
    val pb = buckets(probes).select(col("t"), col("b"), col("vec_id").as("u"))
      .transform(graft.util.CacheScope.cached) // keys filter + seed join
    val capped = buckets(corpus)
      .join(pb.select(col("t"), col("b")).distinct(), Seq("t", "b"), "left_semi")
      .groupBy(col("t"), col("b"))
      .agg(graft.functions.HashCapAgg.column(col("vec_id"), KnnGraphBucketCap).as("bm"))
    pb.join(capped, Seq("t", "b"))
      .select(col("u"), explode(col("bm")).as("nbr"))
      .filter(col("u") =!= col("nbr"))
  }

  /** The bounded local NN-Descent repair shared by [[knnGraphInsert]]
    * and [[knnGraphDelete]], which differ only in their `pivots` and in
    * `touched`, the set of nodes whose rows live in the current
    * adjacency (a function of it). `rounds` rounds of
    * neighbor-of-neighbor [[proposals]] inside the pivots' undirected
    * neighborhoods, rescoring only each round's proposal targets
    * against `corpus`; then the `carried` prior-graph rows of every
    * untouched node, by reference, plus the touched nodes' rows —
    * (u, nbr, cos_sim, rk), ids in `carried`'s type.
    */
  private def repaired(op: String, carried: DataFrame, gEdges: DataFrame, adj: DataFrame,
      pivots: DataFrame, touched: DataFrame => DataFrame, corpus: DataFrame, rounds: Int,
      cap: Int, k: Int): DataFrame = {
    // in-edges INTO the pivot set from the PRIOR graph, computed ONCE:
    // never-touched nodes' adjacency cannot change, so this
    // |pivots|*in-degree slice is the only part of the full edge set
    // the rounds ever re-read.
    // NOTE: a USING-join moves its key columns to the FRONT of the
    // output — every frame that later meets a positional unionAll is
    // re-selected to (u, nbr) explicitly, or one branch rides with
    // swapped columns (this exact bug halved the repair candidates
    // until the DuckDB twin caught it)
    val gInPiv = gEdges
      .join(pivots.select(col("u").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("u"), col("nbr"))
      .localCheckpoint(true)
    var touchedAdj = adj
    (1 to rounds).foreach { _ =>
      // the pivots' undirected neighborhoods only:
      //  out-edges — the pivots' CURRENT adjacency (pivots ⊆ touched,
      //  so touchedAdj carries it);
      //  in-edges  — the once-computed prior-graph slice with rows from
      //  since-touched sources swapped for their current ones.
      val curr = touchedAdj.select(col("u"), col("nbr"))
      val inPiv = gInPiv.join(touched(touchedAdj), Seq("u"), "left_anti")
        .unionAll(curr.join(pivots.select(col("u").as("nbr")), Seq("nbr"), "left_semi")
          .select(col("u"), col("nbr")))
      val cand = proposals(curr.join(pivots, Seq("u"), "left_semi"), inPiv, cap)
      // rescore ONLY this round's proposal targets; every other
      // touched node's adjacency is carried forward BY REFERENCE — the
      // per-round score volume is |cand| + |targets|·2k, not
      // |touched|·k (the all-touched rescore was measured dominating
      // the 1%-delta insert at 200k vectors). For a target the input
      // is a superset of its previous candidate list (current rows ∪
      // original edges ∪ proposals), so the deterministic top-k can
      // only hold or improve — re-surfaced previously-dropped edges
      // lose again.
      val targets = cand.select(col("u")).distinct()
        .transform(graft.util.CacheScope.cached) // three joins below
      val rescored = scoreTopK(op,
        gEdges.join(targets, Seq("u"), "left_semi")
          .unionAll(curr.join(targets, Seq("u"), "left_semi"))
          .unionAll(cand), corpus, k)
      touchedAdj = rescored
        .unionAll(touchedAdj.join(targets, Seq("u"), "left_anti"))
        .localCheckpoint(true)
    }
    // proposal ids come out of the cap arrays as BIGINT; the maintained
    // graph keeps the ids of the graph it was given
    carried.join(touched(touchedAdj), Seq("u"), "left_anti")
      .select(col("u"), col("nbr"), col("cos_sim"), col("rk"))
      .unionAll(graft.functions.HashCapAgg.castBack(touchedAdj.select(col("u"), col("nbr"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk")), Seq("u", "nbr"),
        carried.schema("u").dataType))
  }

  /** Delta-admission rounds for the [[knnGraphInsert]] driver binding
    * (bounded local NN-Descent repair — the sweep an arrival's
    * neighborhood needs to re-link through it).
    */
  val KnnInsertRepairRounds = 2


  /** The bindings' prebuilt graph ARTIFACTS, memoized per (session,
    * sfDir) under a name: one (session, sfDir) at a time, the build run
    * on the first request. Each is pinned with an eager
    * `localCheckpoint`, which survives `catalog.clearCache` — exactly
    * the artifact semantics the bench needs.
    */
  @volatile private var prebuilt: (SparkSession, String, Map[String, AnyRef]) =
    (null, null, Map.empty)
  private def memo[A <: AnyRef](spark: SparkSession, sfDir: String, name: String)(
      build: => A): A = synchronized {
    if (!(prebuilt._1 eq spark) || prebuilt._2 != sfDir) prebuilt = (spark, sfDir, Map.empty)
    prebuilt._3.get(name).map(_.asInstanceOf[A]).getOrElse {
      val a = build
      prebuilt = (spark, sfDir, prebuilt._3 + (name -> a))
      a
    }
  }

  /** Prebuilt 90%-corpus base graph for [[knnInsert]] — the
    * [[prebuiltKnnGraph]] accounting contract applied to maintenance:
    * in production the graph being MAINTAINED is a durable artifact
    * (that's the whole point of incremental admission — never
    * rebuild), so the bench pin must measure the insert pass, not a
    * rebuild-then-insert it exists to avoid. The build cost class is
    * already on the record as `sim_knn_graph`.
    */
  private def prebuiltInsertBase(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "insertBase") {
      val e = Tables.embeddings(spark, sfDir)
      val cut = e.count() * 9 / 10
      knnGraphOn(e.filter(col("vec_id") < cut)).localCheckpoint(true)
    }

  /** sim_knn_insert testdata binding: the NN-Descent graph over the
    * first 90% of the embeddings corpus (a prebuilt, memoized
    * artifact — see [[prebuiltInsertBase]]), admitting the last 10%
    * with [[knnGraphInsert]] — the whole maintenance pass (LSH seed →
    * affected rescore → local repair) is deterministic, so the
    * MAINTAINED graph value-oracles row for row against the unrolled
    * SQL twin ([[knnInsertSql]]); recall-vs-rebuild is gated
    * separately in AnnRecallSpec and the 200k ScaleRehearsal.
    */
  def knnInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val cut = e.count() * 9 / 10
    val base = e.filter(col("vec_id") < cut)
    val delta = e.filter(col("vec_id") >= cut)
    knnGraphInsert(prebuiltInsertBase(spark, sfDir), base, delta,
        repairRounds = KnnInsertRepairRounds)
      .transform(graft.util.Cols.verifySort(_, col("u"), col("rk")))
  }

  /** [[knnInsert]]'s oracle: the base build via [[knnGraphCtesFor]]
    * over the sub-corpus, then the insert's three stages unrolled CTE
    * by CTE — seed join, collided-set rescore, changed-pivot extraction (EXCEPT
    * against the prior edges), [[KnnInsertRepairRounds]] repair rounds — ending in the same (u, nbr, cos_sim, rk) graph.
    */
  def knnInsertSql: String = {
    val bg = s"bg$KnnGraphRounds" // the base build's final CTE
    val prelude =
      s"""icut AS MATERIALIZED (SELECT 9 * count(*) // 10 AS cut FROM embeddings),
         |${knnGraphCtesFor("b", "vec_id < (SELECT cut FROM icut)")},
         |iall AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
         |itb AS MATERIALIZED (SELECT vec_id, t,
         |      ${bucketTableSql("embedding", KnnGraphInitPlanes, "t")} AS b
         |      FROM iall, generate_series(0, ${KnnGraphInitTables - 1}) AS gt(t)),
         |iob AS MATERIALIZED (SELECT DISTINCT t, b FROM itb
         |      WHERE vec_id >= (SELECT cut FROM icut)),
         |icc AS MATERIALIZED (SELECT vec_id, t, b FROM (
         |      SELECT d.vec_id, d.t, d.b, row_number() OVER (PARTITION BY d.t, d.b
         |        ORDER BY (d.vec_id * 1103515245 + 12345) % 1000000007, d.vec_id) AS brk
         |      FROM itb d JOIN iob o ON d.t = o.t AND d.b = o.b)
         |      WHERE brk <= $KnnGraphBucketCap),
         |isd AS MATERIALIZED (SELECT DISTINCT d.vec_id AS u, c.vec_id AS nbr
         |      FROM itb d JOIN icc c ON d.t = c.t AND d.b = c.b AND d.vec_id <> c.vec_id
         |      WHERE d.vec_id >= (SELECT cut FROM icut)),
         |iin AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM isd UNION ALL SELECT nbr, u FROM isd)),
         |iaf AS MATERIALIZED (SELECT DISTINCT u FROM iin),
         |ige AS MATERIALIZED (SELECT u, nbr FROM $bg),
         |it0 AS MATERIALIZED (SELECT u FROM iaf),
         |ip0 AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM ige WHERE u IN (SELECT u FROM iaf)
         |      UNION ALL SELECT u, nbr FROM iin)),
         |${knnTopkSql("ip0", "ia0", "iall")},
         |ipv AS MATERIALIZED (SELECT DISTINCT u FROM (
         |      SELECT u, nbr FROM ia0 EXCEPT SELECT u, nbr FROM ige)),
         |igi AS MATERIALIZED (SELECT u, nbr FROM ige WHERE nbr IN (SELECT u FROM ipv))""".stripMargin
    val roundsSql = repairRoundsSql("i", "ipv", "iall", KnnInsertRepairRounds)
    val last = KnnInsertRepairRounds
    s"""WITH $prelude$roundsSql
       |SELECT u, nbr, ${Cols.proundSql("cos", 6)} AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT u, nbr, cos, rk FROM $bg WHERE u NOT IN (SELECT u FROM it$last)
       |      UNION ALL SELECT u, nbr, cos, rk FROM ia$last)
       |ORDER BY u, rk""".stripMargin
  }

  /** Delta-repair rounds for [[knnGraphDelete]] (same class as
    * [[KnnInsertRepairRounds]]).
    */
  val KnnDeleteRepairRounds = 2

  /** INCREMENTAL kNN-graph DELETION — the other half of the
    * maintenance story [[knnGraphInsert]] opened: tombstone a set of
    * vectors (a GDPR purge, a dedup eviction) and LOCALLY repair the
    * orphaned neighborhoods, because a 10B-vector graph cannot be
    * rebuilt for a 0.1% removal any more than for a 0.1% arrival.
    *
    * Delta-proportional stages (mirrors of the insert's three):
    *  1. ORPHANS — surviving nodes that pointed at a deleted node
    *     (their top-k lost members). Never-orphaned survivors' rows
    *     carry over BY REFERENCE — a node with no deleted neighbor is
    *     untouched by definition.
    *  2. CANDIDATES for each orphan: its surviving current edges,
    *     plus BRIDGES through the tombstone (the deleted node's other
    *     in/out neighbors — they were close to the deleted node,
    *     which was close to the orphan: the triangle-inequality
    *     replacement pool), plus an LSH re-seed against the capped
    *     surviving corpus (same SRP geometry as the builder) — the
    *     safety net for the adversarial case where a whole CLUSTER is
    *     purged and the bridges died with it. Exact-cosine top-k
    *     rescore over survivors only.
    *  3. LOCAL NN-Descent REPAIR — [[KnnDeleteRepairRounds]] rounds
    *     with the pivot set fixed to the orphans (every orphan's
    *     adjacency changed), proposing neighbor-of-neighbor pairs
    *     inside pivot neighborhoods only and rescoring only proposal
    *     targets — the same bounded repair loop as the insert, so the
    *     round cost is |orphans|·cap², not N.
    *
    * Deterministic end to end (builder hash orderings, exact-IEEE
    * cosines, id tie-breaks). Output: (u, nbr, cos_sim, rk) over the
    * SURVIVING node set — no deleted id appears on either side.
    */
  def knnGraphDelete(graph: DataFrame, vectors: DataFrame, deleteIds: DataFrame,
      k: Int = KnnGraphK, repairRounds: Int = KnnDeleteRepairRounds,
      cap: Int = KnnGraphCap, initPlanes: Int = KnnGraphInitPlanes): DataFrame = {
    val del = deleteIds.select(col("vec_id")).distinct()
      .transform(graft.util.CacheScope.cached) // anti-joined by 5 frames
    val survivors = vectors.select(col("vec_id"), col("embedding"))
      .join(del, Seq("vec_id"), "left_anti")
      .transform(graft.util.CacheScope.cached) // scored against every stage
    // the prior graph with every deleted endpoint dropped
    val gEdges = graph.select(col("u"), col("nbr"))
      .join(del.select(col("vec_id").as("u")), Seq("u"), "left_anti")
      .join(del.select(col("vec_id").as("nbr")), Seq("nbr"), "left_anti")
      .select(col("u"), col("nbr"))
      .transform(graft.util.CacheScope.cached)
    // (orphan, tombstone) incidences — the repair's work list
    val lost = graph.select(col("u"), col("nbr"))
      .join(del.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .join(del.select(col("vec_id").as("u")), Seq("u"), "left_anti")
      .select(col("u"), col("nbr").as("d"))
    val orphans = lost.select(col("u")).distinct()
      .transform(graft.util.CacheScope.cached) // pivot filter every round
    // bridges: the tombstone's surviving in/out neighbors, keyed by d
    val viaOut = graph.select(col("u").as("d"), col("nbr").as("c"))
      .join(del.select(col("vec_id").as("d")), Seq("d"), "left_semi")
      .join(del.select(col("vec_id").as("c")), Seq("c"), "left_anti")
    val viaIn = graph.select(col("nbr").as("d"), col("u").as("c"))
      .join(del.select(col("vec_id").as("d")), Seq("d"), "left_semi")
      .join(del.select(col("vec_id").as("c")), Seq("c"), "left_anti")
    val bridges = lost.join(viaOut.unionAll(viaIn).distinct(), Seq("d"))
      .filter(col("u") =!= col("c"))
      .select(col("u"), col("c").as("nbr")).distinct()
    // LSH re-seed of the orphans against the capped surviving corpus
    val seeds = bucketSeeds(survivors.join(orphans.select(col("u").as("vec_id")),
      Seq("vec_id"), "left_semi"), survivors, initPlanes)
    // the orphans' UNDIRECTED 2-hop through survivors: in-neighbors
    // (nodes that kept pointing at the orphan are symmetric-cosine
    // candidates), plus neighbors-of-surviving-neighbors — one
    // targeted NN-Descent expansion at seed time. Measured at 200k /
    // 10% spread purge: without this the repair landed 4.7pts under
    // the rebuild (0.626 vs 0.673) because round proposals only reach
    // an orphan through OTHER orphans' neighborhoods; with the 2-hop
    // pool the seed stage hands each orphan its local cluster
    // directly. |orphans|·k² rows — still delta-proportional.
    val inNbrs = gEdges
      .join(orphans.select(col("u").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("nbr").as("u"), col("u").as("nbr"))
    val orphanOut = gEdges.join(orphans, Seq("u"), "left_semi")
    val und1 = orphanOut.unionAll(inNbrs)
    val twoHop = und1.select(col("u"), col("nbr").as("v"))
      .join(gEdges.select(col("u").as("v"), col("nbr").as("w"))
        .unionAll(gEdges.select(col("nbr").as("v"), col("u").as("w"))), Seq("v"))
      .filter(col("u") =!= col("w"))
      .select(col("u"), col("w").as("nbr"))
    // stage-2 rescore: surviving edges ∪ in-neighbors ∪ 2-hop ∪
    // bridges ∪ LSH seeds, orphans only (scoreTopK dedups)
    val touchedAdj = scoreTopK("knnGraphDelete",
        und1.unionAll(twoHop).unionAll(bridges).unionAll(seeds), survivors, k)
      .localCheckpoint(true)
    // the touched set = orphans ∪ every round's rescored targets; the
    // targets are exactly touchedAdj's added u-rows, so it is DERIVED
    // (an orphan with zero candidates scores no rows but must still
    // leave the carry-by-reference branch, hence the explicit orphans
    // term). The pivots are the orphans: every one of them lost a
    // top-k member, so every one's adjacency changed (the insert
    // derives its pivot set because MOST collided residents don't
    // change; here all do). A node outside `touched` had NO deleted
    // neighbor, so its prior (cos_sim, rk) rows carry over unchanged.
    repaired("knnGraphDelete", graph.join(del.select(col("vec_id").as("u")), Seq("u"), "left_anti"),
      gEdges, touchedAdj, orphans, adj => orphans.unionAll(adj.select(col("u"))), survivors,
      repairRounds, cap, k)
  }

  /** sim_knn_delete testdata binding: purge every 20th vector (5%)
    * from the prebuilt full-corpus NN-Descent graph and locally
    * repair — deterministic end to end, so the maintained graph
    * value-oracles row for row against [[knnDeleteSql]];
    * recall-vs-rebuild is gated in AnnRecallSpec.
    */
  def knnDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val del = e.filter(pmod(col("vec_id"), lit(20L)) === 0L).select(col("vec_id"))
    knnGraphDelete(prebuiltKnnGraph(spark, sfDir), e, del)
      .transform(graft.util.Cols.verifySort(_, col("u"), col("rk")))
  }

  /** [[knnDelete]]'s oracle: the full-corpus build via
    * [[knnGraphCtesFor]], then the delete pass unrolled CTE by CTE —
    * orphan extraction, tombstone bridges, LSH re-seed over the
    * capped surviving corpus, orphan rescore, and
    * [[KnnDeleteRepairRounds]] pivot-bounded repair rounds — ending
    * in the same (u, nbr, cos_sim, rk) surviving graph.
    */
  def knnDeleteSql: String = {
    val bg = s"g$KnnGraphRounds" // the full-corpus build's final CTE
    val prelude =
      s"""${knnGraphCtesFor("", "TRUE")},
         |ddel AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 20 = 0),
         |dv AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
         |dge AS MATERIALIZED (SELECT u, nbr FROM $bg
         |      WHERE u NOT IN (SELECT vec_id FROM ddel)
         |        AND nbr NOT IN (SELECT vec_id FROM ddel)),
         |dls AS MATERIALIZED (SELECT u, nbr AS d FROM $bg
         |      WHERE nbr IN (SELECT vec_id FROM ddel)
         |        AND u NOT IN (SELECT vec_id FROM ddel)),
         |dor AS MATERIALIZED (SELECT DISTINCT u FROM dls),
         |dbc AS MATERIALIZED (SELECT DISTINCT d, c FROM (
         |      SELECT u AS d, nbr AS c FROM $bg WHERE u IN (SELECT vec_id FROM ddel)
         |        AND nbr NOT IN (SELECT vec_id FROM ddel)
         |      UNION ALL SELECT nbr AS d, u AS c FROM $bg WHERE nbr IN (SELECT vec_id FROM ddel)
         |        AND u NOT IN (SELECT vec_id FROM ddel))),
         |dbr AS MATERIALIZED (SELECT DISTINCT l.u, b.c AS nbr
         |      FROM dls l JOIN dbc b ON l.d = b.d WHERE b.c <> l.u),
         |dtb AS MATERIALIZED (SELECT vec_id, t,
         |      ${bucketTableSql("embedding", KnnGraphInitPlanes, "t")} AS b
         |      FROM dv, generate_series(0, ${KnnGraphInitTables - 1}) AS gt(t)),
         |dob AS MATERIALIZED (SELECT DISTINCT t, b FROM dtb
         |      WHERE vec_id IN (SELECT u FROM dor)),
         |dcc AS MATERIALIZED (SELECT vec_id, t, b FROM (
         |      SELECT d.vec_id, d.t, d.b, row_number() OVER (PARTITION BY d.t, d.b
         |        ORDER BY (d.vec_id * 1103515245 + 12345) % 1000000007, d.vec_id) AS brk
         |      FROM dtb d JOIN dob o ON d.t = o.t AND d.b = o.b)
         |      WHERE brk <= $KnnGraphBucketCap),
         |dsd AS MATERIALIZED (SELECT DISTINCT o.vec_id AS u, c.vec_id AS nbr
         |      FROM dtb o JOIN dcc c ON o.t = c.t AND o.b = c.b AND o.vec_id <> c.vec_id
         |      WHERE o.vec_id IN (SELECT u FROM dor)),
         |dt0 AS MATERIALIZED (SELECT u FROM dor),
         |du1 AS MATERIALIZED (SELECT u, nbr FROM dge WHERE u IN (SELECT u FROM dor)
         |      UNION ALL SELECT nbr AS u, u AS nbr FROM dge
         |      WHERE nbr IN (SELECT u FROM dor)),
         |dth AS MATERIALIZED (SELECT DISTINCT a.u, b.w AS nbr FROM du1 a
         |      JOIN (SELECT u AS v, nbr AS w FROM dge
         |            UNION ALL SELECT nbr AS v, u AS w FROM dge) b ON a.nbr = b.v
         |      WHERE b.w <> a.u),
         |dp0 AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM du1
         |      UNION ALL SELECT u, nbr FROM dth
         |      UNION ALL SELECT u, nbr FROM dbr
         |      UNION ALL SELECT u, nbr FROM dsd)),
         |${knnTopkSql("dp0", "da0", "dv")},
         |dgi AS MATERIALIZED (SELECT u, nbr FROM dge WHERE nbr IN (SELECT u FROM dor))""".stripMargin
    val roundsSql = repairRoundsSql("d", "dor", "dv", KnnDeleteRepairRounds)
    val last = KnnDeleteRepairRounds
    s"""WITH $prelude$roundsSql
       |SELECT u, nbr, ${Cols.proundSql("cos", 6)} AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT u, nbr, cos, rk FROM $bg
       |      WHERE u NOT IN (SELECT vec_id FROM ddel)
       |        AND u NOT IN (SELECT u FROM dt$last)
       |      UNION ALL SELECT u, nbr, cos, rk FROM da$last)
       |ORDER BY u, rk""".stripMargin
  }

  /** The NN-Descent build as a reusable WITH-body ending in
    * `g$KnnGraphRounds(u, nbr, cos, rk)` — shared by [[knnGraphSql]]
    * and the graph-beam oracle.
    */
  private def knnGraphCtes: String = knnGraphCtesFor("", "TRUE")

  /** [[knnGraphCtes]] generalized to a NODE SUBSET (`vPred` over
    * embeddings) with every CTE name prefixed `px` — the HNSW oracle
    * builds one NN-Descent graph per layer this way; the default
    * ("", TRUE) instance is byte-identical to the historical body.
    * Ends in `${px}g$KnnGraphRounds(u, nbr, cos, rk)`.
    */
  private def knnGraphCtesFor(px: String, vPred: String): String = {
    val steps = KnnGraphSteps.take(KnnGraphK).map(s => s"($s)").mkString(", ")
    val prelude =
      s"""${px}v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE $vPred),
         |${px}nn AS MATERIALIZED (SELECT count(*) AS n FROM ${px}v),
         |${px}tb AS MATERIALIZED (SELECT vec_id, t,
         |      ${bucketTableSql("embedding", KnnGraphInitPlanes, "t")} AS b
         |      FROM ${px}v, generate_series(0, ${KnnGraphInitTables - 1}) AS gt(t)),
         |${px}tc AS MATERIALIZED (SELECT vec_id, t, b FROM (
         |      SELECT vec_id, t, b, row_number() OVER (PARTITION BY t, b
         |        ORDER BY (vec_id * 1103515245 + 12345) % 1000000007, vec_id) AS brk
         |      FROM ${px}tb) WHERE brk <= $KnnGraphBucketCap),
         |${px}ls AS MATERIALIZED (SELECT DISTINCT a.vec_id AS u, b.vec_id AS nbr FROM ${px}tc a
         |      JOIN ${px}tc b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id),
         |${px}i0 AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM ${px}ls
         |      UNION ALL SELECT vec_id AS u, (vec_id + s) % n AS nbr
         |      FROM ${px}v CROSS JOIN ${px}nn CROSS JOIN (VALUES $steps) AS st(s)
         |      WHERE (vec_id + s) % n <> vec_id)),
         |${knnTopkSql(s"${px}i0", s"${px}g0", s"${px}v")}""".stripMargin
    val roundsSql = (1 to KnnGraphRounds).map { r =>
      s"""${px}u$r AS MATERIALIZED (SELECT DISTINCT w, x FROM (
         |      SELECT u AS w, nbr AS x FROM ${px}g${r - 1}
         |      UNION ALL SELECT nbr, u FROM ${px}g${r - 1})),
         |${neighborCapSql(s"${px}c$r", s"${px}u$r")},
         |${px}p$r AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT a.x AS u, b.x AS nbr FROM ${px}c$r a JOIN ${px}c$r b ON a.w = b.w AND a.x <> b.x
         |      UNION ALL SELECT u, nbr FROM ${px}g${r - 1})),
         |${knnTopkSql(s"${px}p$r", s"${px}g$r", s"${px}v")}""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"$prelude$roundsSql"
  }

  /** The NN-Descent oracles' scoreTopK: (u, nbr) CTE `pairs` scored
    * against the vectors of `vTab`, each u's top [[KnnGraphK]] as CTE
    * `out`(u, nbr, cos, rk).
    */
  private def knnTopkSql(pairs: String, out: String, vTab: String): String =
    s"""$out AS MATERIALIZED (SELECT u, nbr, cos, rk FROM (
       | SELECT u, nbr, cos, row_number() OVER (PARTITION BY u ORDER BY cos DESC, nbr) AS rk
       | FROM (SELECT p.u, p.nbr, ${cosSql("a.embedding", "b.embedding")} AS cos
       |       FROM $pairs p JOIN $vTab a ON p.u = a.vec_id JOIN $vTab b ON p.nbr = b.vec_id))
       | WHERE rk <= $KnnGraphK)""".stripMargin

  /** The oracles' neighbor cap: CTE `out`(w, x) keeps each w's first
    * [[KnnGraphCap]] members of CTE `in`(w, x) in HashCapAgg's order.
    */
  private def neighborCapSql(out: String, in: String): String =
    s"""$out AS MATERIALIZED (SELECT w, x FROM (
       |      SELECT w, x, row_number() OVER (PARTITION BY w
       |        ORDER BY (x * 1103515245 + 12345) % 1000000007, x) AS crk FROM $in)
       |      WHERE crk <= $KnnGraphCap)""".stripMargin

  /** The unrolled bounded repair rounds of the insert/delete oracles,
    * CTEs prefixed `px`: pivots `piv`, vectors `vTab`, prior edges
    * `${px}ge`, their in-edges into the pivots `${px}gi`, and round r's
    * adjacency `${px}a$r` and touched set `${px}t$r`.
    */
  private def repairRoundsSql(px: String, piv: String, vTab: String, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""${px}und$r AS MATERIALIZED (SELECT DISTINCT w, x FROM (
         |      SELECT u AS w, nbr AS x FROM ${px}a${r - 1} WHERE u IN (SELECT u FROM $piv)
         |      UNION ALL SELECT nbr AS w, u AS x FROM (
         |        SELECT u, nbr FROM ${px}gi WHERE u NOT IN (SELECT u FROM ${px}t${r - 1})
         |        UNION ALL SELECT u, nbr FROM ${px}a${r - 1} WHERE nbr IN (SELECT u FROM $piv)))),
         |${neighborCapSql(s"${px}uc$r", s"${px}und$r")},
         |${px}cd$r AS MATERIALIZED (SELECT DISTINCT a.x AS u, b.x AS nbr
         |      FROM ${px}uc$r a JOIN ${px}uc$r b ON a.w = b.w AND a.x <> b.x),
         |${px}tg$r AS MATERIALIZED (SELECT DISTINCT u FROM ${px}cd$r),
         |${px}t$r AS MATERIALIZED (SELECT DISTINCT u FROM (
         |      SELECT u FROM ${px}t${r - 1} UNION ALL SELECT u FROM ${px}tg$r)),
         |${px}p$r AS MATERIALIZED (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM ${px}ge WHERE u IN (SELECT u FROM ${px}tg$r)
         |      UNION ALL SELECT u, nbr FROM ${px}a${r - 1} WHERE u IN (SELECT u FROM ${px}tg$r)
         |      UNION ALL SELECT u, nbr FROM ${px}cd$r)),
         |${knnTopkSql(s"${px}p$r", s"${px}an$r", vTab)},
         |${px}a$r AS MATERIALIZED (SELECT u, nbr, cos, rk FROM ${px}an$r
         |      UNION ALL SELECT u, nbr, cos, rk FROM ${px}a${r - 1}
         |      WHERE u NOT IN (SELECT u FROM ${px}tg$r))""".stripMargin
    }.mkString(",\n", ",\n", "")

  def knnGraphSql: String =
    s"""WITH $knnGraphCtes
       |SELECT u, nbr, ${Cols.proundSql("cos", 6)} AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM g$KnnGraphRounds ORDER BY u, rk""".stripMargin

  /** Graph-beam search contract constants, shared with the oracle:
    * LSH seed geometry (tables × planes, same as the graph's own init),
    * entry count per probe, frontier width, expansion rounds, emitted
    * top-k.
    */
  val BeamSeedTables = 16
  val BeamSeedPlanes = 4
  val BeamE = 8
  val BeamWidth = 8
  val BeamRounds = 2
  val BeamK = 5

  /** sim_graph_beam — LSH-seeded FRONTIER-BEAM search over the
    * NN-Descent k-NN graph: the query half of a graph-ANN index,
    * decomposed the way HNSW decomposes — a coarse long-range locator
    * (here multi-table SRP buckets, standing in for the upper layers)
    * drops each probe near its cluster, then [[BeamRounds]] rounds of
    * graph expansion complete the neighborhood locally. Seeds are the
    * probe's top-[[BeamE]] exact-cosine bucket collisions; each round
    * expands the current FRONTIER (last round's newly-kept nodes, NOT
    * the global best — greedy re-expansion of the best-so-far was
    * measured stalling at recall 0.375 on this corpus because the walk
    * re-visits its optima instead of moving) by the UNDIRECTED edges,
    * anti-joins the visited set, keeps the top-[[BeamWidth]] new nodes
    * per probe by exact cosine, and accumulates them into the result
    * pool; emit the pool's top-[[BeamK]]. Measured on the testdata
    * graph: recall@5 = 1.000 vs brute force (seeds alone 0.975,
    * directed greedy beam from fixed entries 0.125).
    *
    * Why this completes the ANN family: LSH/IVF bucket GEOMETRY and
    * must rescan a bucket's whole population per probe; the graph walk
    * spends O(rounds · width · degree) exact scores per probe,
    * INDEPENDENT OF N once the graph exists — the property that makes
    * graph indexes the state of the art at billion-vector scale.
    *
    * Scale shape: the graph build is the prebuilt [[knnGraphOn]]
    * artifact (amortized across every probe batch; cached here since
    * the undirected edge list is re-joined every round); seeding is
    * the standard slim (id, t, b) bucket equi-join; each round is one
    * equi-join of the slim (probe, node) frontier against the edge
    * list + one anti-join against the visited pool + one vector rejoin
    * to score + a per-probe top-W window (WindowGroupLimit prunes
    * map-side). Probes ride as rows — a million concurrent probes
    * batch through the same joins, never a driver-side loop per query.
    *
    * Every step is deterministic (pinned seed geometry, exact-IEEE
    * cosine fold, id tie-breaks) → fully value-oracled against an
    * unrolled SQL twin composed onto the [[knnGraphCtes]] build.
    * Output: (q_id, c_id, cos_sim, rk).
    */
  /** The frontier-beam core from CALLER-PROVIDED seed candidates —
    * [[graphBeamOn]] supplies LSH bucket collisions, [[hnswOn]] the
    * upper layer's descent output. Plan shape identical either way:
    * slim (q_id, c_id) frontier equi-joins against the cached
    * undirected edge list, visited anti-join, broadcast probe rejoin
    * to score, per-probe top-W window (WindowGroupLimit map-side).
    */
  private def beamFrom(graph: DataFrame, vectors: DataFrame, queries: DataFrame,
      seedCand: DataFrame, entries: Int, width: Int, rounds: Int,
      k: Int): DataFrame = {
    val und = graph.select(col("u"), col("nbr"))
      .unionAll(graph.select(col("nbr").as("u"), col("u").as("nbr")))
      .distinct()
      .transform(graft.util.CacheScope.cached) // re-joined every round
    // r17 fusion: candidate dedup (and the visited-set anti-join) ride
    // the probe-key exchange the rank window needs anyway — one
    // exchange per score pass where distinct + window paid two
    def score(cand: DataFrame, keep: Int,
        excl: Option[DataFrame] = None): DataFrame = {
      val dd = cand.repartition(col("q_id")).dropDuplicates("q_id", "c_id")
      val fresh = excl.map(e => dd.join(e, Seq("q_id", "c_id"), "left_anti"))
        .getOrElse(dd)
      topK(fresh.join(vectors, Seq("c_id")).join(broadcast(queries), Seq("q_id"))
          .withColumn("cos", cosExpr("qv", "cv"))
          .select(col("q_id"), col("c_id"), col("cos")), "q_id", col("cos").desc, "c_id", keep, "srk")
        .drop("srk")
    }
    // every round's pool is re-read by the anti-join, the union, and
    // the final window — cache each round's (tiny: probes × width rows)
    // increment so the seed-scoring subtree runs once, not per round.
    // persist, NOT per-round localCheckpoint: ~0.7 s of eager-job
    // overhead per checkpoint swamps these row counts (measured +2.1 s
    // on the 2-round beam, +3 s on the hierarchy); the lineage-growth
    // ceiling this implies is ~4 rounds per beam — callers needing
    // deeper walks checkpoint BETWEEN beams (hnswSearchOn does).
    var visited = score(seedCand, entries)
      .transform(graft.util.CacheScope.cached)
    var frontier = visited.select(col("q_id"), col("c_id"))
    (1 to rounds).foreach { _ =>
      val expand = frontier.withColumnRenamed("c_id", "u")
        .join(und, Seq("u"))
        .select(col("q_id"), col("nbr").as("c_id"))
        .filter(col("c_id") =!= col("q_id"))
      val kept = score(expand, width,
          excl = Some(visited.select(col("q_id"), col("c_id"))))
        .transform(graft.util.CacheScope.cached)
      visited = visited.unionAll(kept)
      frontier = kept.select(col("q_id"), col("c_id"))
    }
    topK(visited, "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), Cols.pround(col("cos"), 6).as("cos_sim"),
        col("rk"))
  }

  def graphBeamOn(graph: DataFrame, vectors: DataFrame, queries: DataFrame,
      entries: Int = BeamE, width: Int = BeamWidth,
      rounds: Int = BeamRounds, k: Int = BeamK,
      seedPlanes: Int = AutoPlanes): DataFrame = {
    val p = resolvePlanes(seedPlanes, vectors)
    val seedCand = srpTables(queries, Seq("q_id"), "qv", BeamSeedTables, p)
      .join(srpTables(vectors, Seq("c_id"), "cv", BeamSeedTables, p), Seq("t", "b"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")) // beamFrom's score pass dedups
    beamFrom(graph, vectors, queries, seedCand, entries, width, rounds, k)
  }

  /** Prebuilt kNN-graph ARTIFACT for the beam binding ([[memo]]), so
    * repeated beam queries consume the graph without re-running the
    * NN-Descent build. This is the production shape: at scale the
    * graph is built once (benched separately as `sim_knn_graph`) and
    * amortized across every probe batch, so `sim_graph_beam`'s bench
    * pin measures the SEARCH path — the N-independent number that
    * matters — not build+search re-paid per run (r9 flagged the
    * combined 22.5 s pin as misrepresenting a 7.5 s query path).
    * Deterministic build → memoization cannot change results (the
    * build's own partition-invariance is gated directly on
    * `sim_knn_graph`).
    */
  private def prebuiltKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "knnGraph") {
      knnGraphOn(Tables.embeddings(spark, sfDir)).localCheckpoint(true)
    }

  /** sim_graph_beam testdata binding: probes = the first 8 vectors
    * (searched against the full-corpus graph, self-hits excluded);
    * seed depth pinned at [[BeamSeedPlanes]] for oracle parity (the
    * AutoPlanes default applies the log2(N/250) rule at scale). The
    * graph comes from [[prebuiltKnnGraph]] — a once-per-session
    * artifact, so this query's cost is the search path only.
    */
  def graphBeam(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    graphBeamOn(
      prebuiltKnnGraph(spark, sfDir),
      e.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
      probeSplit(e)._1, seedPlanes = BeamSeedPlanes)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  /** The beam oracles' score pass: candidate CTE `cand`(q_id, c_id)
    * scored against probes `qs` and the vectors of `vTab`, each probe's
    * top `keep` as CTE `out`(q_id, c_id, cos).
    */
  private def beamScoreSql(cand: String, vTab: String, out: String, keep: Int): String =
    s"""$out AS MATERIALIZED (SELECT q_id, c_id, cos FROM (
       | SELECT q_id, c_id, cos,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS srk
       | FROM (SELECT p.q_id, p.c_id, ${cosSql("q.qv", "b.embedding")} AS cos
       |       FROM $cand p JOIN qs q ON p.q_id = q.q_id
       |       JOIN $vTab b ON p.c_id = b.vec_id))
       | WHERE srk <= $keep)""".stripMargin

  /** The beam oracles' expansion rounds 1..`rounds` over CTEs prefixed
    * `px`: round r expands `${px}vis${r-1}` along `${px}und`, drops the
    * visited pool, and keeps each probe's top `keep` as `${px}vis$r`.
    */
  private def beamRoundsSql(px: String, vTab: String, rounds: Int, keep: Int): String =
    (1 to rounds).map { r =>
      val pool = (0 until r).map(i => s"SELECT q_id, c_id FROM ${px}vis$i").mkString(" UNION ALL ")
      s"""${px}e$r AS (SELECT q_id, c_id FROM (
         |      SELECT DISTINCT f.q_id, g.nbr AS c_id
         |      FROM ${px}vis${r - 1} f JOIN ${px}und g ON f.c_id = g.u
         |      WHERE g.nbr <> f.q_id) n
         |      WHERE NOT EXISTS (SELECT 1 FROM ($pool) p
         |                        WHERE p.q_id = n.q_id AND p.c_id = n.c_id)),
         |${beamScoreSql(s"${px}e$r", vTab, s"${px}vis$r", keep)}""".stripMargin
    }.mkString(",\n", ",\n", "")

  /** The beam oracles' result: the pooled `vis0..vis$rounds` top [[BeamK]]. */
  private def beamResultSql(rounds: Int): String = {
    val all = (0 to rounds).map(i => s"SELECT q_id, c_id, cos FROM vis$i").mkString(" UNION ALL ")
    s"""SELECT q_id, c_id, ${Cols.proundSql("cos", 6)} AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM (SELECT q_id, c_id, cos,
       |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |      FROM ($all))
       |WHERE rk <= $BeamK ORDER BY q_id, rk""".stripMargin
  }

  def graphBeamSql: String = {
    val prelude =
      s"""WITH $knnGraphCtes,
         |und AS (SELECT DISTINCT u, nbr FROM (
         |      SELECT u, nbr FROM g$KnnGraphRounds
         |      UNION ALL SELECT nbr, u FROM g$KnnGraphRounds)),
         |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |qb AS (SELECT q_id, t, ${bucketTableSql("qv", BeamSeedPlanes, "t")} AS b
         |       FROM qs, generate_series(0, ${BeamSeedTables - 1}) AS gt(t)),
         |cb AS (SELECT vec_id AS c_id, t, ${bucketTableSql("embedding", BeamSeedPlanes, "t")} AS b
         |       FROM v, generate_series(0, ${BeamSeedTables - 1}) AS gt(t)),
         |e0 AS (SELECT DISTINCT q_id, c_id FROM qb JOIN cb USING (t, b) WHERE q_id <> c_id),
         |${beamScoreSql("e0", "v", "vis0", BeamE)}""".stripMargin
    s"""$prelude${beamRoundsSql("", "v", BeamRounds, BeamWidth)}
       |${beamResultSql(BeamRounds)}""".stripMargin
  }

  // ---------------------------------------------------------------- HNSW

  /** HNSW layer geometry: [[HnswLayers]] coarse layers above the base
    * graph, each holding an expected 1/[[HnswFanout]] of the layer
    * below (the geometric level distribution of Malkov & Yashunin
    * 2018, made DETERMINISTIC: node id's mixed hash ≡ 0 mod fanout^l —
    * reproducible layer membership instead of a sampled level, and
    * layers nest by construction). [[HnswEntryCap]] top-layer nodes
    * form the entry set; each descent layer keeps an ef-beam of
    * [[HnswEf]] candidates for the layer below.
    */
  val HnswLayers = 2
  val HnswFanout = 8
  val HnswEntryCap = 8
  val HnswEf = 48
  val HnswDescentRounds = 2
  val HnswBaseRounds = 4

  private val HnswP = 2147483647L

  /** Layer-assignment hash: LCG then the SQUARE-mod-P mixing round —
    * a bare LCG's low bits are periodic in id (the bit-position
    * consumer bug class), the squared form decorrelates membership
    * from id order. Exact int64 on both engines (s < 2^31, s² < 2^62).
    */
  private def hnswMix(c: Column): Column = {
    val s = (c * 1103515245L + 12345L) % HnswP
    (s * s) % HnswP
  }
  private def hnswMixSql(c: String): String =
    s"((($c * 1103515245 + 12345) % $HnswP) * " +
      s"(($c * 1103515245 + 12345) % $HnswP)) % $HnswP"

  private def hnswLayerDiv(l: Int): Long =
    (0 until l).foldLeft(1L)((acc, _) => acc * HnswFanout)

  /** The rows of `df` (keyed `vec_id`) that are members of layer `l`. */
  private def hnswLayer(df: DataFrame, l: Int): DataFrame =
    df.filter(hnswMix(col("vec_id")) % lit(hnswLayerDiv(l)) === 0)

  /** The auto-depth rule: layers `from`, `from`+1, … of `vectors` while
    * the layer still holds ≥ 4·[[HnswEntryCap]] nodes, each built by
    * `build(members, count)`.
    */
  private def upperLayers(vectors: DataFrame, from: Int)(
      build: (DataFrame, Long) => DataFrame): Seq[DataFrame] =
    Iterator.from(from).map(l => hnswLayer(vectors, l)).map(m => (m, m.count()))
      .takeWhile(_._2 >= 4L * HnswEntryCap).map(build.tupled).toList

  /** sim_hnsw — HIERARCHICAL graph ANN (the HNSW decomposition proper,
    * completing the story [[graphBeamOn]]'s flat LSH-seeded beam
    * started): [[hnswBuild]] erects one NN-Descent k-NN graph per
    * layer over nested deterministic subsets (layer l = ids whose
    * mixed hash ≡ 0 mod fanout^l); search enters at the tiny top
    * layer's fixed entry set, runs an ef-beam within each coarse layer
    * to LOCATE the query's neighborhood, hands the survivors down as
    * the next layer's seeds, and finishes with the full frontier beam
    * on the base graph. The upper layers replace the flat search's
    * global LSH bucket join: each probe touches O(entry + ef·degree)
    * nodes per layer — log-structured navigation, N-independent once
    * the graphs exist, which is precisely the property that makes
    * HNSW the billion-scale default.
    *
    * Scale shape: builds are per-layer [[knnGraphOn]] artifacts
    * (amortized; layer l costs 1/fanout^l of the base build); search
    * is the same slim equi-join beam as [[graphBeamOn]] at every
    * layer, probes riding as rows. Deterministic end to end (pinned
    * layer hash, exact-IEEE cosines, id tie-breaks) → fully
    * value-oracled against the layered unrolled SQL twin.
    * Output: (q_id, c_id, cos_sim, rk).
    */
  def hnswBuild(vectors: DataFrame, layers: Int = HnswLayers): Seq[DataFrame] =
    (0 to layers).map { l =>
      knnGraphOn(hnswLayer(vectors, l))
    }

  /** AUTO-DEPTH build: layers extend while the next layer would still
    * hold ≥ 4·[[HnswEntryCap]] nodes — the log-structured hierarchy
    * proper, where the TOP layer is entry-set sized at ANY corpus
    * scale. This is the property that makes the fixed 8-node entry
    * set sufficient: a fixed-depth hierarchy leaves a top layer that
    * GROWS with N, and a few entries cannot navigate a growing layer
    * in bounded rounds (measured at 200 k vectors: 2 fixed layers put
    * 1741 nodes above the entries → recall 0.033; auto depth restores
    * ≥ 0.9). The sf-testdata binding keeps the explicit 2-layer form —
    * its 8-node top layer IS entry-sized there, and the unrolled
    * oracle pins that instance.
    */
  def hnswBuildAuto(vectors: DataFrame): Seq[DataFrame] =
    knnGraphOn(vectors) +: upperLayers(vectors, 1)((m, _) => knnGraphOn(m))

  /** Layered search over [[hnswBuild]]'s graphs; `vectors` is the full
    * (vec_id, embedding) corpus, `queries` is (q_id, qv).
    */
  def hnswSearchOn(layerGraphs: Seq[DataFrame], vectors: DataFrame,
      queries: DataFrame, k: Int = BeamK, ef: Int = HnswEf,
      descentRounds: Int = HnswDescentRounds,
      baseRounds: Int = HnswBaseRounds): DataFrame = {
    val layers = layerGraphs.length - 1
    // ~10 score joins re-read these across the layered search — scan
    // the corpus and the probe set once
    val v = vectors.select(col("vec_id"), col("embedding"))
      .transform(graft.util.CacheScope.cached)
    val q = queries.transform(graft.util.CacheScope.cached)
    def layerCand(l: Int): DataFrame = hnswLayer(v, l)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    // fixed entry set: the first entryCap top-layer members in mixed-
    // hash order (top layer is N/fanout^layers rows — the global rank
    // window is bounded by construction, not data-scaled)
    val entries = hnswLayer(v, layers)
      .select(col("vec_id"))
      .withColumn("erk", row_number().over(
        Window.orderBy(hnswMix(col("vec_id")), col("vec_id"))))
      .filter(col("erk") <= HnswEntryCap)
      .select(col("vec_id").as("c_id"))
    var seeds = q.select(col("q_id"))
      .crossJoin(broadcast(entries))
      .filter(col("q_id") =!= col("c_id"))
    (layers to 1 by -1).foreach { l =>
      // each layer's survivors are probes × ef rows — localCheckpoint
      // truncates the stacked-beam lineage (three nested beams
      // otherwise compose a plan that grows ~3^rounds PER LAYER:
      // measured 18 MiB task binaries and an explain-string OOM)
      seeds = beamFrom(layerGraphs(l), layerCand(l), q, seeds,
        ef, ef, rounds = descentRounds, k = ef)
        .select(col("q_id"), col("c_id"))
        .localCheckpoint(true)
    }
    // every coarse-layer survivor seeds the base beam (entries = ef);
    // the hierarchy's seeds land NEAR the neighborhood rather than in
    // it (no global bucket join), so the base walk gets ef width and
    // extra rounds to travel the last hops — still O(rounds·ef·degree)
    // exact scores per probe, N-independent
    beamFrom(layerGraphs(0), layerCand(0), q, seeds,
      ef, ef, baseRounds, k)
  }

  /** Prebuilt per-layer graph artifacts ([[memo]]) — same amortization
    * contract as [[prebuiltKnnGraph]] (which SERVES AS layer 0, so the
    * flat beam and the hierarchy share the base build).
    */
  private def prebuiltHnswGraphs(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    memo(spark, sfDir, "hnsw") {
      val e = Tables.embeddings(spark, sfDir)
      prebuiltKnnGraph(spark, sfDir) +:
        (1 to HnswLayers).map(l => knnGraphOn(hnswLayer(e, l)).localCheckpoint(true))
    }

  /** sim_hnsw_build — the hierarchy's UPPER-layer construction as its
    * own benched, value-oracled query, so the index build cost sits on
    * the bench record separately from the search path (layer 0, the
    * expensive base graph, is already on the record as
    * `sim_knn_graph`; `sim_hnsw`'s pin is the SEARCH against the
    * prebuilt artifacts — measured split at sf0.1: ~19 s cold build
    * for all layers vs 5.7 s layered search, the latter
    * fixed-overhead-dominated at local[32] and N-independent by
    * construction). Output: (layer, n_members, n_edges) per upper
    * layer — member counts pin the deterministic layer assignment,
    * edge counts pin the per-layer NN-Descent result against the same
    * unrolled CTE twin `sim_hnsw`'s oracle composes onto.
    */
  def hnswBuildStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val rows = (1 to HnswLayers).map { l =>
      val members = hnswLayer(e, l)
      (l, members.count(), knnGraphOn(members).count())
    }
    rows.toDF("layer", "n_members", "n_edges").orderBy(col("layer"))
  }

  def hnswBuildStatsSql: String = {
    val builds = (1 to HnswLayers).map(l =>
      knnGraphCtesFor(s"h$l", s"${hnswMixSql("vec_id")} % ${hnswLayerDiv(l)} = 0"))
      .mkString(",\n")
    val rows = (1 to HnswLayers).map { l =>
      s"""SELECT CAST($l AS INTEGER) AS layer,
         | (SELECT count(*) FROM h${l}v) AS n_members,
         | (SELECT count(*) FROM h${l}g$KnnGraphRounds) AS n_edges""".stripMargin
    }.mkString(" UNION ALL ")
    s"WITH $builds\n$rows ORDER BY layer"
  }

  /** INCREMENTAL maintenance for the LAYERED index — [[knnGraphInsert]]
    * composed per layer, completing the maintenance story the flat
    * graph started (a daily crawl updates the whole hierarchy, not
    * just layer 0): each layer admits exactly the delta members its
    * deterministic hash assigns it (layer membership is id-derived, so
    * arrivals land in the same layers a full rebuild would put them
    * in — the maintained index is structurally comparable to the
    * rebuilt one by construction), untouched layers carry over by
    * reference, and when the grown corpus justifies a deeper hierarchy
    * the new TINY top layer is erected from scratch (fanout^depth
    * smaller than the corpus — negligible against any delta).
    *
    * `autoPlanes` applies the per-layer [[planesFor]] rule to each
    * layer's own population (upper layers are exponentially smaller,
    * so one global plane count would over-partition their buckets and
    * starve arrivals of introductions); the pinned default keeps
    * sf-testdata parity with the build's oracle geometry.
    */
  def hnswInsert(layerGraphs: Seq[DataFrame], baseVectors: DataFrame,
      delta: DataFrame, autoPlanes: Boolean = false): Seq[DataFrame] = {
    val maintained = layerGraphs.zipWithIndex.map { case (g, l) =>
      val bl = hnswLayer(baseVectors, l)
      val dl = hnswLayer(delta, l)
      if (dl.isEmpty) g // a layer the delta never reaches is untouched
      else {
        val planes = if (autoPlanes) planesFor(bl.count() + dl.count())
                     else KnnGraphInitPlanes
        knnGraphInsert(g, bl, dl, initPlanes = planes).localCheckpoint(true)
      }
    }
    // auto-depth extension (the hnswBuildAuto rule on the GROWN
    // corpus): while the next layer up would still hold ≥ 4·entryCap
    // nodes, build it fresh — it is fanout× smaller each time
    val all = baseVectors.select(col("vec_id"), col("embedding"))
      .unionByName(delta.select(col("vec_id"), col("embedding")))
    maintained ++ upperLayers(all, maintained.length) { (m, n) =>
      knnGraphOn(m, initPlanes = if (autoPlanes) planesFor(n) else KnnGraphInitPlanes)
        .localCheckpoint(true)
    }
  }

  /** sim_hnsw testdata binding: same 8 probes as sim_graph_beam,
    * searched through the layered index.
    */
  def hnsw(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    hnswSearchOn(prebuiltHnswGraphs(spark, sfDir), e, probeSplit(e)._1)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def hnswSql: String = {
    def undOf(px: String): String =
      s"""SELECT DISTINCT u, nbr FROM (
         | SELECT u, nbr FROM ${px}g$KnnGraphRounds
         | UNION ALL SELECT nbr, u FROM ${px}g$KnnGraphRounds)""".stripMargin
    // one ef-beam descent inside layer l (HnswDescentRounds expansions)
    def descent(l: Int, seedTab: String): String = {
      val px = s"h$l"
      val head =
        s"""${px}und AS MATERIALIZED (${undOf(px)}),
           |${beamScoreSql(seedTab, s"${px}v", s"${px}vis0", HnswEf)}""".stripMargin
      val rounds = beamRoundsSql(px, s"${px}v", HnswDescentRounds, HnswEf)
      val all = (0 to HnswDescentRounds)
        .map(i => s"SELECT q_id, c_id, cos FROM ${px}vis$i").mkString(" UNION ALL ")
      s"""$head$rounds,
         |${px}out AS MATERIALIZED (SELECT q_id, c_id FROM (
         |      SELECT q_id, c_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |      FROM ($all))
         |      WHERE rk <= $HnswEf)""".stripMargin
    }
    val layerPreds = (1 to HnswLayers).map(l =>
      s"${hnswMixSql("vec_id")} % ${hnswLayerDiv(l)} = 0")
    val builds = (s"${knnGraphCtesFor("", "TRUE")}" +:
      (1 to HnswLayers).map(l => knnGraphCtesFor(s"h$l", layerPreds(l - 1))))
      .mkString(",\n")
    val top = HnswLayers
    val prelude =
      s"""WITH $builds,
         |und AS MATERIALIZED (${undOf("")}),
         |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |ent AS (SELECT vec_id AS c_id FROM (
         |      SELECT vec_id, row_number() OVER (
         |        ORDER BY ${hnswMixSql("vec_id")}, vec_id) AS erk FROM h${top}v)
         |      WHERE erk <= $HnswEntryCap),
         |seed$top AS (SELECT q_id, c_id FROM qs CROSS JOIN ent WHERE q_id <> c_id)""".stripMargin
    val descents = (top to 1 by -1).map { l =>
      val seedTab = if (l == top) s"seed$top" else s"h${l + 1}out"
      descent(l, seedTab)
    }.mkString(",\n", ",\n", "")
    // the base-layer beam from h1's survivors: graphBeamSql's rounds,
    // seeded by the descent
    s"""$prelude$descents,
       |${beamScoreSql("h1out", "v", "vis0", HnswEf)}${beamRoundsSql("", "v", HnswBaseRounds, HnswEf)}
       |${beamResultSql(HnswBaseRounds)}""".stripMargin
  }

  // ----------------------------------------------------- binary-code ANN

  /** Binary-code geometry: 16 bands × 4 sign-projection bits = a 64-bit
    * code per vector (held as 16 band values — no 64-bit packing, so
    * every intermediate stays strictly positive in BIGINT on both
    * engines); candidate pairs share ≥ 1 equal band (the multi-index
    * pigeonhole prefilter), survive a Hamming ≤ [[HammingRadius]]
    * screen over the full code, and rerank by exact cosine.
    */
  val HammingBands = 16
  val HammingBandBits = 4
  val HammingRadius = 28
  val HammingK = 5

  /** sim_hamming_ann — BINARY-code ANN (the sign/Hamming tier of the
    * family: 32× smaller index than float vectors, XOR+popcount
    * distance — the binary-passage-retrieval / Norouzi et al. 2012
    * multi-index shape): each vector compresses to [[HammingBands]]×
    * [[HammingBandBits]] sign-projection band values (codegen
    * [[graft.functions.SrpBucket]] per band, same PRNG stream as every
    * LSH tier); probes meet candidates on ANY equal band (slim (t, b)
    * equi-join — never an all-pairs scan), the full-code Hamming
    * screen keeps pairs ≤ radius, and the survivors rerank by EXACT
    * cosine top-k — the standard coarse-code-then-rerank two-stage. At
    * scale the band join is the index probe (16 bounded postings per
    * vector) and the float
    * vectors are touched only for the rerank's survivors.
    * Deterministic end to end → fully value-oracled.
    * Output: (q_id, c_id, hamming, cos_sim, rk).
    */
  def hammingAnnOn(vectors: DataFrame, queries: DataFrame,
      k: Int = HammingK, radius: Int = HammingRadius): DataFrame = {
    def codes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol), col(vecCol),
        array((0 until HammingBands).map(t =>
          graft.functions.SrpBucket.column(col(vecCol), HammingBandBits,
            t * HammingBandBits)): _*).as("code"))
    val qc = codes(queries, "q_id", "qv")
      .transform(graft.util.CacheScope.cached) // bands + rerank both read it
    val cc = codes(vectors, "c_id", "cv")
      .transform(graft.util.CacheScope.cached)
    def bands(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), posexplode(col("code")).as(Seq("t", "b")))
    val cand = bands(qc, "q_id").join(bands(cc, "c_id"), Seq("t", "b"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
    topK(cand
        .join(qc.select(col("q_id"), col("qv"), col("code").as("qcode")), Seq("q_id"))
        .join(cc.select(col("c_id"), col("cv"), col("code").as("ccode")), Seq("c_id"))
        .withColumn("hamming", expr(
          "aggregate(zip_with(qcode, ccode, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .filter(col("hamming") <= radius)
        .withColumn("cos", cosExpr("qv", "cv")), "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id"), col("hamming"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk"))
  }

  /** sim_hamming_ann testdata binding: same 8 probes as the other ANN
    * tiers.
    */
  def hammingAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    hammingAnnOn(e.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
      probeSplit(e)._1)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))
  }

  def hammingAnnSql: String = {
    val p = HammingBandBits
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
       |qc AS MATERIALIZED (SELECT q_id, qv,
       |      list_transform(generate_series(0, ${HammingBands - 1}), t ->
       |        ${bucketTableSql("qv", p, "t")}) AS code FROM q),
       |cc AS MATERIALIZED (SELECT c_id, cv,
       |      list_transform(generate_series(0, ${HammingBands - 1}), t ->
       |        ${bucketTableSql("cv", p, "t")}) AS code FROM c),
       |cand AS (SELECT DISTINCT a.q_id, b.c_id
       |      FROM (SELECT q_id, t, code[t + 1] AS b FROM qc, generate_series(0, ${HammingBands - 1}) AS gt(t)) a
       |      JOIN (SELECT c_id, t, code[t + 1] AS b FROM cc, generate_series(0, ${HammingBands - 1}) AS gt(t)) b
       |        ON a.t = b.t AND a.b = b.b
       |      WHERE a.q_id <> b.c_id),
       |h AS (SELECT cand.q_id, cand.c_id,
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(1, ${HammingBands}), i ->
       |          CAST(bit_count(xor(qc.code[i], cc.code[i])) AS BIGINT))),
       |        (a, x) -> a + x) AS hamming,
       |      ${cosSql("qc.qv", "cc.cv")} AS cos
       |      FROM cand JOIN qc ON cand.q_id = qc.q_id JOIN cc ON cand.c_id = cc.c_id)
       |SELECT q_id, c_id, hamming, ${Cols.proundSql("cos", 6)} AS cos_sim,
       | CAST(rk AS INTEGER) AS rk
       |FROM (SELECT q_id, c_id, hamming, cos,
       |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |      FROM h WHERE hamming <= $HammingRadius)
       |WHERE rk <= $HammingK ORDER BY q_id, rk""".stripMargin
  }

  // ------------------------------------------------------ hard negatives

  /** sim_hard_negatives — hard-negative mining for contrastive
    * training (the DPR/SimCLR data-prep step): for EVERY vector, the
    * top-k most-similar vectors carrying a DIFFERENT label — the
    * near-boundary negatives that make contrastive batches
    * informative (random negatives are trivially separable). Unlike
    * [[knnJoin]]'s static probe/build split, the label-inequality
    * predicate is per-PAIR, so labels ride the slim bucket rows and
    * filter candidates before the vector rejoin.
    *
    * Shape at scale: the same multi-table SRP equi-join as every ANN
    * tier here — O(L·N) slim (id, label, t, b) rows shuffle, same-label
    * collisions drop at the bucket join, exact cosine only on the
    * surviving cross-label candidates, per-anchor top-k window. Fully
    * value-oracled (deterministic buckets, IEEE cosine fold, id
    * tie-breaks).
    * Output: (q_id, neg_id, neg_label, cos_sim, rk).
    */
  def hardNegativesOn(vectors: DataFrame, k: Int, tables: Int = 16,
      planesPerTable: Int = AutoPlanes): DataFrame = {
    val p = resolvePlanes(planesPerTable, vectors)
    // fanOutScan (r17, guide §2.5): the 16-table SRP bucketing is this
    // query's scan-side CPU cost and the sf input plans as ONE task
    // (Prof: a 2.1 s single-task job) — spread the rows first; no-op on
    // an already-parallel scan. Applied to the bucket side only: the
    // score joins' broadcast builds stay on the plain scan.
    val b = srpTables(graft.util.Cols.fanOutScan(vectors), Seq("id", "label"), "vec", tables, p)
    val cand = b.select(col("id").as("q_id"), col("label").as("q_label"),
        col("t"), col("b"))
      .join(b.select(col("id").as("c_id"), col("label").as("c_label"),
        col("t"), col("b")), Seq("t", "b"))
      .filter(col("q_label") =!= col("c_label"))
      .select(col("q_id"), col("c_id")).distinct()
    topK(cand
        .join(vectors.select(col("id").as("q_id"), col("vec").as("qv")), Seq("q_id"))
        .join(vectors.select(col("id").as("c_id"), col("vec").as("cv"),
          col("label").as("neg_label")), Seq("c_id"))
        .withColumn("cos", cosExpr("qv", "cv")), "q_id", col("cos").desc, "c_id", k)
      .select(col("q_id"), col("c_id").as("neg_id"), col("neg_label"),
        Cols.pround(col("cos"), 6).as("cos_sim"), col("rk"))
  }

  /** sim_hard_negatives testdata binding: top-2 cross-label negatives
    * per vector.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame =
    hardNegativesOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label")),
      k = 2, planesPerTable = 4)
      .transform(graft.util.Cols.verifySort(_, col("q_id"), col("rk")))

  def hardNegativesSql: String =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
       |bk AS (SELECT id, label, t, ${bucketTableSql("vec", 4, "t")} AS b
       |       FROM v, generate_series(0, 15) AS gt(t)),
       |cand AS (SELECT DISTINCT a.id AS q_id, c.id AS c_id
       |         FROM bk a JOIN bk c ON a.t = c.t AND a.b = c.b AND a.label <> c.label),
       |s AS (SELECT cand.q_id, cand.c_id, cv.label AS neg_label,
       |        ${cosSql("qv.vec", "cv.vec")} AS cos
       |      FROM cand JOIN v qv ON cand.q_id = qv.id JOIN v cv ON cand.c_id = cv.id),
       |r AS (SELECT q_id, c_id, neg_label, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
       |      FROM s)
       |SELECT q_id, c_id AS neg_id, neg_label,
       | floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim, CAST(rk AS INTEGER) AS rk
       |FROM r WHERE rk <= 2 ORDER BY q_id, rk""".stripMargin

  // ---------------------------------------------------------------- MMR

  /** MMR selection depth / trade-off / fixed-point scale. λ = 700 milli
    * weights relevance 70/30 against redundancy — the usual exemplar-
    * selection setting; 2^20 fixed-point keeps every dot product exact
    * int64 (floor(x·2^20+0.5) on unit-vector components gives
    * |q| ≤ 2^20 → 64-dim dots ≤ 2^46, scores ≤ 1000·2^46 ≈ 2^56 ≪
    * 2^63 — the real headroom bound a future MmrFp bump must respect).
    */
  val MmrK = 5
  val MmrLambdaMilli = 700L
  val MmrFp = 1L << 20

  /** sim_mmr — maximal-marginal-relevance selection (Carbonell &
    * Goldstein 1998): greedily pick k vectors maximizing
    * λ·rel(v) − (1−λ)·max_{s∈selected} sim(v, s) — the training-data
    * selection step that wants exemplars RELEVANT to a target but not
    * redundant with each other (dedup_keep_best keeps one per cluster;
    * MMR balances the two objectives in one score).
    *
    * Exactness: vectors are quantized once to 2^20 fixed point
    * scan-side; relevance and pairwise similarity are exact integer
    * dot products, the score an exact integer combination — the greedy
    * argmax (score DESC, id ASC tie-break) is deterministic on both
    * engines, so the whole k-step selection value-oracles as a k-step
    * unrolled SQL the builder generates from the same constants.
    *
    * Shape at scale: MMR is inherently sequential in k, but each step
    * is one full scan + argmax reduce — embarrassingly parallel — with
    * the ≤k selected vectors riding as broadcast literals (the same
    * pattern a 100 TB exemplar pass uses: k driver-side rows, never a
    * pairwise matrix). The k `head` calls are bounded scalar reads
    * (k·(64+4) longs), the allowlisted fixpoint-read pattern.
    * Output: (rk, vec_id, rel, max_sim, score).
    */
  def mmrOn(vectors: DataFrame, queryId: Long, k: Int = MmrK,
      lambdaMilli: Long = MmrLambdaMilli): DataFrame = {
    val spark = vectors.sparkSession
    val qArr = transform(col("vec"),
      x => floor(x.cast("double") * lit(MmrFp.toDouble) + lit(0.5)).cast("long"))
    val quant = vectors.select(col("id"), qArr.as("q"))
      .transform(graft.util.CacheScope.cached) // rescanned once per greedy step
    def dotLit(v: Seq[Long]): Column = {
      val lits = array(v.map(lit): _*)
      aggregate(zip_with(col("q"), lits, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }
    val qvec = {
      val r = quant.filter(col("id") === queryId).head
      r.getSeq[Long](r.fieldIndex("q")).toIndexedSeq
    }
    val cand = quant.filter(col("id") =!= queryId)
      .withColumn("rel", dotLit(qvec))
      .transform(graft.util.CacheScope.cached) // rel reused across all k steps
    var selected = Vector.empty[(Long, Seq[Long], Long, Long, Long)]
    (1 to k).foreach { _ =>
      val chosen = selected.map(_._1)
      val maxSim =
        if (selected.isEmpty) lit(0L)
        else if (selected.size == 1) dotLit(selected.head._2)
        else greatest(selected.map(s => dotLit(s._2)): _*)
      val remaining =
        if (chosen.isEmpty) cand else cand.filter(!col("id").isin(chosen: _*))
      val step = remaining
        .withColumn("max_sim", maxSim)
        .withColumn("score",
          lit(lambdaMilli) * col("rel") - lit(1000L - lambdaMilli) * col("max_sim"))
        .orderBy(col("score").desc, col("id").asc)
        .select(col("id"), col("q"), col("rel"), col("max_sim"), col("score"))
        .head
      selected :+= ((step.getAs[Long]("id"),
        step.getSeq[Long](step.fieldIndex("q")).toIndexedSeq,
        step.getAs[Long]("rel"), step.getAs[Long]("max_sim"),
        step.getAs[Long]("score")))
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, rel, ms, sc), i) => (i + 1, id, rel, ms, sc) }
      .toDF("rk", "vec_id", "rel", "max_sim", "score")
  }

  /** sim_kcenter — greedy k-center / farthest-point coreset sampling
    * (Gonzalez 1985; Sener & Savarese 2018 use it as the coreset
    * selector for training data): starting from a deterministic seed,
    * repeatedly pick the vector FARTHEST from the selected set (on
    * unit vectors, the one whose max-dot to any selected vector is
    * minimal) — the k points that 2-approximate the optimal cover,
    * i.e. the most geometrically diverse exemplars. The complement of
    * [[mmrOn]]: MMR balances relevance against redundancy; k-center
    * maximizes pure coverage.
    *
    * Same exactness/shape contract as MMR: 2^20 fixed-point dots make
    * every coverage score exact int64 (argmin tie-broken on id), the
    * selected set rides as ≤k broadcast literals, each step is one
    * scan + argmin reduce, and the whole greedy sequence value-oracles
    * via a generated k-step unrolled SQL.
    * Output: (rk, vec_id, max_dot) — max_dot = the new pick's closest
    * fixed-point dot to the prior selection (0 for the seed row).
    */
  def kcenterOn(vectors: DataFrame, seedId: Long, k: Int = MmrK): DataFrame = {
    val spark = vectors.sparkSession
    val qArr = transform(col("vec"),
      x => floor(x.cast("double") * lit(MmrFp.toDouble) + lit(0.5)).cast("long"))
    val quant = vectors.select(col("id"), qArr.as("q"))
      .transform(graft.util.CacheScope.cached) // rescanned once per greedy step
    def dotLit(v: Seq[Long]): Column = {
      val lits = array(v.map(lit): _*)
      aggregate(zip_with(col("q"), lits, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }
    val seed = quant.filter(col("id") === seedId).head
    var selected = Vector((seedId,
      seed.getSeq[Long](seed.fieldIndex("q")).toIndexedSeq, 0L))
    (2 to k).foreach { _ =>
      val chosen = selected.map(_._1)
      val maxDot =
        if (selected.size == 1) dotLit(selected.head._2)
        else greatest(selected.map(s => dotLit(s._2)): _*)
      val step = quant.filter(!col("id").isin(chosen: _*))
        .withColumn("max_dot", maxDot)
        .orderBy(col("max_dot").asc, col("id").asc)
        .select(col("id"), col("q"), col("max_dot"))
        .head
      selected :+= ((step.getAs[Long]("id"),
        step.getSeq[Long](step.fieldIndex("q")).toIndexedSeq,
        step.getAs[Long]("max_dot")))
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, md), i) => (i + 1, id, md) }
      .toDF("rk", "vec_id", "max_dot")
  }

  /** sim_kcenter testdata binding: 5-point coreset seeded at vector 0. */
  def kcenter(spark: SparkSession, sfDir: String): DataFrame =
    kcenterOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      seedId = 0L)

  def kcenterSql: String = {
    val dot = (a: String, b: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, 64), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val steps = (2 to MmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""c$t AS (SELECT v.vec_id, max(${dot("v.q", "s.q")}) AS max_dot
         |       FROM vq v CROSS JOIN (SELECT q FROM ($prev)) s
         |       WHERE v.vec_id NOT IN (SELECT vec_id FROM ($prev)) GROUP BY 1),
         |s$t AS (SELECT $t AS rk, v.vec_id, v.q, c.max_dot
         |        FROM vq v JOIN c$t c USING (vec_id)
         |        ORDER BY c.max_dot ASC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val all = (1 to MmrK).map(i => s"SELECT rk, vec_id, max_dot FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH vq AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(floor(CAST(x AS DOUBLE) * $MmrFp.0 + 0.5) AS BIGINT)) AS q
       |      FROM embeddings),
       |s1 AS (SELECT 1 AS rk, vec_id, q, CAST(0 AS BIGINT) AS max_dot
       |       FROM vq WHERE vec_id = 0)$steps
       |SELECT CAST(rk AS INTEGER) AS rk, vec_id, max_dot
       |FROM ($all) ORDER BY rk""".stripMargin
  }

  /** sim_mmr testdata binding: query = vector 0, select 5 from the rest. */
  def mmr(spark: SparkSession, sfDir: String): DataFrame =
    mmrOn(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      queryId = 0L)

  def mmrSql: String = {
    val lam = MmrLambdaMilli
    val dot = (a: String, b: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, 64), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val steps = (2 to MmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""c$t AS (SELECT r.vec_id, max(${dot("r.q", "s.q")}) AS max_sim
         |       FROM rel r CROSS JOIN (SELECT q FROM ($prev)) s
         |       WHERE r.vec_id NOT IN (SELECT vec_id FROM ($prev)) GROUP BY 1),
         |s$t AS (SELECT $t AS rk, r.vec_id, r.q, r.rel, c.max_sim,
         |         $lam * r.rel - ${1000 - lam} * c.max_sim AS score
         |        FROM rel r JOIN c$t c USING (vec_id)
         |        ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val all = (1 to MmrK).map(i => s"SELECT rk, vec_id, rel, max_sim, score FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH vq AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(floor(CAST(x AS DOUBLE) * $MmrFp.0 + 0.5) AS BIGINT)) AS q
       |      FROM embeddings),
       |qv AS (SELECT q FROM vq WHERE vec_id = 0),
       |rel AS (SELECT v.vec_id, v.q, ${dot("v.q", "qv.q")} AS rel
       |        FROM vq v CROSS JOIN qv WHERE v.vec_id <> 0),
       |s1 AS (SELECT 1 AS rk, vec_id, q, rel, CAST(0 AS BIGINT) AS max_sim,
       |        $lam * rel AS score
       |       FROM rel ORDER BY score DESC, vec_id LIMIT 1)$steps
       |SELECT CAST(rk AS INTEGER) AS rk, vec_id, rel, max_sim, score
       |FROM ($all) ORDER BY rk""".stripMargin
  }
}
