package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.functions.TextFns
import graft.util.{Fixpoint, Tables}

/** Document deduplication family (SURVEY.md §2.C).
  *
  * Each operator has a generic DataFrame→DataFrame core (`*On`) usable
  * on any corpus with an id + text column, plus a testdata binding (the
  * `SparkEntry.queries` form) on the `documents` table.
  *
  * Scale notes (100 TB corpus):
  *  - exact: one hash-shuffle on the normalized-text hash; group state is
  *    tiny (min id + count).
  *  - ngram-jaccard: inverted-index candidate join (explode shingle →
  *    equi-join on shingle hash) — never an all-pairs cross join. Only
  *    slim (id, shingle) rows ride the shuffle. Posting lists are
  *    document-frequency-capped BEFORE the self-join: a shingle shared
  *    by k docs emits k²/2 candidate rows into one reducer, so without
  *    the cap a single boilerplate shingle (license header, nav bar)
  *    with k in the millions is a skewed quadratic shuffle. Hot
  *    shingles carry no near-dup signal at Jaccard ≥ 0.5 anyway —
  *    Jaccard is computed exactly within the capped universe (hot
  *    shingles count toward neither intersection nor union, the
  *    stopword-removal analogy).
  *  - minhash LSH: fixed-width signature per doc (16 longs), then a
  *    band-bucket equi-join (4 bands × 4 rows) — the classic
  *    sub-quadratic near-dup path; shuffle keys are (band, bandKey).
  *  - simhash: 32-bit fingerprint via the fused codegen
  *    [[graft.functions.SimHash32]] expression (scan-side, no shuffle);
  *    candidates via two-half pigeonhole (hamming ≤ 1 ⇒ at least one
  *    16-bit half identical) — an EXACT halved equi-join prefilter,
  *    then the precise hamming test.
  *
  * All hashes are portable polynomial folds (TextFns) so every operator
  * here has a full DuckDB value oracle.
  *
  * Caching: the `*On` operators persist() intermediate frames that are
  * read by multiple plan branches (signatures, fingerprints, labels).
  * The returned frames stay cached for reuse; library callers composing
  * several operators in one session should `spark.catalog.clearCache()`
  * (or unpersist the returned frames) when done — the Bench/Verify
  * harnesses do exactly that between queries.
  */
object Dedup {

  /** Exact dedup: normalize → hash-groupBy → keep min id.
    * Output: (keep_id, fp, n_copies), one row per distinct normalized
    * text.
    */
  def exactOn(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("norm", regexp_replace(lower(trim(col(textCol))), "\\s+", " "))
      .withColumn("fp", TextFns.charFold(col("norm")))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("fp"), col("n_copies"))

  /** dedup_exact testdata binding. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    exactOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("keep_id")))

  def exactSql: String = {
    val norm = raw"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
    s"""SELECT keep_id, fp, n_copies FROM (
       | SELECT ${TextFns.charFoldSql("norm")} AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
       | FROM (SELECT doc_id, $norm AS norm FROM documents) GROUP BY 1)
       |ORDER BY keep_id""".stripMargin
  }

  /** Shared prep: id + distinct 3-shingle hash array, persisted — every
    * consumer self-joins (two plan branches), and Spark would otherwise
    * recompute the full tokenize+hash pipeline per branch (at production
    * scale this step is a materialized signature table).
    */
  // fanOutScan (r17, guide §2.5): the tokenize + shingle-hash pass is
  // the tier's scan-side CPU cost, and the sf inputs are single parquet
  // files that plan as ONE task — spread the (id, text) rows across the
  // cluster before hashing (Prof dedup_cluster_pd: a 1.5 s single-task
  // job, the query's longest). No-op on an already-parallel scan (the
  // 100 TB case), same device as the mm codec tier. `spread = false`
  // for the TWO-sided consumers (fuzzy join/rerank): their halved
  // inputs shingle in two frames, and the doubled exchange + cache
  // waypoints measured 1.3 -> 2.3 s — the one-sided corpus tier is
  // where the spread pays.
  private def shingledOn(df: DataFrame, idCol: String, textCol: String,
      spread: Boolean = true): DataFrame = {
    val slim = df.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    (if (spread) graft.util.Cols.fanOutScan(slim) else slim)
      .select(col("doc_id"),
        TextFns.shingleHashes(TextFns.tokenize(col("_text"))).as("h"))
      .transform(graft.util.CacheScope.cached)
  }

  private val shingledSql =
    s"""SELECT doc_id, ${TextFns.shingleHashesSql("words")} AS h
       |FROM (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS words FROM documents)""".stripMargin

  /** Document-frequency cap on posting lists: shingles appearing in
    * more than this many documents are excluded from CANDIDATE
    * generation (exact Jaccard is still computed from full arrays).
    * Bounds the candidate volume of any single shingle at cap²/2 rows
    * and keeps the inverted-index shuffle skew-free regardless of how
    * much boilerplate the corpus contains.
    */
  val DfCap = 1024

  /** N-gram (3-shingle) Jaccard near-dup pairs at `threshold`, computed
    * in the DF-CAPPED shingle universe: shingles with document
    * frequency > `dfCap` (see [[DfCap]]) are excluded from candidates,
    * intersections, AND set sizes — the stopword-removal analogy for
    * shingles (two docs sharing only a license header are NOT near-dups
    * worth reporting, and at corpus scale a hot shingle would emit
    * k²/2 candidate rows into one reducer).
    *
    * Since each doc's shingle array is DISTINCT, the per-pair capped
    * match count IS the capped intersection — a codegen'd count
    * aggregation; capped set sizes rejoin for the exact capped-universe
    * |A∩B| / (|A|+|B|−|A∩B|). The hot set itself is tiny and persisted;
    * the anti-join broadcasts it (AQE), so the posting list never
    * shuffles for the cap.
    * Output: (a_id, b_id, jac) with a_id < b_id.
    */
  def ngramJaccardOn(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Int = DfCap): DataFrame = {
    val t = shingledOn(df, idCol, textCol)
    val e = t.select(col("doc_id"), explode(col("h")).as("x"))
    val hot = e.groupBy(col("x")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > dfCap).select(col("x"))
      .transform(graft.util.CacheScope.cached)
    // NOT persisted: Catalyst reuses the anti-join's shuffle exchange
    // across the three consuming branches (ReusedExchange), and a cache
    // here measurably slows the query by forcing a materialization
    // barrier where the branches otherwise pipeline
    val ec = e.join(hot, Seq("x"), "left_anti")
    val inter = ec.select(col("doc_id").as("a_id"), col("x"))
      .join(ec.select(col("doc_id").as("b_id"), col("x")), Seq("x"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("double").as("i"))
    val sizes = ec.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Fuzzy (entity-resolution) join between TWO string tables: for each
    * left row the best-Jaccard right match at `threshold`, via the same
    * df-capped inverted-index candidate generation as
    * [[ngramJaccardOn]] but across tables — the record-linkage shape
    * (catalog matching, vendor reconciliation) that would otherwise be
    * an all-pairs string-distance cross join. One posting-list
    * equi-join keyed by shingle, capped-universe Jaccard from the
    * match counts, best match per left row by (jac desc, right id).
    * Output: (l_id, r_id, jac) — at most one row per matched left row.
    */
  def fuzzyJoinOn(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      threshold: Double, dfCap: Int = DfCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = shingledOn(left, leftId, leftText, spread = false)
      .select(col("doc_id").as("l_id"), col("h"))
    val rt = shingledOn(right, rightId, rightText, spread = false)
      .select(col("doc_id").as("r_id"), col("h"))
    val le = lt.select(col("l_id"), explode(col("h")).as("x"))
    val re = rt.select(col("r_id"), explode(col("h")).as("x"))
    val hot = le.select(col("x")).unionAll(re.select(col("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > dfCap).select(col("x"))
      .transform(graft.util.CacheScope.cached)
    val lc = le.join(hot, Seq("x"), "left_anti")
    val rc = re.join(hot, Seq("x"), "left_anti")
    val inter = lc.join(rc, Seq("x"))
      .groupBy(col("l_id"), col("r_id")).agg(count(lit(1)).cast("double").as("i"))
    val lsz = lc.groupBy(col("l_id")).agg(count(lit(1)).as("ln"))
    val rsz = rc.groupBy(col("r_id")).agg(count(lit(1)).as("rn"))
    val w = Window.partitionBy(col("l_id")).orderBy(col("jac").desc, col("r_id"))
    inter.join(lsz, Seq("l_id")).join(rsz, Seq("r_id"))
      .withColumn("jac", col("i") / (col("ln") + col("rn") - col("i")))
      .filter(col("jac") >= threshold)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("l_id"), col("r_id"), col("jac"))
  }

  /** Edit-distance reranking over inverted-index candidates — the
    * second stage of a production entity-resolution pipeline: the
    * df-capped shingle index proposes candidates at a LOW Jaccard bar
    * (cheap, sub-quadratic, high recall), and true Levenshtein distance
    * — computed on a bounded `prefixLen`-char prefix, since edit
    * distance is O(n·m) per pair and unbounded strings would make
    * candidate cost depend on document length — picks the best match
    * per left row (ties → lowest right id). Never an all-pairs
    * string-distance product: Levenshtein runs ONLY on pairs the index
    * surfaced. Output: (l_id, r_id, lev, jac) — one row per matched
    * left row.
    */
  def levRerankOn(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      candThreshold: Double, prefixLen: Int = 200,
      dfCap: Int = DfCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = shingledOn(left, leftId, leftText, spread = false)
      .select(col("doc_id").as("l_id"), col("h"))
    val rt = shingledOn(right, rightId, rightText, spread = false)
      .select(col("doc_id").as("r_id"), col("h"))
    val le = lt.select(col("l_id"), explode(col("h")).as("x"))
    val re = rt.select(col("r_id"), explode(col("h")).as("x"))
    val hot = le.select(col("x")).unionAll(re.select(col("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > dfCap).select(col("x"))
      .transform(graft.util.CacheScope.cached)
    val lc = le.join(hot, Seq("x"), "left_anti")
    val rc = re.join(hot, Seq("x"), "left_anti")
    val inter = lc.join(rc, Seq("x"))
      .groupBy(col("l_id"), col("r_id")).agg(count(lit(1)).cast("double").as("i"))
    val lsz = lc.groupBy(col("l_id")).agg(count(lit(1)).as("ln"))
    val rsz = rc.groupBy(col("r_id")).agg(count(lit(1)).as("rn"))
    val w = Window.partitionBy(col("l_id")).orderBy(col("lev"), col("r_id"))
    inter.join(lsz, Seq("l_id")).join(rsz, Seq("r_id"))
      .withColumn("jac", col("i") / (col("ln") + col("rn") - col("i")))
      .filter(col("jac") >= candThreshold)
      .join(left.select(col(leftId).as("l_id"),
        substring(col(leftText), 1, prefixLen).as("ltext")), Seq("l_id"))
      .join(right.select(col(rightId).as("r_id"),
        substring(col(rightText), 1, prefixLen).as("rtext")), Seq("r_id"))
      .withColumn("lev", levenshtein(col("ltext"), col("rtext")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("l_id"), col("r_id"), col("lev"), col("jac"))
  }

  /** fuzzy_rerank_lev testdata binding: even-id vs odd-id documents,
    * candidates at Jaccard ≥ 0.2, reranked by 200-char-prefix edit
    * distance.
    */
  def levRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    levRerankOn(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      0.2)
      .transform(graft.util.Cols.verifySort(_, col("l_id")))
  }

  def levRerankSql: String =
    s"""WITH t AS ($shingledSql),
       |lt AS (SELECT doc_id AS l_id, h FROM t WHERE doc_id % 2 = 0),
       |rt AS (SELECT doc_id AS r_id, h FROM t WHERE doc_id % 2 = 1),
       |le AS (SELECT l_id, unnest(h) AS x FROM lt),
       |re AS (SELECT r_id, unnest(h) AS x FROM rt),
       |hot AS (SELECT x FROM (SELECT x FROM le UNION ALL SELECT x FROM re)
       |        GROUP BY x HAVING count(*) > $DfCap),
       |lc AS (SELECT l_id, x FROM le WHERE x NOT IN (SELECT x FROM hot)),
       |rc AS (SELECT r_id, x FROM re WHERE x NOT IN (SELECT x FROM hot)),
       |inter AS (SELECT l_id, r_id, CAST(count(*) AS DOUBLE) AS i
       |          FROM lc JOIN rc ON lc.x = rc.x GROUP BY 1, 2),
       |lsz AS (SELECT l_id, count(*) AS ln FROM lc GROUP BY 1),
       |rsz AS (SELECT r_id, count(*) AS rn FROM rc GROUP BY 1),
       |j AS (SELECT inter.l_id, inter.r_id, i / (ln + rn - i) AS jac
       |      FROM inter JOIN lsz ON inter.l_id = lsz.l_id JOIN rsz ON inter.r_id = rsz.r_id),
       |cand AS (SELECT j.l_id, j.r_id, j.jac,
       |          CAST(levenshtein(substring(dl.text, 1, 200), substring(dr.text, 1, 200)) AS INTEGER) AS lev
       |         FROM j JOIN documents dl ON j.l_id = dl.doc_id
       |              JOIN documents dr ON j.r_id = dr.doc_id
       |         WHERE j.jac >= 0.2),
       |r AS (SELECT cand.*, row_number() OVER (PARTITION BY l_id ORDER BY lev, r_id) AS rk
       |      FROM cand)
       |SELECT l_id, r_id, lev, jac FROM r WHERE rk = 1 ORDER BY l_id""".stripMargin

  /** fuzzy_join testdata binding: even-id documents matched to odd-id
    * documents by text similarity — the two "catalogs" share planted
    * near-dup content, so real matches exist.
    */
  def fuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    fuzzyJoinOn(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      0.4)
      .transform(graft.util.Cols.verifySort(_, col("l_id")))
  }

  def fuzzyJoinSql: String =
    s"""WITH t AS ($shingledSql),
       |lt AS (SELECT doc_id AS l_id, h FROM t WHERE doc_id % 2 = 0),
       |rt AS (SELECT doc_id AS r_id, h FROM t WHERE doc_id % 2 = 1),
       |le AS (SELECT l_id, unnest(h) AS x FROM lt),
       |re AS (SELECT r_id, unnest(h) AS x FROM rt),
       |hot AS (SELECT x FROM (SELECT x FROM le UNION ALL SELECT x FROM re)
       |        GROUP BY x HAVING count(*) > $DfCap),
       |lc AS (SELECT l_id, x FROM le WHERE x NOT IN (SELECT x FROM hot)),
       |rc AS (SELECT r_id, x FROM re WHERE x NOT IN (SELECT x FROM hot)),
       |inter AS (SELECT l_id, r_id, CAST(count(*) AS DOUBLE) AS i
       |          FROM lc JOIN rc ON lc.x = rc.x GROUP BY 1, 2),
       |lsz AS (SELECT l_id, count(*) AS ln FROM lc GROUP BY 1),
       |rsz AS (SELECT r_id, count(*) AS rn FROM rc GROUP BY 1),
       |j AS (SELECT inter.l_id, inter.r_id, i / (ln + rn - i) AS jac
       |      FROM inter JOIN lsz ON inter.l_id = lsz.l_id JOIN rsz ON inter.r_id = rsz.r_id),
       |r AS (SELECT j.*, row_number() OVER (PARTITION BY l_id ORDER BY jac DESC, r_id) AS rk
       |      FROM j WHERE jac >= 0.4)
       |SELECT l_id, r_id, jac FROM r WHERE rk = 1 ORDER BY l_id""".stripMargin

  /** dedup_ngram_jaccard testdata binding (threshold 0.5). */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardOn(Tables.documents(spark, sfDir), "doc_id", "text", 0.5)
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  /** Shared capped-universe Jaccard SQL (mirrors [[ngramJaccardOn]]
    * including the df cap); reused by [[ngramJaccardSql]] and
    * [[clusterSql]].
    */
  private def jaccardPairsSql: String =
    s"""WITH t AS ($shingledSql),
       |e AS (SELECT doc_id, unnest(h) AS x FROM t),
       |hot AS (SELECT x FROM e GROUP BY x HAVING count(*) > $DfCap),
       |ec AS (SELECT doc_id, x FROM e WHERE x NOT IN (SELECT x FROM hot)),
       |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
       |          FROM ec a JOIN ec b ON a.x = b.x AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ec GROUP BY 1),
       |j AS (SELECT a_id, b_id, i / (sa.n + sb.n - i) AS jac
       |      FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id)
       |SELECT a_id, b_id, jac FROM j WHERE jac >= 0.5""".stripMargin

  def ngramJaccardSql: String =
    s"$jaccardPairsSql ORDER BY a_id, b_id"

  /** Asymmetric shingle CONTAINMENT pairs — the doc-in-doc detector
    * Jaccard structurally misses: when a short document is quoted or
    * wrapped inside a much longer one, |A∩B|/|A∪B| stays small (the
    * union is dominated by the long doc) while |A∩B|/min(|A|,|B|) ≈ 1.
    * Same df-capped inverted-index candidate generation and capped
    * universe as [[ngramJaccardOn]] — identical shuffle shape, only the
    * denominator changes — reported with the Jaccard alongside so
    * downstream policy can distinguish near-dup from containment.
    * Output: (a_id, b_id, cont, jac) with a_id < b_id, cont ≥ threshold.
    */
  def containmentOn(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Int = DfCap): DataFrame = {
    val t = shingledOn(df, idCol, textCol)
    val e = t.select(col("doc_id"), explode(col("h")).as("x"))
    val hot = e.groupBy(col("x")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > dfCap).select(col("x"))
      .transform(graft.util.CacheScope.cached)
    val ec = e.join(hot, Seq("x"), "left_anti")
    val inter = ec.select(col("doc_id").as("a_id"), col("x"))
      .join(ec.select(col("doc_id").as("b_id"), col("x")), Seq("x"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("double").as("i"))
    val sizes = ec.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("cont", col("i") / least(col("na"), col("nb")).cast("double"))
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("cont") >= threshold)
      .select(col("a_id"), col("b_id"), col("cont"), col("jac"))
  }

  /** dedup_containment testdata binding (containment ≥ 0.6). */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentOn(Tables.documents(spark, sfDir), "doc_id", "text", 0.6)
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  def containmentSql: String =
    s"""WITH t AS ($shingledSql),
       |e AS (SELECT doc_id, unnest(h) AS x FROM t),
       |hot AS (SELECT x FROM e GROUP BY x HAVING count(*) > $DfCap),
       |ec AS (SELECT doc_id, x FROM e WHERE x NOT IN (SELECT x FROM hot)),
       |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
       |          FROM ec a JOIN ec b ON a.x = b.x AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ec GROUP BY 1),
       |c AS (SELECT a_id, b_id, i / CAST(least(sa.n, sb.n) AS DOUBLE) AS cont,
       |       i / (sa.n + sb.n - i) AS jac
       |      FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id)
       |SELECT a_id, b_id, cont, jac FROM c WHERE cont >= 0.6
       |ORDER BY a_id, b_id""".stripMargin

  /** MinHash + banded LSH candidate pairs: 16-wide signatures
    * (codegen'd), 4×4 banding — candidates share at least one full
    * band; reported with the signature-agreement jaccard estimate.
    * Signatures are persisted (the band explode + self-join reads them
    * through two plan branches); only slim (id, band, bandKey) rows ride
    * the candidate shuffle.
    * Output: (a_id, b_id, est_sim) with a_id < b_id.
    */
  def minhashLshOn(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = shingledOn(df, idCol, textCol)
      .filter(size(col("h")) > 0)
      .select(col("doc_id"), TextFns.minhashSig("h").as("s"))
      .transform(graft.util.CacheScope.cached)
    val bands = sig
      .select(col("doc_id"), col("s"), explode(sequence(lit(0), lit(TextFns.Bands - 1))).as("band"))
      .select(col("doc_id"), col("band"), TextFns.bandKey("s", "band").as("bk"))
    val pairs = bands.select(col("doc_id").as("a_id"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bk")), Seq("band", "bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    pairs
      .join(sig.select(col("doc_id").as("a_id"), col("s").as("sa")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("s").as("sb")), Seq("b_id"))
      .withColumn("est_sim", TextFns.sigAgreement("sa", "sb"))
      .select(col("a_id"), col("b_id"), col("est_sim"))
  }

  /** dedup_minhash testdata binding. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  def minhashLshSql: String =
    s"""WITH t AS ($shingledSql),
       |sig AS (SELECT doc_id, ${TextFns.minhashSigSql("h")} AS s FROM t WHERE len(h) > 0),
       |bands AS (SELECT doc_id, s, j AS band, ${TextFns.bandKeySql("s", "j")} AS bk
       |          FROM sig, generate_series(0, ${TextFns.Bands - 1}) AS g(j)),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.s AS sa, b.s AS sb
       |          FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, ${TextFns.sigAgreementSql("sa", "sb")} AS est_sim
       |FROM pairs ORDER BY a_id, b_id""".stripMargin

  /** MinHash-LSH index health check — recall AND precision of the
    * banded estimator against the EXACT shingle-Jaccard pairs on the
    * same corpus, the text-side twin of Similarity's sim_recall_eval:
    * the number a pipeline owner consults before trusting the sketch
    * tier with a corpus whose shingle distribution shifted. Both sides
    * already exist as operators; this composes them and reduces to ONE
    * row (three map-side-combinable counts + integer-ppm ratios), so
    * the eval costs the two pair scans it audits and nothing more.
    * Exact pairs use threshold `thr` on true Jaccard; candidates are
    * the LSH pairs whose SIGNATURE-estimated similarity clears the
    * same threshold. Output: (n_exact, n_cand, n_hit, recall_ppm,
    * precision_ppm).
    */
  def minhashEvalOn(df: DataFrame, idCol: String, textCol: String,
      thr: Double): DataFrame = {
    // each side's pair scan appears EXACTLY ONCE in the plan: the
    // full-outer join classifies every pair as exact-only / both /
    // cand-only and one count-flag aggregate reduces it — counting the
    // sides separately would reference each expensive subtree twice
    // and lean on ReuseExchange to dedupe (the implicit contract the
    // pagerank pin removed; here the plan simply never duplicates)
    val exact = ngramJaccardOn(df, idCol, textCol, thr)
      .select(col("a_id"), col("b_id"), lit(1L).as("ex"))
    val cand = minhashLshOn(df, idCol, textCol)
      .filter(col("est_sim") >= thr)
      .select(col("a_id"), col("b_id"), lit(1L).as("cd"))
    exact.join(cand, Seq("a_id", "b_id"), "full_outer")
      .agg(coalesce(sum(coalesce(col("ex"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(sum(coalesce(col("cd"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("ex").isNotNull && col("cd").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        when(col("n_exact") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * n_hit) div n_exact")).as("recall_ppm"),
        when(col("n_cand") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * n_hit) div n_cand")).as("precision_ppm"))
  }

  /** dedup_minhash_eval testdata binding (threshold 0.5). */
  def minhashEval(spark: SparkSession, sfDir: String): DataFrame =
    minhashEvalOn(Tables.documents(spark, sfDir), "doc_id", "text", 0.5)

  def minhashEvalSql: String =
    s"""WITH ex AS (SELECT a_id, b_id FROM ($jaccardPairsSql)),
       |cd AS (SELECT a_id, b_id
       |       FROM (${minhashLshSql.replace("ORDER BY a_id, b_id", "")})
       |       WHERE est_sim >= 0.5),
       |m AS (SELECT
       |  (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM cd) AS n_cand,
       |  (SELECT count(*) FROM ex JOIN cd USING (a_id, b_id)) AS n_hit)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_cand AS BIGINT) AS n_cand,
       | CAST(n_hit AS BIGINT) AS n_hit,
       | CASE WHEN n_exact = 0 THEN NULL ELSE CAST((1000000 * n_hit) // n_exact AS BIGINT) END AS recall_ppm,
       | CASE WHEN n_cand = 0 THEN NULL ELSE CAST((1000000 * n_hit) // n_cand AS BIGINT) END AS precision_ppm
       |FROM m""".stripMargin

  /** Weighted-minhash contract constants, shared with the oracle:
    * idf-bit weight cap (bounds the per-token signature expansion) and
    * the emitted weighted-Jaccard floor in ppm.
    */
  val WmhCap = 8L
  val WmhMinPpm = 300000L

  /** dedup_minhash_weighted — tf-idf-WEIGHTED near-dup mining: weighted
    * Jaccard J_w = Σ min(w_a, w_b) / Σ max(w_a, w_b) over per-doc
    * DISTINCT 3-gram shingles with integer idf weights, LSH-bucketed
    * by a weighted MinHash signature. Plain minhash treats a
    * boilerplate shingle and a rare content shingle as equally
    * informative, so template-heavy docs collide on scaffolding;
    * weighting by rarity makes the estimator track CONTENT overlap —
    * the standard upgrade for near-dup mining over templated corpora
    * (the dominant failure mode of web-crawl dedup). Elements are
    * shingles, not tokens: unigram weighting was measured emitting
    * 6.6M pairs at sf0.1 (nearly the full pair square — token overlap
    * carries no document identity on a shared-vocabulary corpus).
    *
    * The repo's exactness rule end to end: the weight is the WHOLE-BITS
    * idf, w_s = min([[WmhCap]], bitlen(N div df_s)) via the
    * length(bin(·)) device (≥ 1, pure int64), and weighted minhash is
    * computed by the integer-EXPANSION reduction — shingle s expands
    * to w_s virtual elements (s,0)..(s,w_s−1), each hashed (h·131+r)
    * mod P, and plain minhash over the expanded multiset IS minhash of
    * the weighted set (Jaccard over the expansion equals J_w for
    * integer weights — the integer special case of Ioffe's CWS that
    * needs no float sampling). Signature position i is a
    * map-side-combined MIN aggregate of (a_i·eh+b_i) mod P over the
    * expanded stream (the [[TextFns]] permutation constants) —
    * order-free, one doc_id shuffle, never a per-doc array build. The
    * emitted J_w is exact integer ppm.
    *
    * Scale shape: expansion multiplies the exploded shingle stream by
    * ≤ [[WmhCap]] (a constant), the weight table joins on the shingle
    * hash exactly like text_tfidf's df join, candidates meet in the
    * (band, key) equi-join with slim (id, band, key) rows, and the
    * exact re-score joins posting lists only for candidate pairs.
    * Output: (a_id, b_id, n_agree, inter_w, union_w, wjac_ppm) with
    * a_id < b_id, wjac_ppm ≥ [[WmhMinPpm]].
    */
  def weightedMinhashOn(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import TextFns.P
    val d = shingledOn(df, idCol, textCol)
      .select(col("doc_id"), col("h").as("th"))
      .filter(size(col("th")) > 0)
    val e = d.select(col("doc_id"), explode(col("th")).as("x"))
    val stats = e.groupBy(col("x")).agg(count(lit(1)).as("dfreq"))
    val tot = d.agg(count(lit(1)).as("n"))
    val weights = stats.crossJoin(broadcast(tot))
      .select(col("x"),
        least(lit(WmhCap), length(bin(expr("n div dfreq"))).cast("long")).as("w"))
    val tw = e.join(weights, Seq("x"))
      .transform(graft.util.CacheScope.cached) // sig expansion + pair re-score + doc sums
    val exp = tw
      .select(col("doc_id"), col("x"), explode(sequence(lit(0L), col("w") - 1)).as("r"))
      .select(col("doc_id"), ((col("x") * 131 + col("r")) % P).as("eh"))
    val mins = (0 until TextFns.MinhashK).map { i =>
      val a = 1000003L * i + 12289L
      val b = 999983L * i + 15373L
      min((col("eh") * a + b) % P).as(s"m$i")
    }
    val sig = exp.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until TextFns.MinhashK).map(i => col(s"m$i")): _*).as("s"))
      .transform(graft.util.CacheScope.cached) // band keys + per-side agreement joins
    val bands = sig.select(col("doc_id"), col("s"),
        explode(sequence(lit(0), lit(TextFns.Bands - 1))).as("band"))
      .withColumn("bk", TextFns.bandKey("s", "band"))
      .select(col("doc_id"), col("band"), col("bk"))
    val cand = bands.select(col("doc_id").as("a_id"), col("band"), col("bk"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bk")), Seq("band", "bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val sums = tw.groupBy(col("doc_id")).agg(sum(col("w")).as("sw"))
    val inter = cand
      .join(tw.select(col("doc_id").as("a_id"), col("x"), col("w").as("wa")), Seq("a_id"))
      .join(tw.select(col("doc_id").as("b_id"), col("x"), col("w").as("wb")), Seq("b_id", "x"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(least(col("wa"), col("wb"))).as("inter_w"))
    inter
      .join(sums.select(col("doc_id").as("a_id"), col("sw").as("swa")), Seq("a_id"))
      .join(sums.select(col("doc_id").as("b_id"), col("sw").as("swb")), Seq("b_id"))
      .join(sig.select(col("doc_id").as("a_id"), col("s").as("siga")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("s").as("sigb")), Seq("b_id"))
      .withColumn("union_w", col("swa") + col("swb") - col("inter_w"))
      .withColumn("wjac_ppm", expr("(inter_w * 1000000) div union_w"))
      .filter(col("wjac_ppm") >= WmhMinPpm)
      .withColumn("n_agree", expr(
        s"size(filter(sequence(1, ${TextFns.MinhashK}), i -> element_at(siga, i) = element_at(sigb, i)))"))
      .select(col("a_id"), col("b_id"), col("n_agree"),
        col("inter_w"), col("union_w"), col("wjac_ppm"))
  }

  /** dedup_minhash_weighted testdata binding. */
  def weightedMinhash(spark: SparkSession, sfDir: String): DataFrame =
    weightedMinhashOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  def weightedMinhashSql: String = {
    val P = TextFns.P
    s"""WITH d AS (SELECT doc_id, h AS th FROM ($shingledSql)),
       |e AS (SELECT doc_id, unnest(th) AS x FROM d WHERE len(th) > 0),
       |st AS (SELECT x, CAST(count(*) AS BIGINT) AS dfreq FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d WHERE len(th) > 0),
       |wt AS (SELECT x, least($WmhCap, CAST(length(bin(n // dfreq)) AS BIGINT)) AS w
       |       FROM st CROSS JOIN nn),
       |tw AS MATERIALIZED (SELECT doc_id, x, w FROM e JOIN wt USING (x)),
       |exp AS (SELECT doc_id,
       |        unnest(list_transform(generate_series(0, w - 1), r -> (x * 131 + r) % $P)) AS eh
       |        FROM tw),
       |sg AS (SELECT doc_id, i,
       |        min(((1000003 * i + 12289) * eh + (999983 * i + 15373)) % $P) AS m
       |       FROM exp CROSS JOIN generate_series(0, ${TextFns.MinhashK - 1}) AS gi(i)
       |       GROUP BY 1, 2),
       |sig AS MATERIALIZED (SELECT doc_id, list(m ORDER BY i) AS s FROM sg GROUP BY 1),
       |bd AS (SELECT doc_id, j AS band, ${TextFns.bandKeySql("s", "j")} AS bk
       |       FROM sig, generate_series(0, ${TextFns.Bands - 1}) AS g(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bd a JOIN bd b ON a.band = b.band AND a.bk = b.bk
       |         AND a.doc_id < b.doc_id),
       |iw AS (SELECT c.a_id, c.b_id, CAST(sum(least(ta.w, tb.w)) AS BIGINT) AS inter_w
       |       FROM cand c JOIN tw ta ON ta.doc_id = c.a_id
       |       JOIN tw tb ON tb.doc_id = c.b_id AND tb.x = ta.x
       |       GROUP BY 1, 2),
       |sw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS sw FROM tw GROUP BY 1),
       |f AS (SELECT a_id, b_id, inter_w, sa.sw + sb.sw - inter_w AS union_w,
       |       (inter_w * 1000000) // (sa.sw + sb.sw - inter_w) AS wjac_ppm,
       |       ga.s AS siga, gb.s AS sigb
       |      FROM iw JOIN sw sa ON sa.doc_id = a_id JOIN sw sb ON sb.doc_id = b_id
       |      JOIN sig ga ON ga.doc_id = a_id JOIN sig gb ON gb.doc_id = b_id)
       |SELECT a_id, b_id,
       | CAST(len(list_filter(generate_series(1, ${TextFns.MinhashK}), i -> siga[i] = sigb[i])) AS INTEGER) AS n_agree,
       | inter_w, union_w, CAST(wjac_ppm AS BIGINT) AS wjac_ppm
       |FROM f WHERE wjac_ppm >= $WmhMinPpm ORDER BY a_id, b_id""".stripMargin
  }

  /** SimHash near-dup pairs at hamming ≤ `maxHamming` (≤ 1 keeps the
    * two-half pigeonhole prefilter EXACT: one differing bit corrupts at
    * most one 16-bit half, so some half matches). Halves beat narrower
    * chunks when fingerprint bits correlate across a clustered corpus:
    * 16-bit buckets are ~2^16-ary, so candidate volume tracks the TRUE
    * near-dup density instead of the bit-marginal skew. The 32-bit
    * fingerprint is the fused codegen [[graft.functions.SimHash32]]
    * expression — the whole fingerprint evaluates scan-side (replacing
    * round 1's explode + 32-column bit-count aggregation and its
    * shuffle); votes are the same (sum of ±1 per token > 0 ⇔
    * 2·count(bit set) > n) as the lambda formulation the oracle uses.
    * Zero-token docs are filtered out, as the explode did implicitly.
    * Output: (a_id, b_id, hamming) with a_id < b_id.
    */
  def simhashPairsOn(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 1): DataFrame = {
    require(maxHamming <= 1, "two-half pigeonhole prefilter is exact only for hamming <= 1")
    val fp = df
      .select(col(idCol).as("doc_id"), TextFns.tokenize(col(textCol)).as("words"))
      .filter(size(col("words")) > 0)
      .select(col("doc_id"), graft.functions.SimHash32.column(col("words")).as("fp"))
      .transform(graft.util.CacheScope.cached)
    val chunks = fp.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(1))).as("ci"))
      .select(col("doc_id"), col("ci"), expr("(fp >> (ci * 16)) & 65535").as("cv"))
    val pairs = chunks.select(col("doc_id").as("a_id"), col("ci"), col("cv"))
      .join(chunks.select(col("doc_id").as("b_id"), col("ci"), col("cv")), Seq("ci", "cv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    pairs
      .join(fp.select(col("doc_id").as("a_id"), col("fp").as("fa")), Seq("a_id"))
      .join(fp.select(col("doc_id").as("b_id"), col("fp").as("fb")), Seq("b_id"))
      .withColumn("hamming", expr("bit_count(fa ^ fb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
  }

  /** dedup_simhash testdata binding. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("a_id"), col("b_id")))

  /** Connected components over a near-dup pair graph: every doc gets a
    * cluster_id = the minimum doc id reachable through near-dup edges
    * (singletons cluster with themselves). This is the step that turns
    * pairwise near-dup evidence into "keep one per cluster" decisions.
    *
    * Only the EDGE-INDUCED subgraph is labelled: singletons (no near-dup
    * edge) can never change label, so they join back as their own
    * cluster at the end. Both edge directions are materialized once
    * (persisted); then the graph's size picks the solver:
    *  - SMALL PATH: a graph within [[graft.util.Local.maxRows]]
    *    (Spark's broadcast threshold) with integral, non-null ids is
    *    collected ([[graft.util.Local.graphIfFits]]) and labelled on the
    *    driver by union-find with the minimum id as root — the closure
    *    the oracle's recursive query computes — and joins back as a
    *    broadcast LocalRelation. Near-dup graphs are a tiny fraction of
    *    a corpus (256 pairs over 5000 docs at sf0.1), so this is the
    *    common case.
    *  - DISTRIBUTED PATH: star contraction over the persisted edges
    *    ([[clustersPdOn]]'s labelling), O(log² n) rounds whatever the
    *    component diameter.
    */
  def clustersOn(pairs: DataFrame, allIds: DataFrame): DataFrame =
    clustered(pairs, allIds, driverIfFits = true)

  /** [[clustersOn]] and [[clustersPdOn]]: the labelling, then the join
    * back onto every id.
    */
  private def clustered(pairs: DataFrame, allIds: DataFrame,
      driverIfFits: Boolean): DataFrame = {
    // Both edge directions come from ONE evaluation of `pairs` via a
    // scan-side explode — a union of (a,b) and (b,a) projections would
    // run the (expensive, unpersisted) pair-generation subtree once per
    // branch: only the agg exchanges get ReusedExchange, the post-shuffle
    // join/filter work is duplicated.
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("u"), col("b_id").as("v")),
        struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val labels =
      if (!driverIfFits) starLabels(edges)
      else {
        // the heavy candidate-pair build materializes HERE, under AQE,
        // by the gate's own read of the persisted edges
        val pinned = edges.persist()
        try graft.util.Local.graphIfFits(pinned) match {
          case Some(g) =>
            broadcast(componentLabels(pairs.sparkSession, g, pinned.schema("u")))
          case None => starLabels(pinned)
        } finally pinned.unpersist()
      }
    allIds.join(labels, Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** Union-find over a collected edge list: (id, lbl) per node, lbl =
    * the minimum id of its component, ids typed as `idField`.
    */
  private def componentLabels(spark: SparkSession, g: graft.util.Local.Graph,
      idField: StructField): DataFrame = {
    val parent = Array.tabulate(g.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    g.src.indices.foreach { k =>
      val (ru, rv) = (find(g.src(k)), find(g.dst(k)))
      if (ru != rv) {
        if (g.order(ru) < g.order(rv)) parent(rv) = ru else parent(ru) = rv
      }
    }
    val rows = g.ids.indices.map(i => Row(g.ids(i), g.ids(find(i))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      idField.copy(name = "id"), idField.copy(name = "lbl"))))
  }

  /** dedup_cluster testdata binding: components of the jaccard ≥ 0.5
    * near-dup graph over all documents.
    */
  def cluster(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    clustersOn(
      ngramJaccardOn(docs, "doc_id", "text", 0.5),
      docs.select(col("doc_id").as("id")))
      .transform(graft.util.Cols.verifySort(_, col("doc_id")))
  }

  def clusterSql: String =
    s"""WITH RECURSIVE pairs AS (
       |SELECT a_id, b_id FROM ($jaccardPairsSql)),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT d.doc_id,
       | least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
       |FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014 — a public algorithm), always distributed: the same
    * contract, oracle and labelling as [[clustersOn]]'s distributed
    * path, without its driver-side gate. Each round every node hooks
    * its larger (large-star) or not-larger (small-star) neighbors
    * directly onto the minimum of its closed neighborhood, so pointer
    * chains HALVE each round and the edge set converges to disjoint
    * stars rooted at each component's minimum id in O(log² n) rounds,
    * whatever the component diameter: a 1024-node path converges in a
    * handful of rounds (spec-exercised) where min-label propagation
    * would need 1023. This is the solver for near-dup graphs with DEEP
    * components (chained paraphrase edits, template families) and for
    * merge graphs that can chain across batches (the streaming
    * components sink).
    */
  def clustersPdOn(pairs: DataFrame, allIds: DataFrame): DataFrame =
    clustered(pairs, allIds, driverIfFits = false)

  /** Star contraction over a directed (u, v) edge frame: (id, lbl) for
    * every node, lbl = the minimum id of its component.
    *
    * The edge set is kept CANONICAL (lo < hi, distinct) so each round's
    * rewrite is two small aggregates + a distinct over the (tiny,
    * edge-induced) graph — the corpus itself never re-enters the loop.
    * Each round is one [[graft.util.Fixpoint]] round: an eager
    * localCheckpoint whose observed edge count is the fixpoint test (a
    * round's plan references the previous round's frame ~6 times, so
    * without the cut Catalyst analysis goes exponential around round
    * 10). The first materialization runs under AQE — it is where the
    * heavy pair build upstream executes — and the rounds run with AQE
    * off at a width sized from the graph.
    */
  private def starLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val e0 = Fixpoint.materialize(edges.filter(col("u") < col("v"))
      .select(col("u").as("lo"), col("v").as("hi")).distinct())
    // Star contraction converges in ~log n rounds in practice (the
    // proven worst case is O(log² n)); 50 is far beyond either for any
    // graph that fits on disk, and rounds on a converged-size graph are
    // milliseconds — the cap only turns a rewrite bug into a loud error.
    val stars = onGraphSizedStages(spark, e0.metric) {
      Fixpoint.run("star contraction", e0, 50, mustConverge = true) { (edges, _) =>
        // LARGE-STAR: center each node u over its full neighborhood; every
        // strictly larger neighbor re-hooks to m = min(Γ(u) ∪ {u}). Each
        // undirected edge {a<b} is emitted exactly once, from a's view,
        // as (m_a, b) — and m_a ≤ a < b keeps the output canonical.
        val sym = edges.df.select(explode(array(
            struct(col("lo").as("u"), col("hi").as("v")),
            struct(col("hi").as("u"), col("lo").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
        val mOfU = sym.groupBy(col("u"))
          .agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val large = sym.join(mOfU, Seq("u")).filter(col("v") > col("u"))
          .select(col("m").as("lo"), col("v").as("hi"))
          .filter(col("lo") =!= col("hi")).distinct()
        // SMALL-STAR: center each node at the LARGER endpoint of its
        // canonical edges; the smaller neighbors (and the center itself)
        // all re-hook to the minimum smaller neighbor.
        val mOfHi = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
        Fixpoint.materialize(large.join(mOfHi, Seq("hi"))
          .select(explode(array(
            struct(col("m").as("nlo"), col("lo").as("nhi")),
            struct(col("m").as("nlo"), col("hi").as("nhi")))).as("e"))
          .select(col("e.nlo").as("lo"), col("e.nhi").as("hi"))
          .filter(col("lo") =!= col("hi")).distinct())
      } { (prev, next) =>
        // Fixpoint = edge set unchanged. Both sets are distinct and
        // canonical, so equal counts + empty difference ⇔ equality; the
        // except runs over two checkpointed graph-sized frames.
        next.metric == prev.metric && next.df.except(prev.df).isEmpty
      }
    }
    // Fixpoint is a disjoint union of stars: every edge is (root, member)
    // with root = component minimum. Roots label themselves.
    stars.df.select(col("hi").as("id"), col("lo").as("lbl"))
      .union(stars.df.select(col("lo").as("id"), col("lo").as("lbl")))
      .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
  }

  /** `body` with AQE off and the shuffle width sized from a graph of
    * `edgeRows` edges, session conf restored after. Each round's stages
    * are tiny reads of checkpointed frames: AQE re-planning every one
    * adds scheduler round-trips that buy nothing (measured at sf0.1:
    * without the toggle dedup_cluster_pd ran ~1.5× the jobs, and
    * slower), and the corpus-wide shuffle width pays per-round task
    * dispatch over near-empty partitions (32-wide rounds over a
    * ~50-edge graph more than doubled the operator's wall). CAVEAT:
    * session-scoped conf — queries running CONCURRENTLY on this session
    * would also plan this way (the harnesses are sequential;
    * parallel-job callers should isolate with spark.newSession()).
    */
  private def onGraphSizedStages[A](spark: SparkSession, edgeRows: Long)(body: => A): A = {
    val aqe = "spark.sql.adaptive.enabled"
    val width = "spark.sql.shuffle.partitions"
    val (aqeWas, widthWas) = (spark.conf.get(aqe, "true"), spark.conf.get(width))
    val iterPart = math.max(1, math.min(widthWas.toInt, math.ceil(edgeRows / 65536.0).toInt))
    spark.conf.set(aqe, "false")
    spark.conf.set(width, iterPart.toString)
    try body
    finally {
      spark.conf.set(aqe, aqeWas)
      spark.conf.set(width, widthWas)
    }
  }

  /** dedup_cluster_pd testdata binding: same component semantics (and
    * oracle) as dedup_cluster, computed by star contraction.
    */
  def clusterPd(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    clustersPdOn(
      ngramJaccardOn(docs, "doc_id", "text", 0.5),
      docs.select(col("doc_id").as("id")))
      .transform(graft.util.Cols.verifySort(_, col("doc_id")))
  }

  /** Bag-of-tokens exact dedup: the order-INVARIANT fingerprint
    * (token-hash sum mod P, token count) groups documents that are
    * exact duplicates up to word order — shuffled list items, re-sorted
    * CSV rows, re-serialized JSON — which byte-exact dedup misses and
    * near-dup similarity pays a candidate join to find. Sits between
    * [[exactOn]] and [[ngramJaccardOn]] in the dedup ladder at exactOn's
    * cost: one doc-keyed sum over the exploded token hashes (map-side
    * combined, order-free by construction) and one fingerprint
    * group-by. Same portable poly-hash as every other dedup key, so the
    * op is fully value-oracled.
    * Output: (bag_hash, n_tokens, keep_id, n_copies).
    */
  def bagOn(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val th = df.select(col(idCol).as("id"),
      explode(TextFns.tokenHashes(TextFns.tokenize(col(textCol)))).as("h"))
    val fp0 = th.groupBy(col("id"))
      .agg(pmod(sum(col("h")), lit(2147483647L)).as("bag_hash"),
        count(lit(1)).as("n_tokens"))
    df.select(col(idCol).as("id")).join(fp0, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("bag_hash"), lit(0L)).as("bag_hash"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .groupBy(col("bag_hash"), col("n_tokens"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** dedup_bag testdata binding. */
  def bag(spark: SparkSession, sfDir: String): DataFrame =
    bagOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("keep_id")))

  def bagSql: String =
    s"""WITH th AS (SELECT doc_id,
       |  unnest(${TextFns.tokenHashesSql(TextFns.tokenizeSql("text"))}) AS h
       | FROM documents),
       |fp0 AS (SELECT doc_id, CAST(sum(h) % 2147483647 AS BIGINT) AS bag_hash,
       |         CAST(count(*) AS BIGINT) AS n_tokens
       |        FROM th GROUP BY 1),
       |fp AS (SELECT d.doc_id, coalesce(bag_hash, 0) AS bag_hash,
       |        coalesce(n_tokens, 0) AS n_tokens
       |       FROM documents d LEFT JOIN fp0 USING (doc_id))
       |SELECT bag_hash, n_tokens, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM fp GROUP BY 1, 2 ORDER BY keep_id""".stripMargin

  /** Span width (tokens) for [[spanDedupOn]] — non-overlapping blocks,
    * the C4-style "remove repeated spans across the corpus" granularity
    * adapted to a sentence-less corpus.
    */
  val SpanTokens = 10

  /** Cross-corpus SPAN-level dedup diagnostics: each document splits
    * into non-overlapping [[SpanTokens]]-token blocks; a block is a
    * duplicate if the same normalized block text occurred EARLIER in
    * corpus order (lower doc id, or same doc at a lower offset) — the
    * C4/CCNet-style repeated-span removal signal, reported per document
    * so curation can drop or trim. Shape: scan-side block build (one
    * transform + explode, no per-doc shuffle), ONE shuffle on the block
    * hash for first-occurrence ranking, one per-doc sum — never a
    * self-join; at 100 TB the shuffle carries slim (hash, doc, blk)
    * rows and hot blocks (boilerplate) concentrate into single groups
    * whose state is a counter, not a pair explosion.
    * Output: (doc_id, n_blocks, n_dup_blocks) for every document.
    */
  def spanDedupOn(df: DataFrame, idCol: String, textCol: String,
      span: Int = SpanTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = df
      .select(col(idCol).as("doc_id"), TextFns.tokenize(col(textCol)).as("w"))
      .filter(size(col("w")) > 0) // sequence(0, -1) would DESCEND, not empty
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size(w) / $span.0) AS INT) - 1), " +
          s"b -> array_join(slice(w, b * $span + 1, $span), ' '))")))
      .select(col("doc_id"), col("pos").as("blk"), TextFns.charFold(col("col")).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("blk"))
    val marked = blocks.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_blocks"),
        sum(when(col("rn") > 1, 1).otherwise(0)).cast("int").as("n_dup_blocks"))
    df.select(col(idCol).as("doc_id")).join(marked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0)).as("n_blocks"),
        coalesce(col("n_dup_blocks"), lit(0)).as("n_dup_blocks"))
  }

  /** dedup_spans testdata binding. */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanDedupOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("doc_id")))

  def spanDedupSql: String = {
    val s = SpanTokens
    s"""WITH t AS (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS w FROM documents),
       |bi AS (SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / $s.0) AS INTEGER))) AS b
       |       FROM t WHERE len(w) > 0),
       |bl AS (SELECT doc_id, b AS blk,
       |        array_to_string(w[b * $s + 1 : (b + 1) * $s], ' ') AS btxt
       |       FROM bi),
       |r AS (SELECT doc_id, blk,
       |        row_number() OVER (PARTITION BY ${TextFns.charFoldSql("btxt")} ORDER BY doc_id, blk) AS rn
       |      FROM bl),
       |agg AS (SELECT doc_id, count(*) AS n_blocks,
       |         sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dup
       |        FROM r GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(n_blocks, 0) AS INTEGER) AS n_blocks,
       | CAST(coalesce(n_dup, 0) AS INTEGER) AS n_dup_blocks
       |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** Fingerprint window width (tokens) for [[exactSpansOn]] — the
    * match resolution: two passages agree on a span iff every k-token
    * sliding window inside it collides. k trades positional precision
    * (small k) against accidental-collision surface (large k); 8 keeps
    * boilerplate phrases below the radar while a genuine copied
    * sentence still spans multiple windows.
    */
  val ExactSpanK = 8

  /** Minimal duplicated-run length (tokens) reported by
    * [[exactSpansOn]] — the Lee et al. 2022 "remove any ≥50-token
    * exact repeat" threshold (arXiv:2107.06499, §4).
    */
  val ExactSpanMinRun = 50L

  /** dedup_exact_spans — EXACT-SUBSTRING dedup (the Lee et al. 2022
    * rung of the dedup ladder): every maximal token span whose text
    * repeats verbatim anywhere else in the corpus (another document,
    * or a second occurrence inside the same document), reported as
    * [span_start, span_end] token indices per document when the run
    * reaches [[ExactSpanMinRun]] tokens — the passage-level removal
    * set that doc-level ([[exactOn]]) and near-dup ([[minhashOn]])
    * dedup both miss. The suffix-array formulation of the paper is
    * re-expressed as a shuffle: POSITION-PRESERVING k-token window
    * fingerprints (codegen [[graft.functions.WindowFoldHash]], one
    * scan-side pass), one corpus-wide group-by marking fingerprints
    * with ≥2 occurrences, a semi-join back to positions, and the
    * gaps-and-islands device (pos − row_number, per-doc window over
    * MATCHED positions only) assembling consecutive duplicated
    * windows into maximal spans — a run of matched windows p..q
    * covers tokens p..q+k−1.
    *
    * Scale shape: the explode carries slim (doc, pos, h) rows; the
    * duplicate-marking group-by is map-side combinable (count), and
    * hot fingerprints (boilerplate) concentrate into counters, never
    * a pair join; the islands window partitions on doc_id over
    * matched rows only (duplication-bounded, not corpus-bounded).
    * All-integer arithmetic → fully value-oracled.
    * Output: (doc_id, span_start, span_end, span_tokens, n_windows)
    * per maximal span of ≥ minRun tokens.
    */
  def exactSpansOn(df: DataFrame, idCol: String, textCol: String,
      k: Int = ExactSpanK, minRun: Long = ExactSpanMinRun): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = df
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.WindowFoldHash.column(
          TextFns.tokenHashes(TextFns.tokenize(col(textCol))), k))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wins.join(dup, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1).toLong).as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("span_tokens") >= minRun)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_windows"))
  }

  /** dedup_exact_spans testdata binding. */
  def exactSpans(spark: SparkSession, sfDir: String): DataFrame =
    exactSpansOn(Tables.documents(spark, sfDir), "doc_id", "text")
      .transform(graft.util.Cols.verifySort(_, col("doc_id"), col("span_start")))

  def exactSpansSql: String = {
    val k = ExactSpanK
    s"""WITH t AS (SELECT doc_id,
       |  ${TextFns.windowFoldHashesSql(TextFns.tokenizeSql("text"), k)} AS h
       | FROM documents),
       |px AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, h[i + 1] AS x
       |       FROM (SELECT doc_id, h, unnest(range(0, len(h))) AS i FROM t)),
       |dup AS (SELECT x FROM px GROUP BY x HAVING count(*) > 1),
       |m AS (SELECT doc_id, pos FROM px WHERE x IN (SELECT x FROM dup)),
       |g AS (SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |      FROM m),
       |sp AS (SELECT doc_id, min(pos) AS span_start,
       |         max(pos) + $k - 1 AS span_end,
       |         CAST(count(*) AS BIGINT) AS n_windows
       |       FROM g GROUP BY doc_id, grp)
       |SELECT doc_id, span_start, span_end,
       | span_end - span_start + 1 AS span_tokens, n_windows
       |FROM sp WHERE span_end - span_start + 1 >= $ExactSpanMinRun
       |ORDER BY doc_id, span_start""".stripMargin
  }

  def simhashPairsSql: String =
    s"""WITH fp AS (
       | SELECT doc_id, ${TextFns.simhashSql("wh")} AS fp
       | FROM (SELECT doc_id, ${TextFns.tokenHashesSql("words")} AS wh
       |       FROM (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS words FROM documents))
       | WHERE len(wh) > 0)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       | CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 1
       |ORDER BY a_id, b_id""".stripMargin
}
