package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.util.{Fixpoint, Tables}

/** Market-basket / graph-affinity analytics (SURVEY.md §2.B extension):
  * co-occurrence mining over order baskets and triangle counting over
  * the resulting affinity graph — the recommendation-adjacent family a
  * retail warehouse serves next to the star schema.
  *
  * Scale notes (100 TB):
  *  - co-occurrence explodes each basket into k·(k−1)/2 pairs — cost is
  *    Σ k², governed by the BASKET size distribution, not the corpus:
  *    retail baskets are bounded (k ≤ ~100), so the explosion is a
  *    constant factor on the scan. A pathological basket (B2B bulk
  *    order with 10⁵ items) must be capped upstream — the same df-cap
  *    reasoning as hot shingles in [[Dedup.ngramJaccardOn]].
  *  - pair aggregation shuffles on (a, b) — high cardinality, well
  *    dispersed, map-side combined.
  *  - triangles run on the SUPPORT-FILTERED edge set (affinity graphs
  *    are pruned before analytics everywhere in practice); with edges
  *    ordered a < b < c, each triangle is found exactly once by two
  *    equi-joins — never an all-pairs product. Join order puts the
  *    (b, c) probe against the smaller filtered edge list.
  */
object Affinity {

  /** Co-occurrence pairs over (basket, item) rows: items appearing in
    * ≥ `minSupport` common baskets, with the pair count. Output:
    * (a_item, b_item, n_baskets), a_item < b_item.
    *
    * Shape: baskets are assembled ONCE (collect_set keyed on the basket
    * id — one shuffle) and pairs explode scan-side from the sorted item
    * array; a posting-list self-join would instead shuffle the item
    * rows twice more for the equi-join. Two shuffles total regardless
    * of corpus size.
    */
  def copurchaseOn(basketItems: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame =
    basketItems.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("item"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(items) - 1), i -> " +
          "transform(sequence(i + 1, size(items)), j -> " +
          "struct(element_at(items, i) AS a_item, element_at(items, j) AS b_item))))")).as("p"))
      .select(col("p.a_item").as("a_item"), col("p.b_item").as("b_item"))
      .groupBy(col("a_item"), col("b_item"))
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minSupport)

  /** q42_copurchase testdata binding: parts co-ordered in ≥ 2 orders. */
  def copurchase(spark: SparkSession, sfDir: String): DataFrame =
    copurchaseOn(Tables.lineitem(spark, sfDir), "l_orderkey", "l_partkey", 2L)
      .transform(graft.util.Cols.verifySort(_, col("a_item"), col("b_item")))

  def copurchaseSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
      |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      |      GROUP BY 1, 2)
      |SELECT a_item, b_item, n_baskets FROM p WHERE n_baskets >= 2
      |ORDER BY a_item, b_item""".stripMargin

  /** Triangle listing over an undirected edge set (a < b rows), via
    * DEGREE-ordered orientation (compact-forward): every edge points
    * from its (degree, id)-smaller endpoint to the larger, wedges form
    * only at a triangle's unique ≺-minimal vertex, and the closing
    * edge is probed in the same oriented set. Out-degrees under this
    * orientation are O(√m), so wedge volume is O(Σ outdeg²) ≤ O(m^1.5)
    * — id-ordering (the naive a<b<c join) leaves a LOW-ID HUB with
    * deg² wedges on one key, the same Σdeg² failure q54_khop's cap
    * closes, except here the degree orientation removes it EXACTLY
    * (hubs sort last, so nothing fans out of them; orientedEdges is
    * spec-pinned to out-degree ≤ a constant on a planted-hub star).
    * Costs one degree aggregation + two broadcast-joinable degree
    * lookups more than the naive form; output is the same id-canonical
    * (a, b, c) triple set. Output: (a, b, c).
    */
  private[graft] def orientedEdges(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a_item").as("u"), col("b_item").as("v"))
    val deg = e0.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e0
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"),
        when(fwd, col("dv")).otherwise(col("du")).as("dt"))
  }

  def trianglesOn(edges: DataFrame): DataFrame = {
    // three references below (both wedge arms + the closing-edge
    // probe): materialize the slim (s, t, dt) rows once — same eager
    // localCheckpoint pin as pagerank's iteration base, measured
    // cheaper than recomputing the upstream pair build per arm
    val ed = orientedEdges(edges).localCheckpoint(true)
    // wedge at the ≺-minimal vertex: two out-edges (s→t1), (s→t2) with
    // t1 ≺ t2; the triangle closes iff t1→t2 is itself an oriented edge
    val w1 = ed.select(col("s"), col("t").as("t1"), col("dt").as("d1"))
    val w2 = ed.select(col("s"), col("t").as("t2"), col("dt").as("d2"))
    w1.join(w2, Seq("s"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("t1") < col("t2")))
      .join(ed.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"), "left_semi")
      .select(expr("array_sort(array(s, t1, t2))").as("tri"))
      .select(col("tri").getItem(0).as("a"),
        col("tri").getItem(1).as("b"),
        col("tri").getItem(2).as("c"))
  }

  /** q43_triangles testdata binding: triangles of the support-≥2
    * co-purchase graph (closed product triads — the clustering signal
    * of the affinity graph).
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("a"), col("b"), col("c")))

  /** Association rules over the co-occurrence pairs: confidence in both
    * directions and lift for every supported pair — the
    * market-basket read (P(B|A), P(A|B), P(A,B)/(P(A)·P(B))) a
    * recommender derives from [[copurchaseOn]]'s counts. Adds one
    * item-frequency aggregation and a 1-row basket count (broadcast) to
    * the pair build; every ratio divides EXACT integer counts cast to
    * double in identical expression order, so values are bit-identical
    * across engines.
    * Output: (a_item, b_item, n_baskets, conf_ab, conf_ba, lift).
    */
  def assocRulesOn(basketItems: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    val it = basketItems.select(col(basketCol).as("bk"), col(itemCol).as("item")).distinct()
    val pairs = copurchaseOn(basketItems, basketCol, itemCol, minSupport)
    val itemCnt = it.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val nTotal = it.select(countDistinct(col("bk")).as("n_total"))
    pairs
      .join(itemCnt.select(col("item").as("a_item"), col("n_item").as("na")), Seq("a_item"))
      .join(itemCnt.select(col("item").as("b_item"), col("n_item").as("nb")), Seq("b_item"))
      .crossJoin(broadcast(nTotal))
      .select(col("a_item"), col("b_item"), col("n_baskets"),
        (col("n_baskets").cast("double") / col("na").cast("double")).as("conf_ab"),
        (col("n_baskets").cast("double") / col("nb").cast("double")).as("conf_ba"),
        ((col("n_baskets") * col("n_total")).cast("double") / (col("na") * col("nb")).cast("double")).as("lift"))
  }

  /** q51_assoc_rules testdata binding: rules over parts co-ordered in
    * ≥ 2 orders.
    */
  def assocRules(spark: SparkSession, sfDir: String): DataFrame =
    assocRulesOn(Tables.lineitem(spark, sfDir), "l_orderkey", "l_partkey", 2L)
      .transform(graft.util.Cols.verifySort(_, col("a_item"), col("b_item")))

  def assocRulesSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
      |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |ic AS (SELECT item, count(*) AS n_item FROM it GROUP BY 1),
      |n AS (SELECT count(DISTINCT bk) AS n_total FROM it)
      |SELECT a_item, b_item, n_baskets,
      | CAST(n_baskets AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS conf_ab,
      | CAST(n_baskets AS DOUBLE) / CAST(ib.n_item AS DOUBLE) AS conf_ba,
      | CAST(n_baskets * n_total AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      |FROM p JOIN ic ia ON p.a_item = ia.item JOIN ic ib ON p.b_item = ib.item CROSS JOIN n
      |ORDER BY a_item, b_item""".stripMargin

  /** PageRank iteration count and fixed-point scale shared by the Spark
    * form and the oracle. INTEGER fixed-point arithmetic throughout —
    * rank mass rides as (rank × 10¹²) longs and every step is integer
    * multiply/divide, so 5 iterations produce bit-identical longs on
    * any engine and any summation order (float PageRank is
    * order-sensitive and can't be value-oracled).
    */
  val PrIters = 5
  val PrScale = 1000000000000L // 10^12: headroom for 85·rank within int64

  /** Fixed-iteration PageRank over an undirected edge set (a < b rows;
    * both directions derived scan-side). Damping 0.85 as the integer
    * pair (85, 100). Each iteration is one equi-join (edges ⋈ ranks on
    * the source) + one sum shuffle on the target — the textbook
    * distributed shape; degrees ride WITH the rank rows so no extra
    * join per round. Isolated nodes don't occur (every edge endpoint
    * has degree ≥ 1); dangling mass doesn't occur (undirected ⇒ out-deg
    * = deg ≥ 1). Output: (id, deg, pr_fixed) — pr_fixed ≈ rank × 10¹².
    *
    * An edge list within [[graft.util.Local.maxRows]] (Spark's broadcast
    * threshold) with integral, non-null ids is solved on the driver instead
    * ([[ranksLocal]]: the same integer expressions, in Long) and
    * returned as a LocalRelation — the co-purchase graph at sf0.1 is
    * 7146 directed edges, where each distributed round is two Spark
    * stages of fixed scheduling cost over a few thousand rows.
    */
  def pagerankOn(edges: DataFrame, iters: Int = PrIters): DataFrame = {
    val e = symmetricEdges(edges)
    solvedLocally(e, StructType(Seq(StructField("deg", LongType, nullable = false),
        StructField("pr_fixed", LongType)))) { (g, deg) =>
      val n = g.size.toLong
      val r = ranksLocal(g, deg, iters, Array.fill(g.size)(PrScale / n),
        Array.fill(g.size)((15 * (PrScale / n)) / 100))
      i => Seq[Any](deg(i), r(i))
    }.getOrElse {
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val nTotal = deg.select(count(lit(1)).as("n_nodes"))
      // every frame below carries (id, deg, r); base = (15 · (S div N)) div 100
      var ranks = deg.crossJoin(broadcast(nTotal))
        .select(col("u").as("id"), col("deg"),
          expr(s"$PrScale DIV n_nodes").as("r"))
      (1 to iters).foreach { _ =>
        val sums = e
          .join(ranks.select(col("id").as("u"), col("deg").as("du"), col("r")), Seq("u"))
          .select(col("v"), expr("r DIV du").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("s"))
        ranks = deg.crossJoin(broadcast(nTotal))
          .join(sums, col("u") === col("v"), "left")
          .select(col("u").as("id"), col("deg"),
            (expr(s"(15 * ($PrScale DIV n_nodes)) DIV 100") +
              expr("(85 * coalesce(s, 0)) DIV 100")).as("r"))
      }
      ranks.select(col("id"), col("deg"), col("r").as("pr_fixed"))
    }
  }

  /** Both directions of an (a_item, b_item) edge list as (u, v),
    * materialized by an eager localCheckpoint() — the iteration base of
    * [[pagerankOn]] and [[pprOn]], and the one frame their driver-side
    * gate reads. Every distributed iteration joins this edge list:
    * without the pin, correctness-of-cost hangs on Catalyst's
    * ReuseExchange deduplicating `iters + 1` identical subtrees — one
    * nondeterministic expression or AQE replan away from recomputing
    * the upstream pair explosion per round. Checkpoint, NOT persist():
    * measured at sf0.1, the columnar cache doubles the query (7.4 s vs
    * 3.7 s un-pinned) because every scan pays columnar encode/decode
    * that ReuseExchange never charged, while the eager row-level
    * checkpoint (2.5-2.7 s) materializes once AND truncates the
    * lineage, so the iteration plans stay shallow.
    */
  private def symmetricEdges(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("a_item").as("u"), col("b_item").as("v")),
        struct(col("b_item").as("u"), col("a_item").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint()

  /** The driver-side gate of the rank operators: when the checkpointed
    * (u, v) list `e` fits ([[graft.util.Local.graphIfFits]]), `solve`
    * turns the collected graph and its node degrees into per-node values
    * for the columns of `rest`, and the (id, rest…) rows come back as a
    * LocalRelation. None leaves the caller on its distributed path.
    */
  private def solvedLocally(e: DataFrame, rest: StructType)(
      solve: (graft.util.Local.Graph, Array[Long]) => (Int => Seq[Any])): Option[DataFrame] =
    graft.util.Local.graphIfFits(e).map { g =>
      val deg = new Array[Long](g.size)
      g.src.foreach(i => deg(i) += 1)
      val cols = solve(g, deg)
      e.sparkSession.createDataFrame(
        java.util.Arrays.asList(g.ids.indices.map(i => Row.fromSeq(g.ids(i) +: cols(i))): _*),
        StructType(e.schema("u").copy(name = "id") +: rest.fields))
    }

  /** `iters` fixed rounds of the rank recurrence over a collected graph,
    * from `init`: r'(x) = teleport(x) + (85 · Σ_{(u,x)} r(u) div deg(u))
    * div 100. Every operand is non-negative, so Long `/` is exactly the
    * distributed rounds' `DIV`.
    */
  private def ranksLocal(g: graft.util.Local.Graph, deg: Array[Long], iters: Int,
      init: Array[Long], teleport: Array[Long]): Array[Long] =
    (1 to iters).foldLeft(init) { (r, _) =>
      val s = new Array[Long](g.size)
      g.src.indices.foreach(k => s(g.dst(k)) += r(g.src(k)) / deg(g.src(k)))
      Array.tabulate(g.size)(x => teleport(x) + (85 * s(x)) / 100)
    }

  /** q52_pagerank testdata binding: PageRank over the support-≥2
    * co-purchase graph.
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    pagerankOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("id")))

  def pagerankSql: String = {
    val prelude =
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
         |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
         |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT a_item AS u, b_item AS v FROM p
         |      UNION ALL SELECT b_item, a_item FROM p),
         |deg AS (SELECT u AS id, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT count(*) AS n_nodes FROM deg),
         |r0 AS (SELECT id, deg, $PrScale // n_nodes AS r FROM deg CROSS JOIN n)""".stripMargin
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT d.id, d.deg,
         |  CAST(((15 * ($PrScale // n_nodes)) // 100) + ((85 * coalesce(s.s, 0)) // 100) AS BIGINT) AS r
         |  FROM deg d CROSS JOIN n LEFT JOIN
         |   (SELECT e.v, CAST(sum(pr.r // pr.deg) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} pr ON e.u = pr.id GROUP BY e.v) s ON d.id = s.v)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT id, deg, r AS pr_fixed FROM r$PrIters ORDER BY id""".stripMargin
  }

  /** Seed-set size for [[pprOn]] — the top-degree nodes personalize
    * the walk (deterministic: degree desc, id asc).
    */
  val PprSeeds = 3

  /** q70_ppr — PERSONALIZED PageRank (the recommendation/locality
    * variant of q52: teleport mass returns to a SEED SET instead of
    * uniformly, so rank concentrates around the seeds' neighborhoods —
    * "related to THESE products", the walk-with-restart scoring behind
    * item-to-item recommendation and local community detection). Same
    * integer fixed-point contract as [[pagerankOn]] (scale 10^12,
    * floor division both engines — operands non-negative), same
    * per-round shape (one edge⋈rank join + per-node sum, checkpointed
    * iteration base) and the same driver-side small path, only the
    * teleport term changes: seeds get (15 · S/|seeds|)/100, everyone
    * else 0. Fixed [[PrIters]] rounds, fully value-oracled against the
    * unrolled SQL twin. `nSeeds` must be ≥ 1.
    * Output: (id, deg, is_seed, ppr_fixed).
    */
  def pprOn(edges: DataFrame, iters: Int = PrIters,
      nSeeds: Int = PprSeeds): DataFrame = {
    require(nSeeds >= 1, s"personalized PageRank needs at least one seed, got $nSeeds")
    val e = symmetricEdges(edges)
    solvedLocally(e, StructType(Seq(StructField("deg", LongType, nullable = false),
        StructField("is_seed", IntegerType, nullable = false), StructField("ppr_fixed", LongType)))) { (g, deg) =>
      val seeds = (0 until g.size).sortBy(i => (-deg(i), g.order(i))).take(nSeeds).toSet
      val isSeed = Array.tabulate(g.size)(i => if (seeds(i)) 1 else 0)
      val r = ranksLocal(g, deg, iters, isSeed.map(s => (PrScale / nSeeds) * s),
        isSeed.map(s => ((15 * (PrScale / nSeeds)) / 100) * s))
      i => Seq[Any](deg(i), isSeed(i), r(i))
    }.getOrElse {
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val seeds = deg.orderBy(col("deg").desc, col("u")).limit(nSeeds)
        .select(col("u").as("id"), lit(1).as("is_seed"))
      val base = deg.select(col("u").as("id"), col("deg"))
        .join(broadcast(seeds), Seq("id"), "left")
        .select(col("id"), col("deg"),
          coalesce(col("is_seed"), lit(0)).as("is_seed"))
        .localCheckpoint()
      val teleport = expr(s"(15 * ($PrScale DIV $nSeeds)) DIV 100") * col("is_seed")
      var ranks = base.withColumn("r",
        expr(s"$PrScale DIV $nSeeds") * col("is_seed"))
      (1 to iters).foreach { _ =>
        val sums = e
          .join(ranks.select(col("id").as("u"), col("deg").as("du"), col("r")), Seq("u"))
          .select(col("v"), expr("r DIV du").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("s"))
        ranks = base
          .join(sums, col("id") === col("v"), "left")
          .select(col("id"), col("deg"), col("is_seed"),
            (teleport + expr("(85 * coalesce(s, 0)) DIV 100")).as("r"))
      }
      ranks.select(col("id"), col("deg"), col("is_seed"), col("r").as("ppr_fixed"))
    }
  }

  /** q70_ppr testdata binding: restart walk over the support-≥2
    * co-purchase graph, personalized to the 3 highest-degree items.
    */
  def ppr(spark: SparkSession, sfDir: String): DataFrame =
    pprOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("id")))

  def pprSql: String = {
    val prelude =
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
         |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
         |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT a_item AS u, b_item AS v FROM p
         |      UNION ALL SELECT b_item, a_item FROM p),
         |deg AS (SELECT u AS id, count(*) AS deg FROM e GROUP BY 1),
         |sd AS MATERIALIZED (SELECT id FROM deg ORDER BY deg DESC, id LIMIT $PprSeeds),
         |b AS MATERIALIZED (SELECT d.id, d.deg,
         |      CASE WHEN sd.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed
         |     FROM deg d LEFT JOIN sd ON d.id = sd.id),
         |r0 AS (SELECT id, deg, is_seed,
         |      CAST(($PrScale // $PprSeeds) * is_seed AS BIGINT) AS r FROM b)""".stripMargin
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT b.id, b.deg, b.is_seed,
         |  CAST(((15 * ($PrScale // $PprSeeds)) // 100) * b.is_seed
         |   + ((85 * coalesce(s.s, 0)) // 100) AS BIGINT) AS r
         |  FROM b LEFT JOIN
         |   (SELECT e.v, CAST(sum(pr.r // pr.deg) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} pr ON e.u = pr.id GROUP BY e.v) s ON b.id = s.v)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT id, deg, is_seed, r AS ppr_fixed FROM r$PrIters ORDER BY id""".stripMargin
  }

  /** Per-middle-vertex adjacency cap for [[khopOn]]'s self-join: each
    * node contributes at most this many outgoing edges as the SECOND
    * hop. 64 is far above the testdata co-purchase graph's max degree
    * (13 at sf0.01, 6 at sf0.1), so the capped operator is EXACT there;
    * on a power-law graph at 100× it bounds the self-join's output at
    * cap·|E| instead of Σ deg² (one 10⁵-degree hub would otherwise
    * put 10¹⁰ intermediate rows on a single join key).
    */
  val KhopDegCap = 64

  /** 2-hop neighborhood profile over an undirected edge set (a < b
    * rows): per node, the direct-neighbor count and the count of
    * distinct nodes reachable in ≤ 2 hops (self excluded) — the
    * "friends-of-friends" reach that drives recommendation-candidate
    * pool sizing. One edge self-join under the symmetrized edge list
    * produces the 2-hop pairs; the union with 1-hop pairs distincts
    * into the reach set. The middle-vertex side of the self-join is
    * HUB-CAPPED at `degCap` neighbors, chosen per node by a
    * deterministic hash rank (portable integer arithmetic, identical in
    * the oracle) — the df-cap policy of [[Dedup.ngramJaccardOn]]'s hot
    * shingles applied to graph hubs. Candidate volume is therefore
    * Σ deg_in(w)·min(deg(w), cap) ≤ cap·|E|, never Σ deg²; reach
    * through a hub beyond the cap degrades to a deterministic sample
    * (exact whenever max degree ≤ cap, as on the testdata graph). The
    * cap's row_number window partitions on the same key the join
    * shuffles on, so it rides the join exchange rather than adding one.
    * Output: (id, n_1hop, n_reach2).
    */
  def khopOn(edges: DataFrame, degCap: Int = KhopDegCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(explode(array(
        struct(col("a_item").as("u"), col("b_item").as("v")),
        struct(col("b_item").as("u"), col("a_item").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    // r17: the hub cap as a bounded aggregate (HashCapAgg — same
    // (hash, id) order as the r16 row_number window, O(cap) state,
    // map-side combined; e is distinct by construction so the
    // aggregate's set semantics change nothing), the second hop
    // exploding from the capped array
    val eCapArr = e.groupBy(col("u").as("w"))
      .agg(graft.functions.HashCapAgg.column(col("v"), degCap).as("xs"))
    val two = e.select(col("u"), col("v").as("w"))
      .join(eCapArr, Seq("w"))
      .select(col("u"), explode(col("xs")).as("v"))
      .filter(col("u") =!= col("v"))
    val reach = e.unionAll(two).distinct()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("n_1hop"))
    reach.groupBy(col("u"))
      .agg(count(lit(1)).as("n_reach2"))
      .join(deg, Seq("u"))
      .select(col("u").as("id"), col("n_1hop"), col("n_reach2"))
  }

  /** q54_khop testdata binding: 2-hop reach over the support-≥2
    * co-purchase graph.
    */
  def khop(spark: SparkSession, sfDir: String): DataFrame =
    khopOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("id")))

  def khopSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
      |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT a_item AS u, b_item AS v FROM p
      |      UNION ALL SELECT b_item, a_item FROM p),
      |ec AS (SELECT u, v FROM (
      |      SELECT u, v, row_number() OVER (PARTITION BY u
      |        ORDER BY (v * 1103515245 + 12345) % 1000000007, v) AS rk FROM e)
      |      WHERE rk <= 64),
      |two AS (SELECT a.u, b.v FROM e a JOIN ec b ON a.v = b.u WHERE a.u <> b.v),
      |reach AS (SELECT u, v FROM e UNION SELECT u, v FROM two),
      |deg AS (SELECT u, count(*) AS n_1hop FROM e GROUP BY 1)
      |SELECT r.u AS id, deg.n_1hop, count(*) AS n_reach2
      |FROM reach r JOIN deg ON r.u = deg.u
      |GROUP BY r.u, deg.n_1hop
      |ORDER BY id""".stripMargin

  /** Bounded-round k-core peeling over an undirected (a_item < b_item)
    * edge set: repeatedly remove nodes with degree < k and their edges —
    * the graph-mining densification step (the 2-core strips pendant
    * chains; degeneracy ordering generalizes it). The contract is
    * exactly `rounds` peels (extra rounds past the fixpoint are
    * no-ops), so the semantics unroll into plain SQL for the oracle the
    * same way pagerank's fixed iterations do; the spec pins that the
    * testdata graph reaches its fixpoint well inside the bound.
    *
    * Scale shape per round: one degree aggregate over the (shrinking)
    * edge set + two semi-joins against the surviving-node set — all
    * keyed shuffles on the graph, which only shrinks. Each peel is one
    * [[graft.util.Fixpoint]] round: one eager localCheckpoint whose
    * observed edge count is the fixpoint test, with an early exit when
    * a peel removes nothing. Output: (item, core_deg) for nodes
    * surviving all peels.
    */
  def kcorePeelOn(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    def sym(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val e0 = Fixpoint.materialize(edges.select(col("a_item").as("u"), col("b_item").as("v")))
    val core = Fixpoint.run("kcorePeelOn", e0, rounds) { (e, _) =>
      val alive = sym(e.df).groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u").as("n"))
      Fixpoint.materialize(e.df
        .join(alive.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
    } (_.metric == _.metric) // a peel that keeps every edge: later peels are no-ops
    sym(core.df).groupBy(col("u").as("item")).agg(count(lit(1)).as("core_deg"))
  }

  /** q56_kcore testdata binding: the 2-core of the support-≥2
    * co-purchase graph, 8 peel rounds.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame =
    kcorePeelOn(copurchase(spark, sfDir), 2, 8)
      .transform(graft.util.Cols.verifySort(_, col("item")))

  def kcoreSql: String = {
    val prelude =
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
        |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT a_item AS u, b_item AS v FROM p)""".stripMargin
    // MATERIALIZED is load-bearing: each round references the previous
    // round three times (twice through the degree filter, once in the
    // edge filter), so an inlined unroll re-evaluates e0 3^8 times —
    // DuckDB runs out of file handles re-opening the parquet before it
    // runs out of patience.
    val steps = (1 to 8).map { i =>
      val prev = s"e${i - 1}"
      s"""a$i AS MATERIALIZED (SELECT u AS n FROM (
         |  SELECT u, count(*) AS deg FROM (
         |    SELECT u, v FROM $prev UNION ALL SELECT v, u FROM $prev) GROUP BY 1)
         |  WHERE deg >= 2),
         |e$i AS MATERIALIZED (SELECT u, v FROM $prev
         |  WHERE u IN (SELECT n FROM a$i) AND v IN (SELECT n FROM a$i))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT u AS item, count(*) AS core_deg FROM (
       |  SELECT u, v FROM e8 UNION ALL SELECT v, u FROM e8)
       |GROUP BY 1 ORDER BY item""".stripMargin
  }

  /** Iteration bound shared by [[corenessOn]]'s testdata binding and
    * its oracle unroll (extra iterations past the fixpoint are no-ops,
    * same contract as [[pagerankOn]] / [[kcorePeelOn]]).
    */
  val CorenessIters = 32

  /** Full core decomposition — every node's core number (the largest k
    * for which the node survives k-core peeling), not just one k-core's
    * survivors ([[kcorePeelOn]]). Runs the iterated-h-index fixpoint
    * (Lu et al., Nature Communications 2016, a published public
    * algorithm): start each node at its degree, then repeatedly replace
    * a node's value with the H-index of its neighbors' values — the
    * sequence decreases monotonically and converges to coreness. This
    * is THE distributed shape for core decomposition: per round one
    * edge⋈value join plus one per-node window/agg (keyed shuffles on
    * the graph), instead of per-(k, round) peels — k never appears, so
    * the full decomposition costs the same as one peel sequence.
    *
    * The H-index rides a window: neighbors sorted by value desc, rank
    * r, H = max(least(r, value)) — all integer arithmetic, so the
    * oracle unrolls bit-identically. Each round is one
    * [[graft.util.Fixpoint]] round (one eager localCheckpoint), and its
    * fixpoint test is the observed SUM of the values: the h-index
    * sequence never rises at any node (a node's H is at most its
    * neighbor count, its starting value, and H is monotone in the
    * neighbors' values), so an unchanged sum means no value changed.
    * Round 0's sum is the degree total, which is e's row count. The
    * bound: measured convergence is round 21 at sf0.001, 10 at sf0.01,
    * 5 at sf0.1 (BIGGER graphs converge FASTER here — convergence tracks the
    * depth of h-value cascades, and the small graph's long pendant
    * chains out-depth the dense one's cliques), so the bound carries
    * real margin, the early exit keeps actual cost at the convergence
    * round count, and the spec cross-checks coreness against
    * independent peels at every k — an unconverged bound cannot pass
    * silently (an unconverged h-index OVERestimates: at 16 iterations
    * sf0.001 still claimed 81 nodes >= 16 while the true 16-core is
    * empty). Output: (item, coreness).
    */
  def corenessOn(edges: DataFrame, iters: Int = CorenessIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Fixpoint.materialize(edges.select(explode(array(
        struct(col("a_item").as("u"), col("b_item").as("v")),
        struct(col("b_item").as("u"), col("a_item").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v")))
    val degrees = Fixpoint.Round(e.df.groupBy(col("u")).agg(count(lit(1)).as("c")), e.metric)
    val core = Fixpoint.run("corenessOn", degrees, iters) { (core, _) =>
      val byV = core.df.select(col("u").as("v"), col("c").as("cv"))
      Fixpoint.materialize(e.df.join(byV, Seq("v"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("cv").desc, col("v"))))
        .groupBy(col("u"))
        .agg(max(least(col("rk").cast("long"), col("cv"))).as("c")), sum(col("c")))
    } (_.metric == _.metric)
    core.df.select(col("u").as("item"), col("c").as("coreness"))
  }

  /** q59_coreness testdata binding: full core decomposition of the
    * support-≥2 co-purchase graph.
    */
  def coreness(spark: SparkSession, sfDir: String): DataFrame =
    corenessOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("item")))

  def corenessSql: String = {
    val prelude =
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
        |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a_item AS u, b_item AS v FROM p
        |      UNION ALL SELECT b_item, a_item FROM p),
        |c0 AS MATERIALIZED (SELECT u, count(*) AS c FROM e GROUP BY 1)""".stripMargin
    val steps = (1 to CorenessIters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT u, max(least(rk, cv)) AS c FROM (
         |  SELECT e.u, p.c AS cv, row_number() OVER (PARTITION BY e.u
         |    ORDER BY p.c DESC, e.v) AS rk
         |  FROM e JOIN c${i - 1} p ON e.v = p.u) GROUP BY u)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT u AS item, c AS coreness FROM c$CorenessIters ORDER BY item""".stripMargin
  }

  def trianglesSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
      |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      |      GROUP BY 1, 2),
      |e AS (SELECT a_item AS u, b_item AS v FROM p WHERE n_baskets >= 2)
      |SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |FROM e e1 JOIN e e2 ON e1.v = e2.u
      |WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
      |ORDER BY a, b, c""".stripMargin

  /** Fixed unroll for [[communityLpOn]] — enough for community shapes
    * on the support graph at every testdata SF (measured; the oracle
    * replays the same K, so equality holds even where the fixpoint
    * has not settled — CommunitySpec pins actual community semantics
    * on planted graphs, the q59 two-algorithm lesson).
    */
  val CommunityIters = 4

  /** q64_community_lp — synchronous label-propagation communities over
    * an undirected edge set: every node starts as its own label and
    * each round adopts the most frequent label among neighbors, ties
    * to the SMALLEST label — fully deterministic, so the fixed-K
    * unroll is engine-replayable (no randomized async order, the
    * classic LPA reproducibility fix). Per round: one edge⋈label join,
    * one (node, label) count, one node-key window top-1 — all riding
    * the node-key shuffle, O(K) rounds total, labels integer-only.
    * Each round is one [[graft.util.Fixpoint]] round (one eager
    * localCheckpoint); there is no early exit.
    * The community coarsening step between the pairwise near-dup tier
    * (connected components) and global structure (pagerank/k-core):
    * components give "are these linked at all", LPA gives "which
    * cluster claims them".
    */
  def communityLpOn(pairs: DataFrame): DataFrame = {
    // the candidate-pair build feeding the edge list is the HEAVY part
    // (a basket self-join); every round re-joins the edges, so pin them
    // once as a concrete RDD leaf — without this the build replays per
    // round (measured 6.5 s -> the pagerank-class cost with the pin)
    val edges = pairs.select(col("a_item").as("u"), col("b_item").as("v"))
      .unionByName(pairs.select(col("b_item").as("u"), col("a_item").as("v")))
      .localCheckpoint()
    val seeds = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val wTop = Window.partitionBy(col("u"))
      .orderBy(col("cnt").desc, col("nlbl"))
    // exactly CommunityIters rounds, no early exit: the oracle replays K
    val labels = Fixpoint.run("communityLpOn", Fixpoint.Round(seeds, 0L), CommunityIters) {
      (labels, _) =>
        Fixpoint.materialize(edges
          .join(labels.df.select(col("id").as("v"), col("lbl").as("nlbl")), Seq("v"))
          .groupBy(col("u"), col("nlbl")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") === 1)
          .select(col("u").as("id"), col("nlbl").as("lbl")))
    } ((_, _) => false)
    labels.df.select(col("id").as("item"), col("lbl").as("community"))
  }

  /** q64_community_lp testdata binding: communities of the support-≥2
    * co-purchase graph.
    */
  def communityLp(spark: SparkSession, sfDir: String): DataFrame =
    communityLpOn(copurchase(spark, sfDir))
      .transform(graft.util.Cols.verifySort(_, col("item")))

  def communityLpSql: String = {
    val prelude =
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
        |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a_item AS u, b_item AS v FROM p
        |      UNION ALL SELECT b_item, a_item FROM p),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM e)""".stripMargin
    val steps = (1 to CommunityIters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT u AS id, nlbl AS lbl FROM (
         |  SELECT u, nlbl, row_number() OVER (PARTITION BY u
         |    ORDER BY cnt DESC, nlbl) AS rn
         |  FROM (SELECT e.u, p.lbl AS nlbl, count(*) AS cnt
         |        FROM e JOIN l${i - 1} p ON e.v = p.id GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT id AS item, lbl AS community FROM l$CommunityIters ORDER BY item""".stripMargin
  }

  /** Per-left-vertex adjacency cap for [[bipartiteProjectOn]]: each
    * left node (user) contributes pairs only among its `degCap`
    * deterministically-sampled right neighbors (items). 16 covers the
    * common case and bounds the quadratic-in-degree pair explosion; a
    * 10⁵-item hub account otherwise emits 5·10⁹ pairs on its own.
    */
  val BipartiteDegCap = 16

  /** Bipartite projection — the general form behind [[copurchaseOn]]:
    * project a (left, right) engagement edge set onto a RIGHT–RIGHT
    * graph whose edge weight is the number of shared left neighbors
    * (items co-engaged by the same user, authors co-cited by the same
    * paper, …). The classic graph-mining primitive the moment a second
    * entity pair appears.
    *
    * Scale shape: pair volume from left vertex u is deg(u)²/2, so
    * Σ deg² — the khop hub failure — unless capped. Each left
    * adjacency is therefore capped at `degCap` right neighbors chosen
    * by the deterministic hash rank (portable integer arithmetic,
    * identical in the oracle); candidate volume is then
    * Σ min(deg,cap)²/2 ≤ (cap/2)·|edges|, linear in the input. The
    * cap's row_number window partitions on the join/groupBy key it
    * rides. Projection through a hub beyond the cap degrades to a
    * deterministic sample (exact whenever max left degree ≤ cap);
    * ScaleSmokeSpec pins the planted-hub volume bound. Output:
    * (a_right, b_right, n_shared), a < b, n_shared ≥ `minShared`.
    */
  def bipartiteProjectOn(edges: DataFrame, leftCol: String, rightCol: String,
      degCap: Int = BipartiteDegCap, minShared: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uv = edges.select(col(leftCol).as("u"), col(rightCol).as("v")).distinct()
    // r17: the adjacency cap as a bounded aggregate (HashCapAgg — same
    // (hash, id) order as the r16 row_number window; the distinct
    // feeding it makes the aggregate's set semantics a no-op) and the
    // pair candidates EXPLODE from the capped array — no self-join
    val capped = uv.groupBy(col("u"))
      .agg(graft.functions.HashCapAgg.column(col("v"), degCap).as("xs"))
    capped.select(col("xs"), explode(col("xs")).as("a_right"))
      .select(col("a_right"), explode(col("xs")).as("b_right"))
      .filter(col("a_right") < col("b_right"))
      .groupBy(col("a_right"), col("b_right"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .transform(graft.functions.HashCapAgg.castBack(_, Seq("a_right", "b_right"),
        uv.schema("v").dataType))
  }

  /** q60_bipartite_proj testdata binding: customer→part engagement
    * (which parts each customer has ever ordered, via orders⋈lineitem)
    * projected to the part–part co-engagement graph — co_purchase's
    * same-basket affinity generalized to same-CUSTOMER affinity across
    * that customer's whole history.
    */
  def bipartiteProj(spark: SparkSession, sfDir: String): DataFrame = {
    val eng = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
    bipartiteProjectOn(eng, "cust", "item")
      .transform(graft.util.Cols.verifySort(_, col("a_right"), col("b_right")))
  }

  def bipartiteProjSql: String =
    s"""WITH uv AS (SELECT DISTINCT o_custkey AS u, l_partkey AS v
       |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |cap AS (SELECT u, v FROM (
       |      SELECT u, v, row_number() OVER (PARTITION BY u
       |        ORDER BY (v * 1103515245 + 12345) % 1000000007, v) AS rk FROM uv)
       |      WHERE rk <= $BipartiteDegCap)
       |SELECT a.v AS a_right, b.v AS b_right, count(*) AS n_shared
       |FROM cap a JOIN cap b ON a.u = b.u AND a.v < b.v
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY a_right, b_right""".stripMargin

  /** BFS hop bound shared by [[bfsOn]] and the unrolled oracle — the
    * same bounded-round contract as [[PrIters]]/k-core: exactly
    * `BfsRounds` frontier expansions, so the semantics unroll into
    * plain SQL (rounds past a frontier exhaustion are no-ops).
    */
  val BfsRounds = 4

  /** q65_bfs — multi-source breadth-first hop distance over an
    * undirected (a_item < b_item) edge set: every node in `sources`
    * starts at distance 0 and each round assigns distance i to the
    * unvisited neighbors of the round-(i−1) FRONTIER. This is
    * distance-to-nearest-seed — the primitive under seed-based corpus
    * curation (hop distance from a curated whitelist), graph feature
    * engineering, and reachability audits.
    *
    * Shape at scale: the textbook delta iteration — each round joins
    * the edge list against ONLY the previous frontier (not the full
    * visited set), one node-keyed equi-join + distinct + one anti-join
    * against the visited table, all shuffles keyed on the node id; the
    * frontier (and so per-round work) is bounded by the reachable
    * ball's growth, never |V|·rounds. Each round is one
    * [[graft.util.Fixpoint]] round: the distance table is materialized
    * by one eager localCheckpoint, the new frontier is its rows at
    * distance i, and the loop exits early once a round adds no row.
    * Hop distances are small integers; min-dist confluence makes the
    * result independent of visit order, which is what lets the
    * unrolled oracle match exactly.
    * Output: (id, dist) for nodes reached within [[BfsRounds]] hops.
    */
  def bfsOn(edges: DataFrame, sources: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val e = edges.select(explode(array(
        struct(col("a_item").as("u"), col("b_item").as("v")),
        struct(col("b_item").as("u"), col("a_item").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint(true)
    val dist0 = Fixpoint.materialize(sources.select(col("id"), lit(0L).as("dist")))
    Fixpoint.run("bfsOn", dist0, rounds) { (dist, i) =>
      val frontier = dist.df.filter(col("dist") === i - 1L).select(col("id").as("u"))
      val next = e.join(frontier, Seq("u"))
        .select(col("v").as("id")).distinct()
        .join(dist.df, Seq("id"), "left_anti")
        .select(col("id"), lit(i.toLong).as("dist"))
      Fixpoint.materialize(dist.df.unionAll(next))
    } (_.metric == _.metric).df // an empty frontier adds no row
  }

  /** q65_bfs testdata binding: hop distance from the item-id ≡ 0
    * (mod 97) seed set over the support-≥2 co-purchase graph (19 seeds,
    * ~80% of the graph reached within 4 hops at sf0.01).
    */
  def bfs(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = copurchase(spark, sfDir)
    val nodes = edges.select(col("a_item").as("id"))
      .unionAll(edges.select(col("b_item").as("id"))).distinct()
    bfsOn(edges, nodes.filter(col("id") % 97 === 0))
      .transform(graft.util.Cols.verifySort(_, col("id")))
  }

  def bfsSql: String = {
    val prelude =
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |p AS (SELECT a.item AS a_item, b.item AS b_item FROM it a
        |      JOIN it b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a_item AS u, b_item AS v FROM p
        |      UNION ALL SELECT b_item, a_item FROM p),
        |nd AS (SELECT DISTINCT u AS id FROM e),
        |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM nd WHERE id % 97 = 0)""".stripMargin
    val steps = (1 to BfsRounds).map { i =>
      s"""d$i AS (SELECT id, dist FROM d${i - 1}
         | UNION SELECT DISTINCT e.v AS id, CAST($i AS BIGINT) AS dist
         | FROM e JOIN d${i - 1} pv ON e.u = pv.id
         | WHERE e.v NOT IN (SELECT id FROM d${i - 1}))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT id, dist FROM d$BfsRounds ORDER BY id""".stripMargin
  }

  /** Relaxation-round bound for [[ssspOn]], shared with the unrolled
    * oracle. Weighted shortest paths need more rounds than hop-BFS
    * (the optimal path can be longer in hops than the hop-minimal
    * one); measured convergence (empty frontier): 6 rounds at
    * sf0.001/0.01, 5 at sf0.1 — the bound is the worst case + 2
    * headroom, and SsspSpec cross-checks against an independent
    * driver-side Dijkstra so an unconverged fixpoint cannot hide
    * behind an oracle that runs the same k steps.
    */
  val SsspRounds = 8

  /** q66_sssp — multi-source WEIGHTED shortest paths (Bellman-Ford
    * delta iteration) over an undirected integer-weighted edge set:
    * sources start at 0; each round relaxes only the edges out of the
    * previous round's IMPROVED set (the frontier), folds candidate
    * distances with min per node, and keeps nodes whose distance
    * improved. Where [[bfsOn]] measures hops, this measures
    * accumulated edge COST — on the co-purchase graph below, cost
    * 1000 div support, so a 2-hop path through strong ties undercuts
    * a weak direct edge (the planted-path spec pins exactly that).
    *
    * Shape at scale: the same delta-iteration contract as BFS — per
    * round one node-keyed equi-join of the edge list against the
    * FRONTIER (never the full distance table), one map-side-combined
    * min aggregate over the relaxed candidates, one left-outer
    * improvement filter, one min-merge of the distance table; every
    * shuffle keys on the node id, per-round work tracks the frontier
    * size. A round materializes twice through
    * [[graft.util.Fixpoint.materialize]]: the improved set, whose
    * observed row count is the fixpoint test, then the merged distance
    * table (skipped once nothing improved); the loop exits early on an
    * empty frontier. Integer distances with min-confluence →
    * partition-order-independent → exact unrolled oracle.
    * Output: (id, dist) for nodes reached within [[SsspRounds]]
    * relaxation rounds.
    */
  def ssspOn(edges: DataFrame, sources: DataFrame,
      rounds: Int = SsspRounds): DataFrame = {
    val e = edges.select(explode(array(
        struct(col("a_item").as("u"), col("b_item").as("v"), col("w")),
        struct(col("b_item").as("u"), col("a_item").as("v"), col("w")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .localCheckpoint(true)
    // state: (distance table, the frontier that improved last round)
    val dist0 = Fixpoint.materialize(sources.select(col("id"), lit(0L).as("dist")))
    Fixpoint.run("ssspOn", (dist0.df, dist0), rounds) { case ((dist, frontier), _) =>
      val relaxed = e.join(
          frontier.df.select(col("id").as("u"), col("dist").as("du")), Seq("u"))
        .select(col("v").as("id"), (col("du") + col("w")).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      val improved = Fixpoint.materialize(relaxed.join(dist, Seq("id"), "left_outer")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("id"), col("nd").as("dist")))
      if (improved.metric == 0) (dist, improved)
      else (Fixpoint.materialize(dist.unionAll(improved.df)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))).df, improved)
    } ((_, next) => next._2.metric == 0)._1
  }

  /** q66_sssp testdata binding: cost 1000 div n_baskets per
    * co-purchase edge (strong ties are cheap), the item-id ≡ 0
    * (mod 97) seed set.
    */
  def sssp(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = copurchase(spark, sfDir)
      .select(col("a_item"), col("b_item"),
        expr("1000 div n_baskets").cast("long").as("w"))
    val nodes = edges.select(col("a_item").as("id"))
      .unionAll(edges.select(col("b_item").as("id"))).distinct()
    ssspOn(edges, nodes.filter(col("id") % 97 === 0))
      .transform(graft.util.Cols.verifySort(_, col("id")))
  }

  def ssspSql: String = {
    val prelude =
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |p AS (SELECT a.item AS a_item, b.item AS b_item,
        |       CAST(1000 // count(*) AS BIGINT) AS w
        |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a_item AS u, b_item AS v, w FROM p
        |      UNION ALL SELECT b_item, a_item, w FROM p),
        |nd AS (SELECT DISTINCT u AS id FROM e),
        |d0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS dist FROM nd WHERE id % 97 = 0),
        |f0 AS MATERIALIZED (SELECT id, dist FROM d0)""".stripMargin
    val steps = (1 to SsspRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         |      SELECT id, dist FROM d${i - 1}
         |      UNION ALL
         |      SELECT e.v AS id, f.dist + e.w AS dist
         |      FROM e JOIN f${i - 1} f ON e.u = f.id) GROUP BY 1),
         |f$i AS MATERIALIZED (SELECT d.id, d.dist FROM d$i d
         |      LEFT JOIN d${i - 1} prev ON d.id = prev.id
         |      WHERE prev.id IS NULL OR d.dist < prev.dist)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$prelude$steps
       |SELECT id, dist FROM d$SsspRounds ORDER BY id""".stripMargin
  }

  // -------------------------------------------------------- assortativity

  /** q69_assortativity — degree assortativity (Newman 2002): the
    * Pearson correlation of endpoint degrees over all directed edge
    * ends — the one-number answer to "do hubs connect to hubs
    * (assortative, r>0) or to leaves (disassortative, r<0)", which
    * predicts how the affinity graph degrades under hub removal and
    * how k-core/PageRank mass concentrates.
    *
    * Exactness: all five moments (m, Σx, Σxy, Σx², and Σy ≡ Σx by
    * symmetry over both orientations) are exact int64 sums; the final
    * r divides them in ONE fixed expression order in double (identical
    * IEEE sequence both engines) and prounds — so a single-row float
    * output still value-oracles. Shape: one degree aggregate + one
    * broadcast-degree edge join + one global 5-moment reduce; no
    * window, no second shuffle of the edge set.
    * Output: (m_ends, sum_x, sum_xy, sum_x2, assortativity_r).
    */
  def assortativityOn(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    und
      .join(broadcast(deg.select(col("id").as("u"), col("deg").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("v"), col("deg").as("dv"))), Seq("v"))
      .agg(count(lit(1)).as("m_ends"), sum(col("du")).as("sum_x"),
        sum(col("du") * col("dv")).as("sum_xy"),
        sum(col("du") * col("du")).as("sum_x2"))
      .withColumn("num",
        (col("m_ends") * col("sum_xy") - col("sum_x") * col("sum_x")).cast("double"))
      .withColumn("den",
        (col("m_ends") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double"))
      // zero degree variance (every endpoint the same degree) makes the
      // correlation undefined — report NULL explicitly (ANSI division
      // would throw, a silent NaN would hash-diverge across engines)
      .withColumn("assortativity_r", when(col("den") === 0.0,
          lit(null).cast("double"))
        .otherwise(graft.util.Cols.pround(col("num") / col("den"), 6)))
      .select(col("m_ends"), col("sum_x"), col("sum_xy"), col("sum_x2"),
        col("assortativity_r"))
  }

  /** q69_assortativity testdata binding: the co-purchase graph. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame =
    assortativityOn(copurchase(spark, sfDir)
      .select(col("a_item").as("a"), col("b_item").as("b")))

  def assortativitySql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
      |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      |      GROUP BY 1, 2),
      |e AS (SELECT a_item AS a, b_item AS b FROM p WHERE n_baskets >= 2),
      |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m_ends,
      |       CAST(sum(du.deg) AS BIGINT) AS sum_x,
      |       CAST(sum(du.deg * dv.deg) AS BIGINT) AS sum_xy,
      |       CAST(sum(du.deg * du.deg) AS BIGINT) AS sum_x2
      |      FROM und JOIN deg du ON und.u = du.id JOIN deg dv ON und.v = dv.id)
      |SELECT m_ends, sum_x, sum_xy, sum_x2,
      | CASE WHEN CAST(m_ends * sum_x2 - sum_x * sum_x AS DOUBLE) = 0.0 THEN NULL
      |      ELSE floor(CAST(m_ends * sum_xy - sum_x * sum_x AS DOUBLE)
      |        / CAST(m_ends * sum_x2 - sum_x * sum_x AS DOUBLE) * 1000000.0 + 0.5)
      |        / 1000000.0 END AS assortativity_r
      |FROM m""".stripMargin

  // ------------------------------------------------------ link prediction

  /** Wedge-center adjacency cap for [[linkPredOn]] — the same Σ deg²
    * bound as [[BipartiteDegCap]]: common-neighbor candidates explode
    * quadratically at hub centers, so each center contributes wedges
    * only among its `degCap` hash-rank-sampled neighbors.
    */
  val LinkPredDegCap = 16

  /** q68_link_pred — common-neighbor / Jaccard link prediction
    * (Liben-Nowell & Kleinberg 2003): for every NON-adjacent vertex
    * pair at distance 2, the number of shared neighbors and the
    * Jaccard coefficient of their neighborhoods — the classic
    * "customers who buy these also buy..." candidate generator over
    * the affinity graph.
    *
    * Shape at scale: candidates are generated as wedges at their
    * CENTER vertex (two capped adjacency probes joined on the center —
    * Σ min(deg,cap)² ≤ cap·|edges|, linear), aggregated on the slim
    * (u, w) pair key, anti-joined against the edge set, then degree-
    * joined for the Jaccard denominator. Degrees stay UNCAPPED (one
    * cheap aggregation — only candidate generation needs the bound);
    * jacc_milli = (1000·cn) div (du + dw − cn) is exact non-negative
    * integer arithmetic, so the whole ranking value-oracles.
    * Output: (u, w, cn, du, dw, jacc_milli) for pairs with cn ≥
    * `minCommon`, u < w.
    */
  def linkPredOn(edges: DataFrame, minCommon: Long = 2L,
      degCap: Int = LinkPredDegCap): DataFrame = {
    val und = edges.select(col("a").as("c"), col("b").as("n"))
      .union(edges.select(col("b").as("c"), col("a").as("n")))
    val deg = und.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    // r17: the degree cap as a bounded aggregate (HashCapAgg — same
    // (hash, id) order as the r16 row_number window; und is distinct
    // for canonical inputs so the set semantics change nothing) and
    // the common-neighbor candidates EXPLODE from the capped array
    val capped = und.groupBy(col("c"))
      .agg(graft.functions.HashCapAgg.column(col("n"), degCap).as("xs"))
    val cand = capped.select(col("xs"), explode(col("xs")).as("u"))
      .select(col("u"), explode(col("xs")).as("w"))
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .transform(graft.functions.HashCapAgg.castBack(_, Seq("u", "w"), und.schema("n").dataType))
    cand
      // candidates are canonical u < w, so anti-join against the
      // CANONICALIZED edge list (least/greatest) — a caller passing
      // non-canonical or bidirectional edges would otherwise get
      // already-adjacent pairs predicted (identity when a < b holds).
      .join(edges.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("w")), Seq("u", "w"), "left_anti")
      .join(deg.select(col("c").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("c").as("w"), col("deg").as("dw")), Seq("w"))
      .withColumn("jacc_milli", expr("(1000 * cn) div (du + dw - cn)"))
      .select(col("u"), col("w"), col("cn"), col("du"), col("dw"), col("jacc_milli"))
  }

  /** q68_link_pred testdata binding: predicted next co-purchase edges
    * over the support-≥2 affinity graph.
    */
  def linkPred(spark: SparkSession, sfDir: String): DataFrame =
    linkPredOn(copurchase(spark, sfDir)
        .select(col("a_item").as("a"), col("b_item").as("b")))
      .transform(graft.util.Cols.verifySort(_, col("u"), col("w")))

  def linkPredSql: String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
       |p AS (SELECT a.item AS a_item, b.item AS b_item, count(*) AS n_baskets
       |      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
       |      GROUP BY 1, 2),
       |e AS (SELECT a_item AS a, b_item AS b FROM p WHERE n_baskets >= 2),
       |und AS (SELECT a AS c, b AS n FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       |cap AS (SELECT c, n FROM (
       |      SELECT c, n, row_number() OVER (PARTITION BY c
       |        ORDER BY (n * 1103515245 + 12345) % 1000000007, n) AS rk FROM und)
       |      WHERE rk <= $LinkPredDegCap),
       |cand AS (SELECT a.n AS u, b.n AS w, CAST(count(*) AS BIGINT) AS cn
       |      FROM cap a JOIN cap b ON a.c = b.c AND a.n < b.n
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |ne AS (SELECT u, w, cn FROM cand
       |      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cand.u AND e.b = cand.w))
       |SELECT u, w, cn, du.deg AS du, dw.deg AS dw,
       | (1000 * cn) // (du.deg + dw.deg - cn) AS jacc_milli
       |FROM ne JOIN deg du ON ne.u = du.c JOIN deg dw ON ne.w = dw.c
       |ORDER BY u, w""".stripMargin
}
