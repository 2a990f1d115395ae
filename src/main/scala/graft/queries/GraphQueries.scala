package graft.queries

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over entity relationship graphs (SURVEY.md §2 extension
  * G1) — the authority-scoring step data-curation pipelines run over host /
  * link / co-occurrence graphs (Common-Crawl-style PageRank for source
  * quality). Built on `ops/PageRank`: exact-integer power iteration, so the
  * DuckDB oracle replicates EVERY iteration verbatim in HUGEINT and the
  * comparison is bit-exact — no float tolerance anywhere.
  */
object GraphQueries {

  /** The canonical SYMMETRIC, deduplicated part co-purchase adjacency —
    * parts linked when they appear in the same order, both directions
    * present, no self-loops. All five part-graph queries (triangles,
    * communities, kcore, recs, jaccard) build THIS EXACT plan and persist
    * it, so the session CacheManager shares one materialization across
    * them in bench/verify order: the first consumer pays the lineitem
    * self-join + distinct once, the other four read cached blocks. (The
    * round-9 persist-sharing experiment measured reuse winning whenever
    * ≥2 downstream consumers exist — recs 5.6→2.2 s — and single-consumer
    * persists losing; with five consumers the shared frame is the
    * family-level version of that win.) Derived shapes are map-only:
    * the canonical (a<b) half is `filter(src < dst)`. */
  private def partEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // round 11: generate each undirected pair ONCE (x < y) and symmetrize
    // with a map-side explode AFTER the distinct — the join emits half the
    // rows and the dedup exchange carries half the bytes of the former
    // x != y form (guide §2.3 "shuffle fewer bytes"); the explode then
    // restores the exact same symmetric set
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").cast("long").as("a"),
        col("y.l_partkey").cast("long").as("b"))
      .distinct()
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(graft.ops.Shared.persist)
  }

  /** Full-degree frame `(src, d)` of [[partEdges]] — one aggregation
    * over the shared cached frame, itself persisted and plan-identical
    * across its three consumers (triangles' orientation ranks, kcore's
    * adaptive-k order statistic, jaccard's du/dw joins). */
  private def partDegrees(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    partEdges(spark, dir)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
      .transform(graft.ops.Shared.persist)

  /** The symmetric customer↔supplier co-purchase adjacency (suppliers
    * offset by 1e6 into a disjoint id range) — shared the same way by
    * q_graph_pagerank and q_graph_bfs (two consumers; both ops checkpoint
    * their own working copies internally, this only shares the
    * orders⋈lineitem source build). */
  private def csEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val orders = Tables.t(spark, dir, "orders")
    val li = Tables.t(spark, dir, "lineitem")
    val pairs = orders
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + lit(1000000L)).as("s"))
      .distinct()
    // round 11: symmetrize with one map-side explode instead of a union of
    // two projections — the union form evaluated the orders⋈lineitem
    // distinct pipeline TWICE at materialization (the Components
    // symmetrize lesson applied here)
    pairs.select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(graft.ops.Shared.persist)
  }

  private val Iters = 8

  /** The co-purchase authority graph: customer ↔ supplier edges from
    * orders⋈lineitem (suppliers offset by 1e6 into a disjoint id range),
    * symmetrized, PageRank'd. Hub suppliers (many distinct customers)
    * surface at the top — the bipartite-authority shape. */
  private val pagerank = Q(
    "q_graph_pagerank",
    (spark, dir) => {
      val edges = csEdges(spark, dir)
      // the shared frame is distinct by construction (union of two
      // disjoint-id-range distinct projections) — skip the dedup shuffle
      graft.ops.PageRank.run(edges, iters = Iters, assumeDistinct = true)
        .select(col("node"),
          when(col("node") >= 1000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"),
          col("r").as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    Some(pagerankSql(Iters)))

  /** Unrolled exact-integer PageRank in DuckDB: one CTE per iteration, all
    * arithmetic HUGEINT (`//` = floor division on positives = Spark's
    * BIGINT `div`), mirroring ops/PageRank.run step for step. */
  private def pagerankSql(iters: Int): String = {
    val its = (0 until iters).map { i =>
      s"""it${i + 1} AS (
         |  SELECT n.node,
         |         CAST(150000000000 AS HUGEINT)
         |           + (85 * COALESCE(s.msum, CAST(0 AS HUGEINT))) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.r // e.outdeg) AS msum
         |    FROM it$i p JOIN ewd e ON e.src = p.node
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |         CAST(l_suppkey AS BIGINT) + 1000000 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |ewd AS (
       |  SELECT edges.src, edges.dst, CAST(od.outdeg AS HUGEINT) AS outdeg
       |  FROM edges JOIN (
       |    SELECT src AS osrc, count(*) AS outdeg FROM edges GROUP BY src) od
       |  ON od.osrc = edges.src),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
       |it0 AS (SELECT node, CAST(1000000000000 AS HUGEINT) AS r FROM nodes),
       |$its
       |SELECT node,
       |       CASE WHEN node >= 1000000 THEN 'supplier' ELSE 'customer' END AS kind,
       |       CAST(r AS BIGINT) AS rank
       |FROM it$iters
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** Triangle census of the part co-purchase graph (parts linked when they
    * appear in the same order — the market-basket projection). Top parts by
    * triangle participation + the global count: near-clique neighborhoods
    * rank first, the link-farm-detection shape. Exact set algebra end to
    * end, so the DuckDB oracle rebuilds the identical triangle set with
    * id-ordered joins (orientation-invariant). */
  private val triangleCensus = Q(
    "q_graph_triangles",
    (spark, dir) => {
      // canonical (a<b) half of the shared symmetric frame — map-only cut,
      // no extra canonicalization shuffle; orientation ranks come from the
      // shared degree frame
      val edges = partEdges(spark, dir).filter(col("src") < col("dst"))
      // eager localCheckpoint, not lazy persist (round 11): perNode's main
      // job and total's broadcast job run concurrently — a lazy persist has
      // both re-run the whole wedge pipeline racing on the same cache blocks
      val tris = graft.ops.Triangles
        .trianglesCanonical(edges, Some(partDegrees(spark, dir)))
        .localCheckpoint(true)
      val perNode = tris
        .select(explode(array(col("x"), col("y"), col("z"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("tri"))
      val total = tris.groupBy().agg(count(lit(1)).as("total_tri"))
      perNode.crossJoin(broadcast(total))
        .orderBy(col("tri").desc, col("part"))
        .limit(20)
    },
    Some("""WITH e AS (
      |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
      |         CAST(y.l_partkey AS BIGINT) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |pn AS (
      |  SELECT node, COUNT(*) AS tri FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY node)
      |SELECT pn.node AS part, CAST(pn.tri AS BIGINT) AS tri,
      |       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS total_tri
      |FROM pn ORDER BY tri DESC, part LIMIT 20""".stripMargin))

  private val LpaIters = 4

  /** Community census of the part co-purchase graph after 4 synchronous
    * label-propagation rounds (ops/LabelProp: deterministic min-tie LPA —
    * exact integer counting, so the DuckDB oracle replays EVERY round
    * verbatim). The dense-community complement of q_dedup_clusters'
    * connected components. */
  private val lpaCensus = Q(
    "q_graph_communities",
    (spark, dir) => {
      val edges = partEdges(spark, dir)
      val census = graft.ops.LabelProp
        .census(edges, LpaIters, assumeSymmetric = true).persist()
      val tot = census.agg(count(lit(1)).as("n_communities"),
        sum(col("size")).as("n_nodes"))
      census.crossJoin(broadcast(tot))
        .orderBy(col("size").desc, col("label").asc)
        .limit(20)
    },
    Some(lpaSql(LpaIters)))

  /** Unrolled synchronous LPA in DuckDB: two CTEs per round (neighbor-label
    * counts, then the per-node argmax with ties to the smallest label),
    * mirroring ops/LabelProp.run step for step. */
  private def lpaSql(iters: Int): String = {
    val its = (1 to iters).map { k =>
      s"""cnt$k AS (
         |  SELECT e.dst AS node, p.label, count(*) AS cnt
         |  FROM it${k - 1} p JOIN e ON e.src = p.node
         |  GROUP BY e.dst, p.label
         |), it$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |    FROM cnt$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS src,
       |         CAST(y.l_partkey AS BIGINT) AS dst
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
       |), it0 AS (
       |  SELECT DISTINCT src AS node, src AS label FROM e
       |),
       |$its, census AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS size FROM it$iters GROUP BY label
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |         CAST(sum(size) AS BIGINT) AS n_nodes FROM census
       |)
       |SELECT c.label, c.size, t.n_communities, t.n_nodes
       |FROM census c, tot t ORDER BY c.size DESC, c.label ASC LIMIT 20""".stripMargin
  }

  private val KcoreRounds = 6

  /** k-core peeling trajectory of the part co-purchase graph (round 9) —
    * the density-filter complement of the triangle census. k is ADAPTIVE:
    * the degree at the exact 20th-percentile position of the ascending
    * degree sequence (an integer order statistic — the value at a rank is
    * determined by the sorted multiset, so tie order can't diverge the
    * engines), which keeps the cascade non-trivial at every scale factor
    * instead of pinning a constant near one SF's critical density; the
    * rank is fetched DISTRIBUTED (ExactPercentile.valueAtRank — bucketed
    * two-pass rank arithmetic, one-row driver fetch, Long rank), never an
    * `orderBy.offset.limit` whose CollectLimit merge buffer would grow
    * with the node count. The output is the whole synchronous peel
    * trajectory — (round, nodes_alive, edges_alive) for rounds 0..6 —
    * which the DuckDB oracle replays round for round in exact integer
    * arithmetic. */
  private val kcoreTrajectory = Q(
    "q_graph_kcore",
    (spark, dir) => {
      val edges = partEdges(spark, dir)
      val deg = partDegrees(spark, dir)
      val n = deg.count()
      val idx = (2L * (n - 1L)) / 10L
      val k = graft.ops.ExactPercentile.valueAtRank(deg, "d", idx)
      graft.ops.KCore.peelTrajectory(spark, edges, k, KcoreRounds)
        .select(col("round"), lit(k).as("k"),
          col("nodes_alive"), col("edges_alive"))
        .orderBy(col("round"))
    },
    Some(kcoreSql(KcoreRounds)))

  /** Unrolled synchronous peel in DuckDB: kv = the order-statistic k; per
    * round one alive-node CTE (degree >= k) and one surviving-edge CTE.
    * Every multiply-referenced CTE is MATERIALIZED — each e{r} is read by
    * the next round's degree pass, both semi-join sides, and the
    * trajectory union, and without materialization DuckDB's inlining makes
    * the evaluation tree EXPONENTIAL in the round count (measured: the
    * 6-round inlined form never finished at sf0.01; materialized it's
    * sub-second). */
  private def kcoreSql(rounds: Int): String = {
    val its = (1 to rounds).map { r =>
      s"""a${r - 1} AS MATERIALIZED (
         |  SELECT src FROM (SELECT src, count(*) AS d FROM e${r - 1} GROUP BY src), kv
         |  WHERE d >= kv.k),
         |e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN a${r - 1} a ON a.src = e.src
         |  JOIN a${r - 1} b ON b.src = e.dst)""".stripMargin
    }.mkString(",\n")
    val traj = (0 to rounds).map { r =>
      s"""SELECT $r AS round, (SELECT k FROM kv) AS k,
         |       CAST(count(DISTINCT src) AS BIGINT) AS nodes_alive,
         |       CAST(count(*) // 2 AS BIGINT) AS edges_alive FROM e$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS src,
       |         CAST(y.l_partkey AS BIGINT) AS dst
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
       |), kv AS MATERIALIZED (
       |  SELECT CAST(d AS BIGINT) AS k FROM (
       |    SELECT d, row_number() OVER (ORDER BY d) AS rn,
       |           count(*) OVER () AS n
       |    FROM (SELECT src, count(*) AS d FROM e0 GROUP BY src))
       |  WHERE rn = (2 * (n - 1)) // 10 + 1
       |),
       |$its
       |SELECT * FROM ($traj) ORDER BY round""".stripMargin
  }

  private val BfsRounds = 6

  /** BFS level histogram of the customer↔supplier co-purchase graph from
    * the lowest node id (round 9) — the reachability profile: how much of
    * the graph sits n hops from a seed entity. Exact integer frontier
    * expansion (ops/Bfs), so the DuckDB oracle replays every round; the
    * unreached remainder is reported alongside. */
  private val bfsLevels = Q(
    "q_graph_bfs",
    (spark, dir) => {
      val edges = csEdges(spark, dir)
      val source = edges.agg(min(col("src"))).head().getLong(0)
      val lv = graft.ops.Bfs.levels(spark, edges, source, BfsRounds).persist()
      val nTotal = edges.select(col("src")).distinct().count()
      val nReached = lv.count()
      lv.groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
        .withColumn("n_unreached", lit(nTotal - nReached))
        .orderBy(col("level"))
    },
    Some(bfsSql(BfsRounds)))

  /** Unrolled frontier BFS in DuckDB: n{r} = distinct neighbors of the
    * previous frontier not yet settled, l{r} = the settled set — all
    * MATERIALIZED (each is referenced by the next frontier, the settled
    * union, and the histogram; inlining would re-evaluate the whole
    * prefix per round). */
  private def bfsSql(rounds: Int): String = {
    val its = (1 to rounds).map { r =>
      s"""n$r AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node, $r AS level
         |  FROM e0 e JOIN n${r - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM l${r - 1})),
         |l$r AS MATERIALIZED (
         |  SELECT node, level FROM l${r - 1}
         |  UNION ALL SELECT node, level FROM n$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |         CAST(l_suppkey AS BIGINT) + 1000000 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |n0 AS MATERIALIZED (
       |  SELECT min(src) AS node, 0 AS level FROM e0),
       |l0 AS MATERIALIZED (SELECT node, level FROM n0),
       |$its,
       |hist AS MATERIALIZED (
       |  SELECT level, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM l$rounds GROUP BY level)
       |SELECT h.level, h.n_nodes,
       |       CAST((SELECT count(DISTINCT src) FROM e0)
       |            - (SELECT sum(n_nodes) FROM hist) AS BIGINT) AS n_unreached
       |FROM hist h ORDER BY h.level""".stripMargin
  }

  /** 2-hop recommendation candidates (round 9) — the collaborative-filter
    * shape: for each seed part, parts most co-co-purchased with it that it
    * was never directly co-purchased with (rec strength = number of 2-paths,
    * existing edges anti-joined away). Seeded at the 20 lowest part ids so
    * the wedge expansion is bounded by the SEEDS' out-edges, not the
    * corpus — the per-item online-recommendation access pattern; exact
    * integer counting end to end. */
  private val graphRecs = Q(
    "q_graph_recs",
    (spark, dir) => {
      val edges = partEdges(spark, dir)
      val hops = edges.filter(col("src") <= 20).as("e1")
        .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("u"), col("e2.dst").as("w"))
        .filter(col("u") =!= col("w"))
      val recs = hops
        .join(edges.withColumnRenamed("src", "u").withColumnRenamed("dst", "w"),
          Seq("u", "w"), "left_anti")
        .groupBy(col("u"), col("w")).agg(count(lit(1)).as("n_paths"))
      val rw = Window.partitionBy(col("u"))
        .orderBy(col("n_paths").desc, col("w").asc)
      recs.withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 5)
        .select(col("u"), col("rk"), col("w"), col("n_paths"))
        .orderBy(col("u"), col("rk"))
    },
    Some("""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS src,
      |         CAST(y.l_partkey AS BIGINT) AS dst
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
      |hops AS MATERIALIZED (
      |  SELECT e1.src AS u, e2.dst AS w
      |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
      |  WHERE e1.src <= 20 AND e1.src <> e2.dst),
      |recs AS MATERIALIZED (
      |  SELECT h.u, h.w, CAST(count(*) AS BIGINT) AS n_paths
      |  FROM hops h ANTI JOIN e ON e.src = h.u AND e.dst = h.w
      |  GROUP BY h.u, h.w),
      |ranked AS (
      |  SELECT u, w, n_paths,
      |         row_number() OVER (PARTITION BY u ORDER BY n_paths DESC, w ASC) AS rk
      |  FROM recs)
      |SELECT u, CAST(rk AS INTEGER) AS rk, w, n_paths
      |FROM ranked WHERE rk <= 5 ORDER BY u, rk""".stripMargin))

  /** Neighborhood Jaccard similarity (round 9) — "parts bought with the
    * same things": for each seed part, the 5 most neighborhood-similar
    * parts by |N(u)∩N(w)| / |N(u)∪N(w)| over the co-purchase graph.
    * Intersections are wedge counts on the DISTINCT edge frame, degrees
    * one aggregation — all exact integers; the final ratio is ONE double
    * division of identical integers in both engines, so even the ranking
    * (jac desc, w asc) is bit-deterministic. Seed-bounded like
    * q_graph_recs (and shares its persisted edge frame in-session). */
  private val graphJaccard = Q(
    "q_graph_jaccard",
    (spark, dir) => {
      val edges = partEdges(spark, dir)
      val deg = partDegrees(spark, dir)
      val inter = edges.filter(col("src") <= 20).as("e1")
        .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("u"), col("e2.dst").as("w"))
        .filter(col("u") =!= col("w"))
        .groupBy(col("u"), col("w")).agg(count(lit(1)).as("inter"))
      val scored = inter
        .join(deg.select(col("src").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("src").as("w"), col("d").as("dw")), Seq("w"))
        .withColumn("jac", col("inter").cast("double") /
          (col("du") + col("dw") - col("inter")).cast("double"))
      val rw = Window.partitionBy(col("u"))
        .orderBy(col("jac").desc, col("w").asc)
      scored.withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 5)
        .select(col("u"), col("rk"), col("w"), col("inter"),
          round(col("jac"), 6).as("jaccard"))
        .orderBy(col("u"), col("rk"))
    },
    Some {
      import graft.tools.DuckDbSql
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS src,
         |         CAST(y.l_partkey AS BIGINT) AS dst
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
         |inter AS MATERIALIZED (
         |  SELECT e1.src AS u, e2.dst AS w, CAST(count(*) AS BIGINT) AS inter
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |  WHERE e1.src <= 20 AND e1.src <> e2.dst
         |  GROUP BY e1.src, e2.dst),
         |scored AS MATERIALIZED (
         |  SELECT i.u, i.w, i.inter,
         |         CAST(i.inter AS DOUBLE)
         |           / CAST(du.d + dw.d - i.inter AS DOUBLE) AS jac
         |  FROM inter i
         |  JOIN deg du ON du.src = i.u
         |  JOIN deg dw ON dw.src = i.w),
         |ranked AS (
         |  SELECT u, w, inter, jac,
         |         row_number() OVER (PARTITION BY u ORDER BY jac DESC, w ASC) AS rk
         |  FROM scored)
         |SELECT u, CAST(rk AS INTEGER) AS rk, w, inter,
         |       ${DuckDbSql.sparkRound("jac", 6)} AS jaccard
         |FROM ranked WHERE rk <= 5 ORDER BY u, rk""".stripMargin
    })

  val all: Seq[Q] = Seq(pagerank, triangleCensus, lpaCensus, kcoreTrajectory,
    bfsLevels, graphRecs, graphJaccard)
}
