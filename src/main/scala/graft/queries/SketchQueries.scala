package graft.queries

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregations (SURVEY.md §2.4 A5/A7): Pinot's
  * DISTINCTCOUNTHLL / PERCENTILEEST / PERCENTILETDIGEST surface, mapped to
  * Spark's HyperLogLog++ and approximate-percentile sketches.
  *
  * Declared without SQL oracles (sketch outputs are engine-specific —
  * SURVEY.md §7.4.1); the accuracy contract vs exact values is asserted in
  * SketchSpec instead. Both are mergeable-sketch aggregations: partial
  * sketches merge across partitions, so the shuffle carries one sketch per
  * group, not the data — the 100 TB form of COUNT DISTINCT / percentile.
  */
object SketchQueries {

  /** Shared exact anchor of q_sketch_hll and q_sketch_cpc: per-returnflag
    * exact distinct parts/orders via separate two-level distinct passes
    * (see the Expand note in q_sketch_hll). Persisted 3-row frame — both
    * queries build the IDENTICAL plan through this helper, so CacheManager
    * materializes the distinct passes once per session (the dedup-family
    * sharing pattern, DedupQueries.ngramNearDupPairs). */
  private def exactFlagDistincts(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.t(spark, dir, "lineitem")
    val exParts = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    val exOrders = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
    exParts.join(exOrders, Seq("l_returnflag")).transform(graft.ops.Shared.persist)
  }

  /** Shared exact anchor of q_sketch_percentile and q_sketch_kll: exact
    * interpolated (p50, p99) of l_extendedprice per returnflag. The exact
    * percentile ships the full per-group value map — the expensive part of
    * both queries — so the persisted 3-row result lets the second query
    * skip it entirely. */
  private def exactPricePercentiles(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"), array(lit(0.5), lit(0.99))).as("ex"))
      .transform(graft.ops.Shared.persist)

  /** A5: DISTINCTCOUNTHLL — HLL++ approximate distinct parts/orders.
    *
    * Hard-oracle form (round-3 verdict item #2): the hashed output carries
    * the EXACT counts plus deterministic error-bound booleans; the raw HLL
    * estimates stay out of the output because they are engine-specific.
    * DuckDB computes the exact side and the literal TRUE bound, so the hash
    * matches while the Spark side still runs (and checks) the real sketch —
    * an estimate drifting past 5% (rsd is 2%) flips a boolean and fails the
    * gate. Tighter per-run accuracy is asserted in SketchSpec. */
  private val sketchHll = Q(
    "q_sketch_hll",
    (spark, dir) => {
      val li = Tables.t(spark, dir, "lineitem")
      val relErr = (approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =>
        abs(approx.cast("double") - exact.cast("double")) / exact.cast("double")
      // exact distincts as SEPARATE two-level aggregations joined on the
      // 3-row group key: two countDistincts over different columns in one
      // agg make Catalyst Expand every input row once per distinct column
      // (3x the shuffle input at any scale) — two distinct-then-count
      // passes over a column-pruned scan partial-aggregate map-side and
      // measured 2.3x faster at sf0.1; the sketch agg stays single-pass
      // (mergeable partials, no Expand). The exact frame is the shared
      // persisted anchor (exactFlagDistincts — q_sketch_cpc reuses it)
      val sk = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap"),
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("ao"))
      exactFlagDistincts(spark, dir).join(sk, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          col("exact_orders"),
          (relErr(col("ap"), col("exact_parts")) <= 0.05).as("parts_within_5pct"),
          (relErr(col("ao"), col("exact_orders")) <= 0.05).as("orders_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
            |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
            |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
            |       TRUE AS parts_within_5pct,
            |       TRUE AS orders_within_5pct
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** A7: PERCENTILEEST/TDIGEST — approximate percentiles with bounded error.
    *
    * Same hard-oracle shape as q_sketch_hll: exact interpolated percentiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, both linear interpolation)
    * in the hashed output, sketch estimates folded into deterministic
    * within-bound booleans. accuracy=1000 gives ~0.1% rank error; 5% value
    * slack keeps the boolean stable under any partition merge order. */
  private val sketchPercentile = Q(
    "q_sketch_percentile",
    (spark, dir) => {
      val li = Tables.t(spark, dir, "lineitem")
      val relErr = (approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =>
        abs(approx.cast("double") - exact.cast("double")) / exact.cast("double")
      // BOTH quantiles from ONE buffer per sketch kind (array form): each
      // scalar percentile()/percentile_approx() call otherwise builds and
      // merges its own per-group value map — the array form halves the
      // partial-aggregate state shipped at the shuffle. The exact side is
      // the shared persisted anchor (exactPricePercentiles — q_sketch_kll
      // reuses it)
      val ax = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.99)), lit(1000)).as("ax"))
      exactPricePercentiles(spark, dir).join(ax, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          round(col("ex").getItem(0), 2).as("p50_exact"),
          round(col("ex").getItem(1), 2).as("p99_exact"),
          (relErr(col("ax").getItem(0), col("ex").getItem(0)) <= 0.05).as("p50_within_5pct"),
          (relErr(col("ax").getItem(1), col("ex").getItem(1)) <= 0.05).as("p99_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    // Spark-exact percentile + rounding replicas (DuckDbSql): quantile_cont
    // association and DuckDB round() both diverge from Spark at ulp/.xx5
    // boundaries (seen at sf0.001)
    Some(s"""SELECT l_returnflag,
            |       ${graft.tools.DuckDbSql.sparkRound(graft.tools.DuckDbSql.sparkPercentile("l_extendedprice", "0.5"), 2)} AS p50_exact,
            |       ${graft.tools.DuckDbSql.sparkRound(graft.tools.DuckDbSql.sparkPercentile("l_extendedprice", "0.99"), 2)} AS p99_exact,
            |       TRUE AS p50_within_5pct,
            |       TRUE AS p99_within_5pct
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Heavy hitters (Pinot FREQUENTSTRINGSSKETCH analog): DataSketches
    * frequent-items via Spark's `approx_top_k`. Mergeable sketch — the
    * shuffle carries one bounded sketch per partition at any scale. Unlike
    * HLL/percentile this IS oracle-checkable here: with far fewer distinct
    * items than the sketch's tracked capacity the counts are exact, so the
    * DuckDB exact top-k matches value-for-value (the accuracy property that
    * makes frequent-items sketches safe for low-cardinality columns). */
  private val sketchTopK = Q(
    "q_sketch_topk",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "events")
      // ask the sketch for MORE than the emitted k (10 ≥ the column's
      // cardinality): approx_top_k's pick among equal counts at the k-th
      // boundary is unspecified, so the deterministic (cnt desc, item)
      // cut happens here, not inside the sketch
      e.agg(expr("approx_top_k(event_type, 10)").as("tk"))
        .select(explode(col("tk")).as("x"))
        .select(col("x.item").as("item"), col("x.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item").asc)
        .limit(3)
    },
    Some("""SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
            |FROM events GROUP BY event_type
            |ORDER BY cnt DESC, item ASC LIMIT 3""".stripMargin))

  /** A5+: Pinot DISTINCT_COUNT_THETA_SKETCH set-operation surface
    * (SET_UNION / SET_INTERSECT / SET_DIFF over filtered sub-populations),
    * now on REAL mergeable theta sketches
    * ([[graft.expressions.ThetaSketchAgg]], DataSketches theta — the same
    * library Pinot 1.2 embeds) instead of the earlier HLL
    * inclusion–exclusion emulation: arbitrary NESTED set expressions over
    * ≥3 predicates compose exactly, and the sketch state is a persistable
    * binary column (cf. ThetaSketchSpec's stored-column intersection).
    *
    * One scan builds three per-predicate sketches (map-side mergeable
    * partials — no keyed state, the 100 TB posture); the nested expressions
    * (A∪B)∪C, A∩B, (A∩B)∖C, (A∪B)∩C are evaluated by scalar theta set ops
    * over the aggregated sketch binaries. Same hard-oracle shape as
    * q_sketch_hll: EXACT counts (per-key flag aggregation) are hashed,
    * sketch estimates participate through deterministic within-bound
    * booleans — theta sketch contents depend only on the value SET (k
    * smallest hashes), so estimates are stable under any partition order.
    * At the sf0.01 gate the populations (<2^lgK entries) keep θ=1 — exact
    * mode; at sf0.1+ the sketches genuinely sample (RSE ≈2-4%), and the
    * 5%/20% envelopes hold with ≥5σ margin (ThetaSketchSpec asserts the
    * sampling-mode accuracy directly). */
  private val sketchTheta = Q(
    "q_sketch_theta",
    (spark, dir) => {
      import graft.expressions.ThetaSketch._
      val li = Tables.t(spark, dir, "lineitem")
      val inA = col("l_quantity") === 1
      val inB = col("l_quantity") === 2
      val inC = col("l_quantity") === 3
      // exact side: one per-key shuffle carrying three int flags
      val exact = li.groupBy(col("l_partkey"))
        .agg(
          max(when(inA, 1).otherwise(0)).as("a"),
          max(when(inB, 1).otherwise(0)).as("b"),
          max(when(inC, 1).otherwise(0)).as("c"))
        .agg(
          sum(col("a")).cast("long").as("exact_q1"),
          sum(col("b")).cast("long").as("exact_q2"),
          sum(col("c")).cast("long").as("exact_q3"),
          sum(col("a") * col("b")).cast("long").as("exact_ab"),
          sum(greatest(col("a"), col("b"), col("c"))).cast("long").as("exact_any"),
          sum(col("a") * col("b") * (lit(1) - col("c"))).cast("long").as("exact_ab_not_c"),
          sum(greatest(col("a"), col("b")) * col("c")).cast("long").as("exact_ab_and_c"))
      // sketch side: three mergeable theta sketches in ONE raw-row scan
      val sk = li.agg(
        thetaSketchAgg(when(inA, col("l_partkey"))).as("sa"),
        thetaSketchAgg(when(inB, col("l_partkey"))).as("sb"),
        thetaSketchAgg(when(inC, col("l_partkey"))).as("sc"))
      val approx = sk.select(
        thetaEstimate(thetaUnion(thetaUnion(col("sa"), col("sb")), col("sc"))).as("est_any"),
        thetaEstimate(thetaIntersect(col("sa"), col("sb"))).as("est_ab"),
        thetaEstimate(thetaANotB(thetaIntersect(col("sa"), col("sb")), col("sc"))).as("est_ab_not_c"),
        thetaEstimate(thetaIntersect(thetaUnion(col("sa"), col("sb")), col("sc"))).as("est_ab_and_c"))
      def within(est: String, ex: String, tol: Double) =
        (abs(col(est).cast("double") - col(ex).cast("double")) /
          col(ex).cast("double") <= tol)
      exact.crossJoin(approx).select(
        col("exact_q1"), col("exact_q2"), col("exact_q3"),
        col("exact_ab"), col("exact_any"), col("exact_ab_not_c"), col("exact_ab_and_c"),
        within("est_any", "exact_any", 0.05).as("union3_within_5pct"),
        within("est_ab", "exact_ab", 0.20).as("intersect_within_20pct"),
        within("est_ab_not_c", "exact_ab_not_c", 0.20).as("diff3_within_20pct"),
        within("est_ab_and_c", "exact_ab_and_c", 0.20).as("mixed3_within_20pct"))
    },
    Some("""WITH f AS (SELECT l_partkey,
            |  max(CASE WHEN l_quantity = 1 THEN 1 ELSE 0 END) AS a,
            |  max(CASE WHEN l_quantity = 2 THEN 1 ELSE 0 END) AS b,
            |  max(CASE WHEN l_quantity = 3 THEN 1 ELSE 0 END) AS c
            |  FROM lineitem GROUP BY l_partkey)
            |SELECT CAST(sum(a) AS BIGINT) AS exact_q1,
            |       CAST(sum(b) AS BIGINT) AS exact_q2,
            |       CAST(sum(c) AS BIGINT) AS exact_q3,
            |       CAST(sum(a*b) AS BIGINT) AS exact_ab,
            |       CAST(sum(greatest(a, b, c)) AS BIGINT) AS exact_any,
            |       CAST(sum(a*b*(1-c)) AS BIGINT) AS exact_ab_not_c,
            |       CAST(sum(greatest(a, b)*c) AS BIGINT) AS exact_ab_and_c,
            |       TRUE AS union3_within_5pct,
            |       TRUE AS intersect_within_20pct,
            |       TRUE AS diff3_within_20pct,
            |       TRUE AS mixed3_within_20pct
            |FROM f""".stripMargin))

  /** Raw-sketch-column rollup (Pinot DISTINCTCOUNTRAWHLL + the star-tree
    * HLL-measure pattern): store ONE serialized DataSketches HLL per
    * (day, event_type) cell — the per-segment sketch column Pinot keeps —
    * then answer coarser windows by MERGING stored sketches
    * (`hll_union_agg`) instead of re-scanning raw rows. This is the 100 TB
    * rollup workflow: the daily table is ~|days|×|types| rows of ≤4 KB
    * sketches regardless of event volume, weekly/monthly/all-time distincts
    * come from sketch unions, and the merge is associative so partial
    * aggregation applies at every level.
    *
    * Hard-oracle shape as the rest of the family: exact weekly distincts
    * (from raw rows, for the gate) + a within-5% boolean on the
    * sketch-merged estimate (lgConfigK=12 → ~1.6% rse; merge order cannot
    * change the union, so the boolean is deterministic). */
  private val sketchRollup = Q(
    "q_sketch_rollup",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "events")
      // segment-level rollup: one mergeable sketch per (day, type) cell
      val daily = e.groupBy(
          date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      // query-time merge to weekly granularity — touches only rollup rows
      val weeklyEst = daily.groupBy(
          date_trunc("week", col("day")).as("week"), col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val weeklyExact = e.groupBy(
          date_trunc("week", col("ts")).as("week"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weeklyExact.join(weeklyEst, Seq("week", "event_type"))
        .select(
          col("week"), col("event_type"), col("exact_users"),
          (abs(col("est").cast("double") - col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= 0.05).as("within_5pct"))
        .orderBy(col("week"), col("event_type"))
    },
    Some("""SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
            |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            |       TRUE AS within_5pct
            |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Stored THETA-sketch-column rollup — the q_sketch_rollup pattern
    * (one serialized sketch per (day, type) cell, coarser windows answered
    * by merging stored sketches) on theta sketches, which buys the set
    * operation HLL columns cannot answer: WEEK-OVER-WEEK INTERSECTION.
    * "Users active in both week 1 and week 2" (retention) and "active in
    * week 1 but not week 2" (churn) come from intersect/a-not-b over the
    * two stored weekly sketches — with HLL cells this needs raw-row
    * re-scans or inclusion–exclusion; mergeable theta state answers it
    * from |days|×|types| rollup rows at any event volume.
    *
    * Hard-oracle shape as the rest of the family: exact per-user flag
    * aggregation in the hashed output, sketch estimates through
    * deterministic within-bound booleans (populations < 2^lgK keep θ=1 —
    * exact mode — at the gate SFs; ThetaSketchSpec covers sampling mode). */
  private val sketchThetaRollup = Q(
    "q_sketch_theta_rollup",
    (spark, dir) => {
      import graft.expressions.ThetaSketch._
      val e = Tables.t(spark, dir, "events")
      val w1 = lit("2024-01-01 00:00:00").cast("timestamp")
      val w2 = lit("2024-01-08 00:00:00").cast("timestamp")
      val wEnd = lit("2024-01-15 00:00:00").cast("timestamp")
      // segment rollup: ONE stored mergeable sketch per (day, type) cell
      val daily = e.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(thetaSketchAgg(col("user_id")).as("sk"))
      // query-time union of STORED sketches to weekly granularity
      val weekly = daily.groupBy(date_trunc("week", col("day")).as("week"), col("event_type"))
        .agg(thetaUnionAgg(col("sk")).as("wsk"))
      val s1 = weekly.filter(col("week") === w1).select(col("event_type"), col("wsk").as("sk1"))
      val s2 = weekly.filter(col("week") === w2).select(col("event_type"), col("wsk").as("sk2"))
      val est = s1.join(s2, Seq("event_type")).select(
        col("event_type"),
        thetaEstimate(col("sk1")).as("est_w1"),
        thetaEstimate(col("sk2")).as("est_w2"),
        thetaEstimate(thetaIntersect(col("sk1"), col("sk2"))).as("est_both"),
        thetaEstimate(thetaANotB(col("sk1"), col("sk2"))).as("est_churned"))
      // exact side for the gate: per-user week flags over the same window
      val exact = e.filter(col("ts") >= w1 && col("ts") < wEnd)
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          max(when(date_trunc("week", col("ts")) === w1, 1).otherwise(0)).as("a"),
          max(when(date_trunc("week", col("ts")) === w2, 1).otherwise(0)).as("b"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("a")).cast("long").as("exact_w1"),
          sum(col("b")).cast("long").as("exact_w2"),
          sum(col("a") * col("b")).cast("long").as("exact_both"),
          sum(col("a") * (lit(1) - col("b"))).cast("long").as("exact_churned"))
      def within(est: String, ex: String, tol: Double) =
        col(ex) === 0 || (abs(col(est).cast("double") - col(ex).cast("double")) /
          col(ex).cast("double") <= tol)
      exact.join(est, Seq("event_type"))
        .select(
          col("event_type"),
          col("exact_w1"), col("exact_w2"), col("exact_both"), col("exact_churned"),
          within("est_w1", "exact_w1", 0.05).as("w1_within_5pct"),
          within("est_w2", "exact_w2", 0.05).as("w2_within_5pct"),
          within("est_both", "exact_both", 0.20).as("both_within_20pct"),
          within("est_churned", "exact_churned", 0.20).as("churned_within_20pct"))
        .orderBy(col("event_type"))
    },
    Some("""WITH f AS (
            |  SELECT event_type, user_id,
            |    max(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS a,
            |    max(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS b
            |  FROM events
            |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
            |  GROUP BY event_type, user_id)
            |SELECT event_type,
            |       CAST(sum(a) AS BIGINT) AS exact_w1,
            |       CAST(sum(b) AS BIGINT) AS exact_w2,
            |       CAST(sum(a*b) AS BIGINT) AS exact_both,
            |       CAST(sum(a*(1-b)) AS BIGINT) AS exact_churned,
            |       TRUE AS w1_within_5pct,
            |       TRUE AS w2_within_5pct,
            |       TRUE AS both_within_20pct,
            |       TRUE AS churned_within_20pct
            |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** A5+: DISTINCT_COUNT_SMART_HLL — Pinot's adaptive distinct: serve the
    * EXACT count while a group's cardinality is below the threshold, switch
    * to the HLL sketch above it (bounded memory for heavy groups, exactness
    * for the long tail). Same hard-oracle shape as q_sketch_hll: the exact
    * count and the deterministic switch decision are hashed; the sketch
    * estimate participates only through a within-bound boolean, so a
    * drifting estimate on a sketch-served group fails the gate. */
  private val sketchSmart = Q(
    "q_sketch_smart",
    (spark, dir) => {
      val ev = Tables.t(spark, dir, "events")
      val threshold = 50L
      ev.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("ap"))
        .select(
          col("event_type"),
          col("exact_users"),
          (col("exact_users") > threshold).as("served_by_sketch"),
          (col("exact_users") <= threshold ||
            abs(col("ap").cast("double") - col("exact_users").cast("double")) /
              col("exact_users").cast("double") <= 0.05).as("within_5pct"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
            |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            |       count(DISTINCT user_id) > 50 AS served_by_sketch,
            |       TRUE AS within_5pct
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** A5+: Pinot DISTINCT_COUNT_TUPLE_SKETCH / SUM_VALUES_ / AVG_VALUE_
    * INTEGER_SUM_TUPLE_SKETCH — tuple sketches carry a per-distinct-key
    * integer SUM next to each retained key
    * ([[graft.expressions.TupleSketchAgg]], DataSketches tuple — the same
    * library Pinot 1.2 embeds), answering "distinct users / total
    * engagement / engagement per distinct user" from ONE mergeable sketch.
    *
    * Exercises the full stored-column rollup path: per-(day,type) sketch
    * cells → query-time tuple_union_agg to type level (duplicate keys SUM
    * their values across cells — per-user totals stay correct). Hard-oracle
    * shape as q_sketch_hll: exact values hashed, estimates through
    * within-bound booleans (θ=1 exact mode below 2^lgK at the gate SFs;
    * TupleSketchSpec asserts sampling mode directly). */
  private val sketchTuple = Q(
    "q_sketch_tuple",
    (spark, dir) => {
      import graft.expressions.TupleSketch._
      val e = Tables.t(spark, dir, "events")
      val engaged = floor(col("value")).cast("int")
      // segment rollup: one stored tuple sketch per (day, type) cell
      val daily = e.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(tupleSketchAgg(col("user_id"), engaged).as("sk"))
      // query-time union of STORED cells to type granularity
      val est = daily.groupBy(col("event_type"))
        .agg(tupleUnionAgg(col("sk")).as("tsk"))
        .select(
          col("event_type"),
          tupleEstimate(col("tsk")).as("est_users"),
          tupleSumValues(col("tsk")).as("est_sum"),
          tupleAvgValue(col("tsk")).as("est_avg"))
      val exact = e.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          sum(engaged).cast("long").as("exact_sum"))
      def within(estC: String, exC: String, tol: Double) =
        abs(col(estC).cast("double") - col(exC).cast("double")) /
          col(exC).cast("double") <= tol
      exact.join(est, Seq("event_type"))
        .select(
          col("event_type"), col("exact_users"), col("exact_sum"),
          within("est_users", "exact_users", 0.05).as("users_within_5pct"),
          within("est_sum", "exact_sum", 0.05).as("sum_within_5pct"),
          (abs(col("est_avg") - col("exact_sum").cast("double") /
            col("exact_users").cast("double")) /
            (col("exact_sum").cast("double") / col("exact_users").cast("double")) <= 0.05)
            .as("avg_within_5pct"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
            |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            |       CAST(sum(FLOOR(value)) AS BIGINT) AS exact_sum,
            |       TRUE AS users_within_5pct,
            |       TRUE AS sum_within_5pct,
            |       TRUE AS avg_within_5pct
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Tuple-sketch INTERSECTION with summaries — the metric-weighted
    * retention primitive nothing in the HLL/theta family can answer from
    * sketch state: intersect the two stored weekly sketches and the
    * surviving keys' Sum-mode summaries add the two weeks' values, so
    * "how many users were active BOTH weeks, and what was their combined
    * engagement" reads straight off the intersection — no raw-row rescan.
    * Same stored-rollup shape as q_sketch_theta_rollup (daily cells →
    * weekly union → scalar set op), same hard-oracle contract. */
  private val sketchTupleRetention = Q(
    "q_sketch_tuple_retention",
    (spark, dir) => {
      import graft.expressions.TupleSketch._
      val e = Tables.t(spark, dir, "events")
      val w1 = lit("2024-01-01 00:00:00").cast("timestamp")
      val w2 = lit("2024-01-08 00:00:00").cast("timestamp")
      val wEnd = lit("2024-01-15 00:00:00").cast("timestamp")
      val engaged = floor(col("value")).cast("int")
      val daily = e.filter(col("ts") >= w1 && col("ts") < wEnd)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(tupleSketchAgg(col("user_id"), engaged).as("sk"))
      val weekly = daily.groupBy(date_trunc("week", col("day")).as("week"), col("event_type"))
        .agg(tupleUnionAgg(col("sk")).as("wsk"))
      val s1 = weekly.filter(col("week") === w1).select(col("event_type"), col("wsk").as("sk1"))
      val s2 = weekly.filter(col("week") === w2).select(col("event_type"), col("wsk").as("sk2"))
      val est = s1.join(s2, Seq("event_type")).select(
        col("event_type"),
        tupleEstimate(tupleIntersect(col("sk1"), col("sk2"))).as("est_retained"),
        tupleSumValues(tupleIntersect(col("sk1"), col("sk2"))).as("est_engagement"))
      // exact side: per-(type,user) week flags + per-week value sums
      val exact = e.filter(col("ts") >= w1 && col("ts") < wEnd)
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          max(when(date_trunc("week", col("ts")) === w1, 1).otherwise(0)).as("a"),
          max(when(date_trunc("week", col("ts")) === w2, 1).otherwise(0)).as("b"),
          sum(when(date_trunc("week", col("ts")) === w1, engaged).otherwise(0))
            .cast("long").as("va"),
          sum(when(date_trunc("week", col("ts")) === w2, engaged).otherwise(0))
            .cast("long").as("vb"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("a") * col("b")).cast("long").as("exact_retained"),
          sum(col("a") * col("b") * (col("va") + col("vb"))).cast("long")
            .as("exact_engagement"))
      def within(estC: String, exC: String, tol: Double) =
        col(exC) === 0 || (abs(col(estC).cast("double") - col(exC).cast("double")) /
          col(exC).cast("double") <= tol)
      exact.join(est, Seq("event_type"))
        .select(
          col("event_type"), col("exact_retained"), col("exact_engagement"),
          within("est_retained", "exact_retained", 0.20).as("retained_within_20pct"),
          within("est_engagement", "exact_engagement", 0.20).as("engagement_within_20pct"))
        .orderBy(col("event_type"))
    },
    Some("""WITH f AS (
            |  SELECT event_type, user_id,
            |    max(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS a,
            |    max(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS b,
            |    CAST(sum(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-01' THEN FLOOR(value) ELSE 0 END) AS BIGINT) AS va,
            |    CAST(sum(CASE WHEN date_trunc('week', ts) = TIMESTAMP '2024-01-08' THEN FLOOR(value) ELSE 0 END) AS BIGINT) AS vb
            |  FROM events
            |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
            |  GROUP BY event_type, user_id)
            |SELECT event_type,
            |       CAST(sum(a*b) AS BIGINT) AS exact_retained,
            |       CAST(sum(a*b*(va+vb)) AS BIGINT) AS exact_engagement,
            |       TRUE AS retained_within_20pct,
            |       TRUE AS engagement_within_20pct
            |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Pinot FREQUENT_STRINGS_SKETCH — real DataSketches frequent-items with
    * SERIALIZED, mergeable state (q_sketch_topk covers the approx_top_k
    * one-shot form; this is the stored-column rollup form): per-day sketch
    * cells merge to weekly via freq_union_agg, the canonical top-3 string
    * reads off the merged sketch, and the Misra–Gries bound is surfaced —
    * is_exact asserts maxError = 0, so every emitted count is the true
    * count (holds while distinct items < ~0.75·maxMapSize per cell). */
  private val sketchFreq = Q(
    "q_sketch_freq",
    (spark, dir) => {
      import graft.expressions.FreqSketch._
      val e = Tables.t(spark, dir, "events")
      val daily = e.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(freqSketchAgg(col("event_type"), 64).as("sk"))
      daily.groupBy(date_trunc("week", col("day")).as("week"))
        .agg(freqUnionAgg(col("sk"), 64).as("wsk"))
        .select(
          col("week"),
          freqTopK(col("wsk"), 3).as("top3"),
          (freqMaxError(col("wsk")) === 0).as("is_exact"))
        .orderBy(col("week"))
    },
    Some("""WITH c AS (
            |  SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
            |         CAST(count(*) AS BIGINT) AS cnt
            |  FROM events GROUP BY 1, 2),
            |r AS (
            |  SELECT week, event_type, cnt,
            |         row_number() OVER (PARTITION BY week ORDER BY cnt DESC, event_type ASC) AS rk
            |  FROM c)
            |SELECT week,
            |       string_agg(event_type || ':' || cnt, '|' ORDER BY rk) AS top3,
            |       TRUE AS is_exact
            |FROM r WHERE rk <= 3 GROUP BY week ORDER BY week""".stripMargin))

  /** Pinot DISTINCT_COUNT_CPC_SKETCH — DataSketches CPC, the most
    * bytes-per-accuracy-efficient distinct sketch (~40% smaller than HLL at
    * equal error): the right stored-sketch-column format when disk/shuffle
    * bytes dominate. Same hard-oracle shape as q_sketch_hll (exact counts
    * hashed via separate two-level distinct passes, estimates through
    * within-5% booleans; CPC rse at lgK=12 ≈ 1.2%). */
  private val sketchCpc = Q(
    "q_sketch_cpc",
    (spark, dir) => {
      import graft.expressions.CpcSketchApi._
      val li = Tables.t(spark, dir, "lineitem")
      val relErr = (approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =>
        abs(approx.cast("double") - exact.cast("double")) / exact.cast("double")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(
          cpcEstimate(cpcSketchAgg(col("l_partkey"))).as("ap"),
          cpcEstimate(cpcSketchAgg(col("l_orderkey"))).as("ao"))
      exactFlagDistincts(spark, dir).join(sk, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          col("exact_orders"),
          (relErr(col("ap"), col("exact_parts")) <= 0.05).as("parts_within_5pct"),
          (relErr(col("ao"), col("exact_orders")) <= 0.05).as("orders_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
            |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
            |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
            |       TRUE AS parts_within_5pct,
            |       TRUE AS orders_within_5pct
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Pinot PERCENTILE_KLL — DataSketches KLL quantiles with a PROVEN
    * worst-case rank-error bound (~0.8% at k=400), a guarantee
    * percentile_approx's Greenwald–Khanna does not make, plus mergeable
    * serialized state (PERCENTILE_RAW_KLL stored-column form; KllSketchSpec
    * covers the merge path). Same hard-oracle shape as q_sketch_percentile:
    * exact interpolated percentiles hashed, KLL estimates through
    * within-5% booleans. */
  private val sketchKll = Q(
    "q_sketch_kll",
    (spark, dir) => {
      import graft.expressions.KllSketch._
      val li = Tables.t(spark, dir, "lineitem")
      val relErr = (approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =>
        abs(approx - exact.cast("double")) / exact.cast("double")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kllSketchAgg(col("l_extendedprice"), k = 400).as("sk"))
      exactPricePercentiles(spark, dir).join(sk, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          round(col("ex").getItem(0), 2).as("p50_exact"),
          round(col("ex").getItem(1), 2).as("p99_exact"),
          (relErr(kllQuantile(col("sk"), 0.5), col("ex").getItem(0)) <= 0.05)
            .as("p50_within_5pct"),
          (relErr(kllQuantile(col("sk"), 0.99), col("ex").getItem(1)) <= 0.05)
            .as("p99_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    // Spark-exact percentile + rounding replicas (DuckDbSql): quantile_cont
    // association and DuckDB round() both diverge from Spark at ulp/.xx5
    // boundaries (seen at sf0.001)
    Some(s"""SELECT l_returnflag,
            |       ${graft.tools.DuckDbSql.sparkRound(graft.tools.DuckDbSql.sparkPercentile("l_extendedprice", "0.5"), 2)} AS p50_exact,
            |       ${graft.tools.DuckDbSql.sparkRound(graft.tools.DuckDbSql.sparkPercentile("l_extendedprice", "0.99"), 2)} AS p99_exact,
            |       TRUE AS p50_within_5pct,
            |       TRUE AS p99_within_5pct
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Pinot's FULL distinctCountThetaSketch broker argument form (round 9) —
    * the literal upstream docs shape: per-predicate FILTERed theta
    * aggregates combined by a SET_OP postfix over $i references
    * (expressions/ThetaSketchSql). nominalEntries=65536 keeps every
    * per-predicate sketch below saturation at all test SFs AND the 10×
    * heavy-tail sweep (≤15k distinct users < 65536 retained), so the
    * estimates are EXACT and the oracle hashes plain distinct counts. */
  private val sketchThetaSql = Q(
    "q_sketch_theta_sql",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      s.sql(
        """SELECT DISTINCT_COUNT_THETA_SKETCH(user_id, 'nominalEntries=65536',
          |         'event_type = ''view''', 'event_type = ''click''',
          |         'SET_INTERSECT($1, $2)') AS viewers_who_clicked,
          |       DISTINCT_COUNT_THETA_SKETCH(user_id, 'nominalEntries=65536',
          |         'event_type = ''view''', 'event_type = ''purchase''',
          |         'SET_DIFF($1, $2)') AS viewers_no_purchase,
          |       DISTINCT_COUNT_THETA_SKETCH(user_id, 'nominalEntries=65536',
          |         'event_type = ''view''', 'event_type = ''click''',
          |         'event_type = ''purchase''',
          |         'SET_UNION(SET_INTERSECT($1, $2), $3)') AS engaged_or_buyers
          |FROM events""".stripMargin)
    },
    Some("""WITH per_user AS (
           |  SELECT user_id,
           |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
           |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
           |  FROM events GROUP BY 1
           |)
           |SELECT CAST(sum(v * c) AS BIGINT) AS viewers_who_clicked,
           |       CAST(sum(v * (1 - p)) AS BIGINT) AS viewers_no_purchase,
           |       CAST(sum(CASE WHEN v * c = 1 OR p = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS engaged_or_buyers
           |FROM per_user""".stripMargin))

  val all: Seq[Q] = Seq(sketchHll, sketchPercentile, sketchTopK, sketchTheta, sketchThetaSql, sketchRollup,
    sketchThetaRollup, sketchSmart, sketchTuple, sketchTupleRetention, sketchFreq,
    sketchCpc, sketchKll)
}
