package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** Exact triangle counting over an undirected edge list — the graph-shape
  * statistic curation pipelines compute over co-occurrence / link graphs
  * (clustering coefficient inputs, link-farm detection: spam hosts form
  * near-cliques, organic link neighborhoods don't).
  *
  * Algorithm: the degree-ordered node-iterator (Schank–Wagner / the standard
  * MapReduce formulation). Each undirected edge is oriented from its
  * lower-(degree, id) endpoint to its higher one; wedges are generated ONLY
  * at each triangle's minimum-rank vertex and closed by a join back to the
  * oriented edge set. This is the 100 TB-relevant choice: wedge count drops
  * from Σ deg(v)² (quadratic in hub degree — a single 10M-degree hub
  * generates 10¹⁴ wedges) to O(m·α) where α is the graph arboricity; no
  * vertex generates more wedges than its ORIENTED out-degree squared, and
  * orientation caps out-degree at O(√m) on any graph.
  *
  * Everything is exact integer set algebra — no floats anywhere — so a
  * DuckDB oracle reproduces the identical triangle SET with plain joins
  * (id-ordered rather than degree-ordered: the set of triangles, and hence
  * every count derived from it, is orientation-invariant).
  *
  * Shuffle shape: degree agg (16 B rows) + two edge joins per call — the
  * minimal topology. The oriented edge frame is reused by both sides of the
  * wedge self-join and the closing join, so it is persisted once.
  */
object Triangles {

  /** Canonical undirected edge set from any two id columns: self-loops
    * dropped, both orderings collapsed to (a < b), duplicates removed. */
  def canonical(edges: DataFrame): DataFrame = {
    val a = col(edges.columns(0)).cast("long")
    val b = col(edges.columns(1)).cast("long")
    edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Each triangle once as (x, y, z) with x < y < z (id order — canonical,
    * orientation-free output shape). Input: any (src, dst) edge frame. */
  def triangles(edges: DataFrame): DataFrame =
    trianglesCanonical(canonical(edges))

  /** As [[triangles]] for an input that is ALREADY the canonical undirected
    * edge set — (a < b) per row, deduplicated, self-loop-free; e.g. the
    * `src < dst` half of a symmetric distinct frame. Skips the
    * canonicalization shuffle (callers sharing one persisted symmetric
    * frame across graph operators derive this side with a map-only
    * filter). First two columns are the endpoints.
    *
    * @param degrees optional precomputed `(node, deg)` full-degree frame
    *                (deg = neighbor count in the undirected graph) — lets
    *                callers reuse a shared persisted degree aggregate
    *                instead of re-deriving it from the edge union
    * @param batches wedge-batching fan (round 10, the 1000× headroom knob):
    *                with `batches > 1` the wedge generation is split into
    *                `batches` src-hash slices executed SEQUENTIALLY (each
    *                slice eagerly checkpointed), so the in-flight wedge
    *                shuffle is bounded by one slice (~total/batches —
    *                wedges are generated only AT their triangle's min-rank
    *                vertex, so a src partition partitions the wedge set
    *                exactly; each triangle still appears once). At the
    *                measured 100× graph the single-shot wedge exchange is
    *                ~4.1B rows ≈ 53 GB lz4 — "fits, but only just"; at
    *                1000× it would not, and batching trades wall clock
    *                (batches × closing-join passes over the oriented
    *                frame, which stays persisted) for a flat peak-shuffle
    *                ceiling. Default 1 = the single-exchange plan. */
  def trianglesCanonical(edges: DataFrame,
      degrees: Option[DataFrame] = None,
      batches: Int = 1): DataFrame = {
    require(batches >= 1, s"triangles: batches >= 1, got $batches")
    val e = edges.select(col(edges.columns(0)).cast("long").as("a"),
      col(edges.columns(1)).cast("long").as("b"))
    val deg = degrees
      .map(d => d.select(col(d.columns(0)).cast("long").as("n"),
        col(d.columns(1)).cast("long").as("deg")))
      .getOrElse(
        e.select(col("a").as("n")).union(e.select(col("b").as("n")))
          .groupBy("n").agg(functions.count(lit(1)).as("deg")))
    // orient low-rank -> high-rank, rank = (deg, id); carry the dst rank so
    // the wedge self-join needs no further degree lookup
    val oriented = e
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
      .transform(Shared.persist)
    // eager materialization (round 11): the two wedge legs and the closing
    // join read this cache from CONCURRENT stages — with a lazy persist each
    // stage races to build the same partitions, duplicating the build and
    // colliding on block locks (observed as a 5.6 s wedge stage blowing up
    // to 73 s under the race); one count() builds every partition once
    oriented.count()
    // wedges at the min-rank vertex: (src; v, w) with rank(v) < rank(w);
    // closing edge in rank order is exactly (v, w)
    def closedOf(slice: DataFrame): DataFrame = {
      val w1 = slice.select(col("src"), col("dst").as("v"),
        col("ddeg").as("vdeg"))
      val w2 = slice.select(col("src"), col("dst").as("w"),
        col("ddeg").as("wdeg"))
      val wedges = w1.join(w2, Seq("src"))
        .where(struct(col("vdeg"), col("v")) < struct(col("wdeg"), col("w")))
        .select(col("src"), col("v"), col("w"))
      val closed = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      closed.select(
        least(col("src"), col("v"), col("w")).as("x"),
        greatest(least(col("src"), col("v")), least(
          greatest(col("src"), col("v")), col("w"))).as("y"),
        greatest(col("src"), col("v"), col("w")).as("z"))
    }
    if (batches == 1) closedOf(oriented)
    else {
      // xxhash64 ≠ the shuffle partitioner's hash, so slices don't align
      // with (and thus never starve) individual shuffle partitions
      (0 until batches).map { b =>
        closedOf(oriented.where(pmod(xxhash64(col("src")), lit(batches.toLong)) === b))
          .localCheckpoint(true) // eager: one slice's wedges in flight at a time
      }.reduce(_ union _)
    }
  }

  /** Per-node triangle participation: (node, tri). Nodes in no triangle are
    * absent (left-join against the node set if zeros are wanted). */
  def perNode(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(functions.count(lit(1)).as("tri"))

  /** Global triangle count. */
  def count(edges: DataFrame): Long =
    triangles(edges).count()
}
