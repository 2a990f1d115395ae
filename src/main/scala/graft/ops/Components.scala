package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS into dedup CLUSTERS (keep one survivor per component), which is how
  * a training-data pipeline actually applies MinHash/SimHash output at scale.
  *
  * Algorithm: iterative min-label propagation (the DataFrame form of
  * HashToMin): every node starts labeled with itself; each round pushes
  * labels across edges and keeps the per-node minimum; fixpoint when no
  * label changes. Converges in O(diameter) rounds — near-dup clusters are
  * dense (small diameter), so a handful of rounds in practice; each round is
  * one join + one aggregation, fully distributed. The driver-side loop only
  * orchestrates plans (one `count` per round for the convergence check) —
  * no data ever collects.
  */
object Components {

  /** Symmetrized edge rows at or above which the loop-invariant edge frame
    * is re-laid hash-partitioned and sorted by src (see connectedComponents). */
  private val PartitionEdgesMinRows = 1000000L

  /** @param edges two-column DataFrame (id_a, id_b) of undirected edges
    * @return (node, cluster) where cluster = min node id reachable
    *
    * Each round takes the min over (a) the node's own label, (b) neighbor
    * labels pushed across edges, and (c) the label's label — pointer
    * jumping, which halves chain depth per round, so convergence is
    * O(log diameter) instead of O(diameter) (a 400-doc drift chain converges
    * in ~9 rounds, not ~400). Convergence check: labels only ever decrease,
    * so the label SUM is strictly monotone — one cheap aggregate per round,
    * no join against the previous state. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // eager localCheckpoint (not bare persist): iterative self-joins grow
    // the logical plan exponentially if lineage chains round-over-round, and
    // Catalyst re-analysis comes to dominate; checkpointing truncates the
    // plan to the materialized blocks each round.
    // Symmetrize with ONE explode projection over the upstream pair
    // pipeline: the previous two-branch union needed the pipeline
    // checkpointed first (two materializations: edges, then sym) — explode
    // evaluates it once and sym is the only checkpoint (measured round-4
    // shave, ~0.7 s at sf0.1).
    // Round 12 (the kcore/pagerank pattern, size-dispatched): sym is
    // loop-INVARIANT, so ABOVE the row threshold it re-lays the
    // checkpointed blocks hash-partitioned + sorted by src — the round-0
    // seed aggregate and every round's src-side join then read the cache
    // with no exchange and no sort (a checkpoint's LogicalRDD reports
    // UnknownPartitioning, so the old shape re-exchanged |E| every round
    // in the sort-merge regime; measured 324 → 237 s on the 100× ngram
    // graph). BELOW the threshold the label/delta side broadcasts anyway
    // and the extra exchange+persist is pure cost (measured 1.5× on the
    // small q_dedup_semantic graph) — small graphs keep the plain
    // checkpoint. The dispatch reads an EXACT count of the materialized
    // blocks (free — the frame was checkpointed anyway). Loop STATE
    // (labels) stays eagerly checkpointed — the lineage cut lives there.
    val nPart = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val symChk = edges.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    val bigGraph = symChk.count() >= PartitionEdgesMinRows
    val sym =
      if (bigGraph)
        symChk.repartition(nPart, col("src"))
          .sortWithinPartitions("src")
          .persist()
      else symChk
    // fused round 0: seed each node with min(self, min neighbor) — the same
    // single shuffle a bare distinct would cost, but it propagates one step
    // for free, saving a full loop round (3 joins + checkpoint + aggregate)
    var labels = sym.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("min_dst"))
      .select(col("node"), least(col("node"), col("min_dst")).as("cluster"))
      .localCheckpoint(true)
    val idType = labels.schema("cluster").dataType
    val nullOwn = lit(null).cast(idType).as("own")
    var i = 0
    var converged = false
    // delta iteration (rounds ≥ 2): a neighbor s whose label did NOT change
    // in round k already had its label incorporated into n in round k
    // (labels only decrease, so label_k(n) ≤ label_{k-1}(s) = label_k(s) —
    // s can push nothing new in round k+1). So later rounds join sym and
    // the parent pointers against the CHANGED set only; the final
    // fixpoint-confirming round degenerates to |Δ|≈0-sized joins instead
    // of a full 3-join pass (measured: the old loop paid a full pure-
    // confirmation round every call). Round 1 runs full (Δ₀ = every node).
    var delta: DataFrame = null // null ⇒ full round
    try {
    while (!converged && i < maxIter) {
      val viaEdges =
        if (delta == null)
          sym.join(labels.select("node", "cluster"), sym("src") === col("node"))
            .select(col("dst").as("node"), col("cluster"), nullOwn)
        else
          sym.join(delta.select(col("node").as("d_node"), col("cluster").as("d_cluster")),
              sym("src") === col("d_node"))
            .select(col("dst").as("node"), col("d_cluster").as("cluster"), nullOwn)
      val viaParent =
        if (delta == null)
          labels.select(col("node").as("l_node"), col("cluster").as("l_cluster"))
            .join(labels.select(col("node").as("p_node"), col("cluster").as("p_cluster")),
              col("l_cluster") === col("p_node"))
            .select(col("l_node").as("node"), col("p_cluster").as("cluster"), nullOwn)
        else {
          // a node's parent contribution moves only if its own pointer moved
          // (node ∈ Δ) or its parent's label moved (label(node) ∈ Δ)
          val repointed = delta.select(col("node").as("l_node"), col("cluster").as("l_cluster"))
            .join(labels.select(col("node").as("p_node"), col("cluster").as("p_cluster")),
              col("l_cluster") === col("p_node"))
            .select(col("l_node").as("node"), col("p_cluster").as("cluster"), nullOwn)
          val parentMoved = labels.select(col("node").as("l_node"), col("cluster").as("l_cluster"))
            .join(delta.select(col("node").as("d_node"), col("cluster").as("d_cluster")),
              col("l_cluster") === col("d_node"))
            .select(col("l_node").as("node"), col("d_cluster").as("cluster"), nullOwn)
          repointed.union(parentMoved)
        }
      // the self branch carries the node's CURRENT label through the
      // aggregate as `own` (each node appears exactly once in labels, so
      // min(own) ignoring the other branches' nulls recovers it); labels
      // only ever decrease, so cluster != own ⇔ the round changed the node
      val self = labels.select(col("node"), col("cluster"), col("cluster").as("own"))
      // eager localCheckpoint each round — measured FASTER than lazy
      // persist() at local[32] (raw block reuse beats InMemoryRelation's
      // columnar encode/decode on these small iterative frames), and it
      // keeps lineage truncated so unpersisting the previous round can
      // never trigger recompute chains
      val next = self.union(viaEdges).union(viaParent)
        .groupBy("node").agg(min("cluster").as("cluster"), min("own").as("own"))
        .localCheckpoint(true)
      // delta stays a LAZY filter over the checkpointed `next`: it is read
      // three times (isEmpty + two next-round joins) but each read is a
      // cheap narrow scan of checkpoint blocks — a separate eager
      // checkpoint of it measured as one extra job per round for nothing
      val nextDelta = next.filter(col("cluster") =!= col("own"))
        .select("node", "cluster")
      converged = nextDelta.isEmpty
      labels.unpersist()
      labels = next
      delta = nextDelta
      i += 1
    }
    } finally if (bigGraph) sym.unpersist()
    labels.select("node", "cluster")
  }
}
