package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Pinot segment-partitioning analog (`tableIndexConfig.segmentPartitionConfig`,
  * the Murmur/Modulo `columnPartitionMap` the reference's broker uses to route
  * equality queries to the subset of segments that can hold the value —
  * SURVEY.md §4; Pinot docs call this "partition-based segment pruning").
  *
  * The Spark-native form: `write` lays the table out with
  * `repartition(n, col)` — Spark's HashPartitioning IS the Murmur partition
  * function here, so every value of the column lives in exactly one output
  * file. [[buildManifest]] records the observed partition-id set per file in
  * ONE column-pruned scan (a few ints per file — smaller than a bloom bitset
  * and EXACT: no false positives, unlike the bloom analog). A probe value's
  * partition id is computed BY Spark ([[pidsOf]], cast to the column's own
  * type) so build and probe hashing can never disagree.
  *
  * Equality probes prune to the one owning file; IN-lists prune to the union
  * of owning files. Range predicates cannot use a hash partitioning and keep
  * the full scan (that is SortedLayout's job).
  *
  * Scale posture: the manifest is O(|files|) driver-resident int-sets —
  * ~200k entries at 100 TB / 512 MB files — and the pruning decision is a
  * set-membership test per file, no I/O. This is the layout Pinot pairs with
  * partitioned-replica-group routing; `sources/Tables.registerBucketed` is
  * the join-side face of the same idea, this is the point-lookup face.
  */
object PartitionedLayout {

  /** One file's observed partition ids (usually a singleton). */
  final case class FileParts(path: String, pids: Set[Int], rows: Long) {
    def mayContain(probe: Set[Int]): Boolean = probe.exists(pids)
  }

  /** The partition-id expression: Spark Murmur3 `hash(col) mod n` — the same
    * function HashPartitioning applies, evaluated engine-side everywhere. */
  def pidExpr(c: Column, nPartitions: Int): Column = pmod(hash(c), lit(nPartitions))

  /** Write `df` hash-partitioned on `c` into `nPartitions` files; each value
    * of `c` lands in exactly one file (Pinot's partitioned segment build). */
  def write(df: DataFrame, dir: String, c: String, nPartitions: Int): Unit =
    df.repartition(nPartitions, col(c)).write.mode("overwrite").parquet(dir)

  /** Observed pid-set per file, from one column-pruned scan. */
  def buildManifest(spark: SparkSession, dir: String, c: String,
      nPartitions: Int): Seq[FileParts] =
    spark.read.parquet(dir)
      .select(input_file_name().as("f"), pidExpr(col(c), nPartitions).as("pid"))
      .groupBy(col("f"))
      .agg(collect_set(col("pid")).as("pids"), count(lit(1)).as("rows"))
      .collect()
      .map(r => FileParts(r.getString(0), r.getSeq[Int](1).toSet, r.getLong(2)))
      .sortBy(_.path)
      .toSeq

  /** Partition ids of the probe values, hashed BY Spark in one 1-row job.
    * `castTo` aligns each probe with the indexed column's type (Murmur3
    * hashes Int 42 and Long 42 differently — an unaligned probe would
    * silently miss the owning file). */
  def pidsOf(spark: SparkSession, values: Seq[Any], nPartitions: Int,
      castTo: Option[DataType] = None): Set[Int] = {
    require(values.nonEmpty, "no probe values")
    val cols = values.zipWithIndex.map { case (v, i) =>
      val probe = castTo.map(lit(v).cast(_)).getOrElse(lit(v))
      pidExpr(probe, nPartitions).as(s"p$i")
    }
    val row = spark.range(1).select(cols: _*).head()
    values.indices.map(row.getInt).toSet
  }

  /** Files that can hold any of `probePids` — exact, no false positives. */
  def pruneFiles(manifest: Seq[FileParts], probePids: Set[Int]): Seq[FileParts] =
    manifest.filter(_.mayContain(probePids))
}
