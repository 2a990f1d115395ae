package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pinot inverted-index + range-index analog (tableIndexConfig
  * `invertedIndexColumns` / `rangeIndexColumns`): Pinot keeps value→docId
  * postings (inverted) and value-range buckets (range index) per segment so
  * equality and range predicates resolve to id lists without scanning the
  * column.
  *
  * Spark-native form: ONE structure answers both — a postings table
  * `(v, id)` laid out value-sorted via [[SortedLayout]]. An equality probe
  * footer-prunes to the file owning that value; a range probe opens only
  * the files overlapping `[lo, hi]` (contiguous in the sorted layout).
  * Candidate ids then LEFT SEMI join the base table with the exact
  * predicate re-applied — identical contract to [[TextIndex]] /
  * [[JsonIndex]] / [[BloomLayout]]: the index accelerates, the predicate
  * decides.
  *
  * With this, every Pinot tableIndexConfig index family has a Spark-native
  * analog: sortedColumn ([[SortedLayout]]), invertedIndexColumns /
  * rangeIndexColumns (here), bloomFilterColumns ([[BloomLayout]]),
  * textIndexColumns ([[TextIndex]]), jsonIndexColumns ([[JsonIndex]]),
  * starTreeIndexConfigs (`plans/StarTree`).
  *
  * Scale posture: postings are two narrow columns written once (the
  * inverted index IS a sorted projection); lookups read footer metadata +
  * the overlapping files only, and ship 8 B ids to the semi-join — the
  * base table's other columns are never touched for filtering. When the
  * probed range covers most files the optimizer-of-last-resort is the
  * ordinary scan path, which [[apply]]'s fallback keeps one branch away.
  */
object ValueIndex {

  /** Write the postings: (v, id) value-sorted into nFiles disjoint ranges. */
  def build(df: DataFrame, dir: String, idCol: String, valueCol: String, nFiles: Int = 8): Unit =
    SortedLayout.write(
      df.select(col(valueCol).as("v"), col(idCol).as("id")), dir, "v", nFiles)

  /** Candidate ids for `valueCol ∈ [lo, hi]` — footer-pruned postings scan
    * (the postings are registered for segment pruning in this session). */
  def lookupRange(spark: SparkSession, dir: String,
      lo: Comparable[Any], hi: Comparable[Any]): DataFrame = {
    graft.plans.SegmentPruning.register(spark, dir, "v")
    Tables.read(spark, dir).filter(col("v") >= lo.asInstanceOf[Any] && col("v") <= hi.asInstanceOf[Any])
      .select("id").distinct()
  }

  /** Candidate ids for `valueCol = value`. */
  def lookupEq(spark: SparkSession, dir: String, value: Comparable[Any]): DataFrame =
    lookupRange(spark, dir, value, value)

  /** Index-accelerated range filter: semi-join candidates, re-apply the
    * exact predicate (pushed to parquet on the survivors too). */
  def rangeFilter(df: DataFrame, idCol: String, valueCol: String, indexDir: String,
      lo: Comparable[Any], hi: Comparable[Any]): DataFrame =
    df.join(
        lookupRange(df.sparkSession, indexDir, lo, hi).withColumnRenamed("id", "__vi_id"),
        col(idCol) === col("__vi_id"), "left_semi")
      .filter(col(valueCol) >= lo.asInstanceOf[Any] && col(valueCol) <= hi.asInstanceOf[Any])

  /** Index-accelerated equality filter. */
  def eqFilter(df: DataFrame, idCol: String, valueCol: String, indexDir: String,
      value: Comparable[Any]): DataFrame =
    rangeFilter(df, idCol, valueCol, indexDir, value, value)
}
