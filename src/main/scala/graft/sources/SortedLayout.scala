package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Pinot sorted-column index analog (tableIndexConfig `sortedColumn`): Pinot
  * keeps each segment sorted on one column so lookups binary-search instead
  * of scan, and the broker prunes whole segments whose [min,max] metadata
  * excludes the predicate (`README.md:22` "optimizes segment pruning").
  *
  * The Spark-native form: write the table `repartitionByRange` +
  * `sortWithinPartitions` on the sort column, so every parquet file owns a
  * DISJOINT value range and every row group inside it is sorted. Two
  * pruning layers then answer point/range predicates:
  *
  *  - file-level: [[fileRanges]] reads ONLY parquet footers (one (min,max)
  *    pair per file — Pinot's segment metadata, ~bytes per segment at any
  *    scale) and [[pruneFiles]] keeps just the files whose range can
  *    match; `plans.SegmentPruning.register` makes a session's scans of
  *    the dir apply it;
  *  - row-group-level: parquet min/max stats inside the chosen files, free
  *    via Spark's pushed filters on the sorted data.
  *
  * At 100 TB the footer manifest is ~1 (min,max) pair per 512 MB file —
  * a few hundred KB of driver metadata for the whole table — while an
  * unsorted layout leaves every file's range ≈ the full domain and prunes
  * nothing. (Production deployments park the same manifest in a catalog —
  * Delta/Iceberg file stats; this op shows the engine-level mechanism.)
  */
object SortedLayout {

  /** One file's footer metadata for the sort column. */
  final case class FileRange(path: String, min: Comparable[Any], max: Comparable[Any], rows: Long)

  /** Write `df` sorted on `sortCol` into `nFiles` disjoint-range files. */
  def write(df: DataFrame, dir: String, sortCol: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(dir)

  /** Footer-only (min,max) per file — no data pages are read. */
  def fileRanges(spark: SparkSession, dir: String, sortCol: String): Seq[FileRange] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          val stats = blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == sortCol).map(_.getStatistics)
          }
          require(stats.nonEmpty, s"no footer stats for $sortCol in ${s.getPath}")
          // BYTE_ARRAY stats surface as parquet Binary — keep them as
          // UTF8String, NOT java.lang.String: the files were range-ordered
          // by Spark's UTF8String (UTF-8 byte) order, and String's UTF-16
          // order diverges for supplementary-plane code points (emoji sorts
          // below U+FFFF in UTF-16 but above it in UTF-8 bytes), which
          // would prune the file that actually holds a probe term
          def unwrap(v: Any): Comparable[Any] = (v match {
            case b: org.apache.parquet.io.api.Binary => UTF8String.fromBytes(b.getBytes)
            case o => o
          }).asInstanceOf[Comparable[Any]]
          val mins = stats.map(s => unwrap(s.genericGetMin))
          val maxs = stats.map(s => unwrap(s.genericGetMax))
          FileRange(
            s.getPath.toString,
            mins.reduce((a, b) => if (a.compareTo(b) <= 0) a else b),
            maxs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b),
            blocks.map(_.getRowCount).sum)
        } finally reader.close()
      }
      .toSeq
  }

  /** Files whose [min,max] may hold a value in [lo, hi] (None = unbounded)
    * — the broker-side segment-pruning decision, made entirely from footer
    * metadata. Each bound is first aligned with the stats' type (parquet
    * footers surface int32 as Integer, int64 as Long, strings as
    * UTF8String — see [[fileRanges]]); a bound that cannot be aligned
    * (NaN, or a type the stats do not share) is dropped, so the decision
    * keeps a superset of the matching files and never loses one. */
  def pruneFiles(ranges: Seq[FileRange], lo: Option[Any], hi: Option[Any]): Seq[FileRange] =
    ranges.headOption.fold(ranges) { first =>
      val l = lo.flatMap(align(_, first.min))
      val h = hi.flatMap(align(_, first.min))
      ranges.filter(r => l.forall(r.max.compareTo(_) >= 0) && h.forall(r.min.compareTo(_) <= 0))
    }

  private def align(v: Any, sample: Any): Option[Comparable[Any]] = {
    val out: Any = (v, sample) match {
      // NaN vetoes pruning: parquet footers exclude NaN from min/max while
      // Spark's EqualTo treats NaN = NaN as true, so no footer compare can
      // prove a file NaN-free
      case (x: java.lang.Number, _) if x.doubleValue().isNaN => null
      case (x: java.lang.Number, _: java.lang.Long) => x.longValue()
      case (x: java.lang.Number, _: java.lang.Integer) => x.intValue()
      case (x: java.lang.Number, _: java.lang.Double) => x.doubleValue()
      // string stats live in the UTF8String (UTF-8 byte order) domain —
      // the order Spark range-partitioned the files by
      case (x: UTF8String, _: UTF8String) => x
      case (x: String, _: UTF8String) => UTF8String.fromString(x)
      case _ => null
    }
    Option(out).map(_.asInstanceOf[Comparable[Any]])
  }
}
