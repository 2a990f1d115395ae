package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pinot bloom-filter index analog (tableIndexConfig `bloomFilterColumns`):
  * Pinot keeps a bloom filter per segment per indexed column so the broker /
  * server can skip whole segments for equality predicates on values the
  * segment provably does not contain — without touching segment data.
  *
  * The Spark-native form: lay the table out hash-partitioned on the indexed
  * column (each value lands in exactly one file — Pinot's
  * `segmentPartitionConfig` pairing that makes blooms effective), then build
  * a per-file bloom bitset over the column in ONE column-pruned scan.
  * [[pruneFiles]] tests the k bit positions of the probe value against each
  * file's bitset (pure driver-side metadata, no I/O);
  * `plans.SegmentPruning.registerBloom` makes a session's scans of the dir
  * read only the surviving files, with the exact predicate still applied
  * (bloom false positives are filtered, never returned).
  *
  * Hashing runs through Spark's own `hash(col, seed)` (Murmur3) on BOTH the
  * manifest build and the probe side — probe positions are computed by a
  * 1-row local Spark job, so driver and executor can never disagree on hash
  * semantics.
  *
  * Scale posture: the manifest is `numBits/8` bytes per file (8 KiB at the
  * default 2^16 bits) — a 100 TB table at 512 MB/file is ~200k files ≈
  * 1.6 GB of bloom metadata, which production parks beside the data exactly
  * like Pinot's per-segment bloom index files (built once at layout time,
  * not per query). The per-file `collect_set` during the build is bounded by
  * `min(k·ndv_file, numBits)` — never by row count.
  */
object BloomLayout {

  /** One file's bloom bitset for the indexed column. */
  final case class FileBloom(path: String, bits: Array[Long], rows: Long) {
    def mightContain(positions: Seq[Int]): Boolean =
      positions.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0L)
  }

  val DefaultNumBits: Int = 1 << 16 // 8 KiB per file
  val DefaultK: Int = 5

  /** Write `df` hash-partitioned on `c` into `nFiles` files, so each value
    * of `c` lives in exactly one file. */
  def write(df: DataFrame, dir: String, c: String, nFiles: Int): Unit =
    df.repartition(nFiles, col(c)).write.mode("overwrite").parquet(dir)

  /** The k Murmur3 bit positions of `value` — computed BY Spark so they are
    * bit-identical to the manifest build's executor-side hashing. `castTo`
    * aligns the probe with the indexed column's type: Murmur3 hashes an Int
    * 42 and a Long 42 differently, so an unaligned probe would silently
    * reject every file (a false NEGATIVE — the one bloom error class that
    * loses rows). The segment-pruning rule always passes the column's own
    * type. */
  def hashPositions(spark: SparkSession, value: Any, numBits: Int = DefaultNumBits,
      k: Int = DefaultK,
      castTo: Option[org.apache.spark.sql.types.DataType] = None): Seq[Int] = {
    val probe = castTo.map(lit(value).cast(_)).getOrElse(lit(value))
    val row = spark.range(1)
      .select((0 until k).map(i => pmod(hash(probe, lit(i)), lit(numBits)).as(s"p$i")): _*)
      .head()
    (0 until k).map(row.getInt)
  }

  /** Build the per-file bloom manifest in one column-pruned scan. */
  def buildManifest(spark: SparkSession, dir: String, c: String,
      numBits: Int = DefaultNumBits, k: Int = DefaultK): Seq[FileBloom] = {
    val posCols = (0 until k).map(i => pmod(hash(col(c), lit(i)), lit(numBits)))
    val perFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"), array(posCols: _*).as("ps"))
      .select(col("f"), explode(col("ps")).as("p"))
      .groupBy(col("f"))
      .agg(collect_set(col("p")).as("ps"), (count(lit(1)) / k).cast("long").as("rows"))
      .collect()
    perFile.map { r =>
      val bits = new Array[Long](numBits >> 6)
      r.getSeq[Int](1).foreach(p => bits(p >> 6) |= 1L << (p & 63))
      FileBloom(r.getString(0), bits, r.getLong(2))
    }.sortBy(_.path).toSeq
  }

  /** Files whose bloom admits `positions` — the segment-skipping decision,
    * made entirely from driver-side metadata. */
  def pruneFiles(manifest: Seq[FileBloom], positions: Seq[Int]): Seq[FileBloom] =
    manifest.filter(_.mightContain(positions))
}
