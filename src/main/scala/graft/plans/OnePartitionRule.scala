package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a shuffle whose input already runs in
  * one partition is planned as `CoalesceExec(1)`.
  *
  * Most fixture tables are one parquet file, so their scan is one partition.
  * `EnsureRequirements` still plans `Exchange hashpartitioning(…, n)` for an
  * aggregate or join over it, and AQE then reads each exchange back coalesced
  * into one partition: a shuffle-map job, a re-optimization and a stage
  * boundary that move nothing anywhere. `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every distribution but a broadcast one,
  * so the consumer runs in the same stage. An `ENSURE_REQUIREMENTS` shuffle
  * is replaced when
  *  - its input runs in one partition (a non-bucketed file scan with no
  *    dynamic-pruning filter whose file listing packs into one file
  *    partition, under operators that keep their child's partition count)
  *    and Spark's size estimate of that input is at most [[maxBytes]], the
  *    size AQE's `CoalesceShufflePartitions` would fold into one partition
  *    anyway; or
  *  - its input already reports one partition (an exchange below was
  *    replaced; `EnsureRequirements` ran before and could not see that).
  *
  * A replacement stands only if every operator above it still has its
  * distribution requirements met (`ValidateRequirements`): the inputs of one
  * join or cogroup, and the branches of a union whose partitioning a parent
  * relies on, end up in one partition together or keep their exchanges. The
  * partition count comes from the scan's file listing, split as
  * `FilePartition` splits it. Neither the scan's `inputRDD` nor its
  * `selectedPartitions` is forced at preparation time: both set its driver
  * metrics (`numFiles`, `filesSize`), which the action resets before it runs,
  * so the executed scan would report no files. User repartitions,
  * rebalances and broadcasts are never touched. Injected in `Graft.session`
  * with `injectQueryStagePrepRule`; streaming micro-batches run without AQE,
  * so the rule never sees them.
  */
object OnePartitionRule extends Rule[SparkPlan] {

  /** The most bytes AQE's `CoalesceShufflePartitions` folds into one
    * partition: the coalesce `minPartitionSize` when `parallelismFirst` is
    * set (the default), else the advisory partition size. Below it a second
    * partition buys no parallelism, so this rule and [[SmallSortRule]] have
    * no threshold of their own. */
  def maxBytes(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** `p` with its replaceable exchanges replaced, or `p` as it was if that
    * would leave a requirement in it unmet. */
  override def apply(p: SparkPlan): SparkPlan = {
    val q = p.mapChildren(apply)
    q match {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
          (e.child.outputPartitioning.numPartitions == 1 ||
            small(e.child) && onePartition(e.child)) =>
        CoalesceExec(1, e.child)
      case _ if (q ne p) && !ValidateRequirements.validate(q) => p
      case _ => q
    }
  }

  private def small(p: SparkPlan): Boolean =
    p.logicalLink.exists(_.stats.sizeInBytes <= maxBytes(conf))

  /** `p` runs in one partition: a one-partition file scan under operators
    * that keep their child's partition count. */
  @tailrec private def onePartition(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      !s.bucketedScan && !s.partitionFilters.exists(isRuntime) && filePartitions(s) <= 1
    case u: UnaryExecNode if keepsPartitions(u) => onePartition(u.child)
    case _ => false
  }

  private def keepsPartitions(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec | _: GenerateExec |
        _: ExpandExec | _: ColumnarToRowExec | _: ObjectConsumerExec | _: ObjectProducerExec => true
    case _ => false
  }

  /** The file partitions `s` will read, split and packed as its read RDD
    * does. The files are listed from its relation, as `selectedPartitions`
    * lists them, but without forcing that: it sets the scan's driver
    * metrics, which the action then resets before it runs. */
  private def filePartitions(s: FileSourceScanExec): Int = {
    val session = s.relation.sparkSession
    val dirs = s.relation.location.listFiles(s.partitionFilters, s.dataFilters.filterNot(isRuntime))
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { f =>
        val path = f.fileStatus.getPath
        val splitable = s.relation.fileFormat.isSplitable(session, s.relation.options, path)
        PartitionedFileUtil.splitFiles(f, path, splitable, maxSplit, dir.values)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplit).size
  }

  /** A filter evaluated only at run time: dynamic partition pruning or a
    * runtime filter's subquery. */
  private def isRuntime(e: Expression): Boolean = e.exists(_.isInstanceOf[PlanExpression[_]])
}
