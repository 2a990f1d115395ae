package graft.plans

import scala.reflect.ClassTag

import graft.sources.{BloomLayout, Fingerprint, PartitionedLayout, SortedLayout}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One registered index route: an index that may serve reads of `path`
  * (the source's [[Fingerprint.canon]] spelling) while the source's data
  * version ([[Fingerprint.of]]) is still `version`. The family mirrors the
  * reference table config's index keys (`kinesisTableConfigFile.json:12-27`):
  * `sortedColumn` (Footer), `bloomFilterColumns` (Bloom),
  * `segmentPartitionConfig` (Partitions), `starTreeIndexConfigs` (Rollup),
  * plus the vector index (Ann) and bucketed fact copies (Bucketed). */
sealed trait Route {
  def path: String
  def version: String
  /** A registration replaces the session's route in the same slot. */
  private[plans] def slot: Any
}

object Route {

  /** A per-file segment manifest: the three broker-pruning families. */
  sealed trait Manifest extends Route {
    def files: Int
  }

  /** Footer (min,max) of `col` per file of a SortedLayout-written dir. */
  final case class Footer(path: String, version: String, col: String,
      ranges: Seq[SortedLayout.FileRange]) extends Manifest {
    def files: Int = ranges.size
    private[plans] def slot: Any = ("footer", path, col)
  }

  /** Bloom bitset of `col` per file of a BloomLayout-written dir. */
  final case class Bloom(path: String, version: String, col: String,
      blooms: Seq[BloomLayout.FileBloom]) extends Manifest {
    def files: Int = blooms.size
    private[plans] def slot: Any = ("bloom", path, col)
  }

  /** Exact partition ids of `col` (mod `nParts`) per file of a
    * PartitionedLayout-written dir. */
  final case class Partitions(path: String, version: String, col: String, nParts: Int,
      parts: Seq[PartitionedLayout.FileParts]) extends Manifest {
    def files: Int = parts.size
    private[plans] def slot: Any = ("partitions", path, col)
  }

  /** A star-tree rollup of the fact at `path`: the rollup scan at
    * `rollupPath` (a [[Fingerprint.buildOnce]] artifact) pre-aggregated by
    * `dims`. `sketchCols` are Pinot functionColumnPair analogs
    * (DISTINCTCOUNTHLL__col / DISTINCTCOUNTTHETASKETCH__col): one HLL and
    * one theta sketch per cell per column, at `sketchLgK`. */
  final case class Rollup(path: String, version: String, dims: Seq[String],
      metrics: Seq[String], sketchCols: Seq[String], sketchLgK: Int,
      rollupPath: String, relation: LogicalRelation) extends Route {
    private[plans] def slot: Any = ("rollup", rollupPath)
  }

  /** An ANN route: VECTOR_SIMILARITY on `vecCol` over `path` probes the
    * AnnIndex at `indexDir` (which stores ids from `idCol`). `ef > 0` probes
    * the per-cell HNSW graphs (`AnnIndex.topKHnsw`, after `buildHnsw`) with
    * that beam width; `ef = 0` scans the probed cells exhaustively. */
  final case class Ann(path: String, version: String, vecCol: String, idCol: String,
      indexDir: String, probes: Int, ef: Int) extends Route {
    private[plans] def slot: Any = ("ann", path, vecCol)
  }

  /** A bucketed managed-table copy of the fixture table at `path`. */
  final case class Bucketed(path: String, version: String, table: String) extends Route {
    private[plans] def slot: Any = ("bucketed", path)
  }
}

/** One session's index routes, held by this rule instance in that session's
  * `experimental.extraOptimizations`: they end with the session, and a
  * `newSession()` sibling or child starts with none (a `cloneSession` copy
  * shares them, as it shares the parent's rules). A lookup serves a route
  * only while its source's data version still matches, so a rewritten
  * source falls back to the plain scan. The rule routes aggregates onto
  * star-tree rollups, then prunes file scans through segment manifests;
  * [[VectorSimilarityRule]] reads ANN routes and `sources.Tables.t`
  * bucketed ones through [[Routes.of]]. The rules stay in
  * `extraOptimizations` (the post-operator-optimization batch whose
  * Project/Filter/scan shapes they match). */
final class Routes private () extends Rule[LogicalPlan] {

  @volatile private var held = Vector.empty[Route]

  /** The held routes of type `R` for the canonical `path` whose source is
    * still at their data version: one `Fingerprint.of` when any are held
    * for `path`, none otherwise. */
  private[graft] def live[R <: Route](path: String)(implicit tag: ClassTag[R]): Seq[R] = {
    val rs = held.collect { case tag(r) if r.path == path => r }
    if (rs.isEmpty) rs
    else {
      val version = Fingerprint.of(path)
      rs.filter(_.version == version)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    SegmentPruningRule(StarTreeRoutingRule(plan, this), this)
}

/** The one per-session index registry: every route is added here, and only
  * this module installs the session rule that serves them. */
object Routes {

  /** The routes `spark` registered, if any. */
  private[graft] def of(spark: SparkSession): Option[Routes] =
    spark.experimental.extraOptimizations.collectFirst { case r: Routes => r }

  /** Add `route` to `spark`'s routes, replacing the one in its slot and any
    * of an older data version of its source; the first route installs the
    * session's rule. */
  private[graft] def add[R <: Route](spark: SparkSession, route: R): R = synchronized {
    val routes = of(spark).getOrElse {
      val r = new Routes
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ r
      r
    }
    routes.held = route +: routes.held.filterNot(r =>
      r.slot == route.slot || (r.path == route.path && r.version != route.version))
    route
  }

  /** `spark`'s route of type `R` for the canonical `path` for which `same`
    * holds, if its source is still at its data version; else
    * `build(version)`, added. One `Fingerprint.of` either way, so a
    * repeated registration of an unchanged source rebuilds nothing. */
  private[plans] def reuseOrAdd[R <: Route](spark: SparkSession, path: String)(same: R => Boolean)(
      build: String => R)(implicit tag: ClassTag[R]): R = {
    val version = Fingerprint.of(path)
    of(spark).flatMap(_.held.collectFirst {
      case tag(r) if r.path == path && r.version == version && same(r) => r
    }).getOrElse(add(spark, build(version)))
  }

  /** The file relation and canonical path of a single-root file scan. */
  private[plans] def scanPath(l: LogicalRelation): Option[(HadoopFsRelation, String)] = l.relation match {
    case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
      Some((fs, Fingerprint.canon(fs.location.rootPaths.head.toString)))
    case _ => None
  }
}
