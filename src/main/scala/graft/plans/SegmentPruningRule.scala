package graft.plans

import graft.sources.{BloomLayout, Fingerprint, PartitionedLayout, SortedLayout}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, LogicalRelation}

/** Transparent segment pruning — the Pinot BROKER behavior for sorted
  * columns: the broker consults per-segment [min,max] metadata and routes a
  * query only to the segments whose range can match; the query itself is
  * unchanged (`/root/reference/README.md:22` "optimizes segment pruning").
  * `sources/SortedLayout` provides the layout and the footer-range decision
  * ([[SortedLayout.pruneFiles]]); this rule applies it to any query shape.
  *
  * [[SegmentPruning.register]] reads the footer manifest once (bytes per
  * file, like Pinot's segment metadata) into the session's [[Routes]]. The
  * session's rule then rewrites
  *
  *   Filter(.. sortCol ⋈ literal .., scan(path))   ⋈ ∈ {=, >, >=, <, <=}
  *
  * into the same Filter over a scan whose file index lists ONLY the files
  * whose [min,max] intersect the conjunct's bounds. The Filter stays in the
  * plan (exact predicate, pushed to parquet row groups on the survivors),
  * output attributes are reused verbatim, and any shape the rule does not
  * recognize — disjunctions at the top level, non-literal comparisons,
  * other columns — simply keeps the full scan. Pruning can only remove
  * files the footer PROVES cannot match, so the rewrite is always safe.
  *
  * [[SegmentPruning.registerBloom]] does the same for BloomLayout-written
  * hash layouts: EqualTo literals on the indexed column prune through the
  * per-file bloom bitsets (Pinot bloomFilterColumns at the broker); range
  * predicates on hash layouts cannot prune and keep the full scan. The
  * bloom probe hashes through a 1-row Spark job at planning time — the
  * same driver-side metadata cost class as the footer compare.
  *
  * Routes are per session and carry the layout's data version, so a
  * rewritten/regenerated layout stops pruning rather than serving stale
  * decisions ([[Routes]]).
  *
  * Scale posture: the decision is O(|files|) over driver-resident (min,max)
  * pairs — a few hundred KB at 100 TB — and turns point/range lookups from
  * full-table scans into constant-file scans with NO query rewrite by the
  * user, exactly what makes sorted columns Pinot's cheapest index.
  */
object SegmentPruning {

  /** Read the footer manifest for a SortedLayout-written `dir` and enable
    * transparent range+equality pruning on `sortCol` for this session. */
  def register(spark: SparkSession, dir: String, sortCol: String): Route.Footer = {
    val path = Fingerprint.canon(dir)
    Routes.reuseOrAdd[Route.Footer](spark, path)(_.col == sortCol)(version =>
      Route.Footer(path, version, sortCol, SortedLayout.fileRanges(spark, dir, sortCol)))
  }

  /** Driver-memory budget for a bloom registration. The manifest costs
    * `numBits/8` bytes per file (8 KiB at the default 2^16 bits): a 100 TB
    * table at 512 MB/file is ~200k files ≈ 1.6 GB — more than a broker
    * should pin for ONE index. The default budget (256 MB ≈ 32k files ≈
    * 16 TB of data) forces larger tables to shard registrations (one per
    * partition subdirectory — each day of a date-partitioned fact registers
    * independently and most queries touch few days), mirroring how Pinot
    * scopes bloom metadata per segment, not per table. */
  val DefaultMaxBloomManifestBytes: Long = 256L << 20

  /** Build the per-file bloom manifest for a BloomLayout-written `dir` and
    * enable transparent EQUALITY pruning on `col` for this session (hash
    * layouts have no per-file order, so ranges cannot prune — the bloom
    * answers point predicates instead). Refuses — loudly, BEFORE the build
    * scan — when the manifest would exceed `maxManifestBytes` on the
    * driver; the caller shards registrations or raises the budget, and an
    * unregistered table simply keeps full scans (pruning is an
    * accelerator, never a correctness dependency). */
  def registerBloom(spark: SparkSession, dir: String, col: String,
      maxManifestBytes: Long = DefaultMaxBloomManifestBytes): Route.Bloom = {
    val path = Fingerprint.canon(dir)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val nFiles = fs.listStatus(root)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val need = nFiles.toLong * (BloomLayout.DefaultNumBits / 8)
    require(need <= maxManifestBytes,
      s"bloom manifest for $dir needs $need B ($nFiles files x " +
        s"${BloomLayout.DefaultNumBits / 8} B) > budget $maxManifestBytes B: " +
        "register per partition subdirectory (sharded manifests) or raise the budget")
    Routes.reuseOrAdd[Route.Bloom](spark, path)(_.col == col)(version =>
      Route.Bloom(path, version, col, BloomLayout.buildManifest(spark, dir, col)))
  }

  /** Build the exact per-file partition-id manifest for a
    * PartitionedLayout-written `dir` and enable transparent =/IN pruning on
    * `col` for this session — Pinot's segmentPartitionConfig broker pruning
    * (exact: a value's partition id names its owning files with no false
    * positives; ranges keep the full scan, as on any hash layout). */
  def registerPartitioned(spark: SparkSession, dir: String, col: String,
      nPartitions: Int): Route.Partitions = {
    val path = Fingerprint.canon(dir)
    Routes.reuseOrAdd[Route.Partitions](spark, path)(p => p.col == col && p.nParts == nPartitions)(
      version => Route.Partitions(path, version, col, nPartitions,
        PartitionedLayout.buildManifest(spark, dir, col, nPartitions)))
  }
}

/** The segment-pruning rewrite the session's [[Routes]] rule runs. */
object SegmentPruningRule extends PredicateHelper {

  def apply(plan: LogicalPlan, routes: Routes): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, l: LogicalRelation) =>
      prune(cond, l, routes).map(nl => Filter(cond, nl)).getOrElse(f)
    case f @ Filter(cond, Project(p, l: LogicalRelation))
        if p.forall(_.isInstanceOf[AttributeReference]) =>
      prune(cond, l, routes).map(nl => Filter(cond, Project(p, nl))).getOrElse(f)
    case f @ Project(p, Filter(cond, l: LogicalRelation))
        if p.forall(_.isInstanceOf[AttributeReference]) =>
      prune(cond, l, routes).map(nl => Project(p, Filter(cond, nl))).getOrElse(f)
  }

  private def isCol(x: Expression, c: String) = x match {
    case a: AttributeReference => a.name == c
    case _ => false
  }

  /** Bounds (lo, hi) (None = unbounded) implied by one conjunct on `c`.
    * Strict bounds are safe to relax to inclusive — pruning keeps a
    * superset, the Filter decides exactly. */
  private def boundsOf(e: Expression, c: String): Option[(Option[Any], Option[Any])] = e match {
    case EqualTo(a, Literal(v, _)) if isCol(a, c) => Some((Some(v), Some(v)))
    case EqualTo(Literal(v, _), a) if isCol(a, c) => Some((Some(v), Some(v)))
    case GreaterThan(a, Literal(v, _)) if isCol(a, c) => Some((Some(v), None))
    case GreaterThanOrEqual(a, Literal(v, _)) if isCol(a, c) => Some((Some(v), None))
    case LessThan(a, Literal(v, _)) if isCol(a, c) => Some((None, Some(v)))
    case LessThanOrEqual(a, Literal(v, _)) if isCol(a, c) => Some((None, Some(v)))
    case GreaterThan(Literal(v, _), a) if isCol(a, c) => Some((None, Some(v)))
    case GreaterThanOrEqual(Literal(v, _), a) if isCol(a, c) => Some((None, Some(v)))
    case LessThan(Literal(v, _), a) if isCol(a, c) => Some((Some(v), None))
    case LessThanOrEqual(Literal(v, _), a) if isCol(a, c) => Some((Some(v), None))
    case _ => None
  }

  /** Footer-range decision: the files every conjunct's bound on the sort
    * column admits (filtering by each bound in turn keeps exactly the files
    * the tightest bounds keep). */
  private def footerKeep(m: Route.Footer, cs: Seq[Expression]): Option[Seq[String]] = {
    val bounds = cs.flatMap(boundsOf(_, m.col))
    if (bounds.isEmpty) None
    else Some(bounds.foldLeft(m.ranges) { case (rs, (lo, hi)) =>
      SortedLayout.pruneFiles(rs, lo, hi)
    }.map(_.path))
  }

  private def fromUtf8(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => other
  }

  /** Bloom decision: files whose bitset admits an EqualTo literal on the
    * indexed column. The probe is hashed BY Spark (BloomLayout contract) so
    * it cannot diverge from the build-side hashing. */
  private def bloomKeep(m: Route.Bloom, cs: Seq[Expression],
      session: SparkSession): Option[Seq[String]] = {
    val eq = cs.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, _)) if isCol(a, m.col) => (v, a.dataType)
      case EqualTo(Literal(v, _), a: AttributeReference) if isCol(a, m.col) => (v, a.dataType)
    }
    eq.map { case (v, dt) =>
      // cast to the COLUMN's type: Murmur3 hashes Int 42 and Long 42
      // differently, and a width-mismatched probe would reject every file
      val positions = BloomLayout.hashPositions(session, fromUtf8(v), castTo = Some(dt))
      BloomLayout.pruneFiles(m.blooms, positions).map(_.path)
    }
  }

  /** Partition decision: files owning the partition id(s) of an EqualTo or
    * all-literal IN on the partitioned column — exact (Pinot
    * segmentPartitionConfig pruning). Probes are hashed BY Spark in the
    * column's own type, the PartitionedLayout contract. */
  private def partKeep(m: Route.Partitions, cs: Seq[Expression],
      session: SparkSession): Option[Seq[String]] = {
    val probe = cs.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, _)) if isCol(a, m.col) && v != null =>
        (Seq(fromUtf8(v)), a.dataType)
      case EqualTo(Literal(v, _), a: AttributeReference) if isCol(a, m.col) && v != null =>
        (Seq(fromUtf8(v)), a.dataType)
      case In(a: AttributeReference, list) if isCol(a, m.col) && list.nonEmpty &&
          list.forall { case Literal(v, _) => v != null; case _ => false } =>
        (list.collect { case Literal(v, _) => fromUtf8(v) }, a.dataType)
      // long IN-lists arrive as InSet after OptimizeIn — same decision
      case InSet(a: AttributeReference, hset) if isCol(a, m.col) && hset.nonEmpty &&
          !hset.contains(null) =>
        (hset.toSeq.map(fromUtf8), a.dataType)
    }
    probe.map { case (values, dt) =>
      val pids = PartitionedLayout.pidsOf(session, values, m.nParts, castTo = Some(dt))
      PartitionedLayout.pruneFiles(m.parts, pids).map(_.path)
    }
  }

  private def prune(cond: Expression, l: LogicalRelation,
      routes: Routes): Option[LogicalRelation] = {
    for {
      (fs, path) <- Routes.scanPath(l)
      if fs.partitionSchema.isEmpty
      manifests = routes.live[Route.Manifest](path)
      if manifests.nonEmpty
      session = fs.sparkSession
      cs = splitConjunctivePredicates(cond).filter(_.deterministic)
      // every registered manifest that can decide contributes a keep set;
      // a file survives only if EVERY decision admits it (each decision is
      // individually sound — a superset of matches — so the intersection
      // is too)
      keeps = manifests.flatMap {
        case m: Route.Footer => footerKeep(m, cs)
        case m: Route.Bloom => bloomKeep(m, cs, session)
        case m: Route.Partitions => partKeep(m, cs, session)
      }
      if keeps.nonEmpty
      // manifests spell file paths differently (footer listings say
      // file:/…, input_file_name says file:///…) — intersect on the URI
      // path component, keep the first manifest's spelling
      spelling = keeps.head
        .map(p => new Path(p).toUri.getPath -> p).toMap
      common = keeps
        .map(_.map(p => new Path(p).toUri.getPath).toSet)
        .reduce(_ & _)
      keep = common.toSeq.sorted.map(spelling)
      if keep.size < manifests.map(_.files).max // only rewrite when pruning wins
    } yield {
      val newLoc = new InMemoryFileIndex(
        session, keep.map(new Path(_)), Map.empty, Some(fs.dataSchema))
      l.copy(relation = fs.copy(location = newLoc)(session))
    }
  }
}
